package graft.tools

import org.apache.spark.sql.functions._

/** Empirical scaling probe: time representative corpus operators at sf0.1
  * (5k docs) and on a 10× replicated copy (50k docs), and report the
  * wall-clock ratio. Near-linear ratios are the evidence that the
  * operator SHAPES scale — the complement to plan inspection (no
  * all-pairs join shows up as a ~10× ratio; an accidental quadratic
  * shows up as ~100×).
  *
  * Replicas are exact copies with shifted doc_ids, so the dedup queries
  * also stress GROWING DUPLICATE CLUSTERS (every doc gains 9 twins):
  * their candidate pair counts grow ~45× by design (10 choose 2 per
  * group), which is the expected-linear-in-output behavior, not a shape
  * defect. The probe writes the replicated fixture to a temp dir and
  * runs the REGISTERED queries unmodified against it. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-scale-probe", 32,
      graft.GraftSession.LongRunIo)
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/root/testdata/sf0.1"
    val big = java.nio.file.Files.createTempDirectory("scale10").toString
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    // optional second arg: comma-separated query filter (higher replica
    // counts pair badly with the pair-generating queries, whose output
    // grows quadratically in the twin count by construction)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").map(_.trim).toSet) else None
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until replicas).map(r =>
        docs.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/documents.parquet")
    // events replicate on shifted (event_id, user_id): 10× the users,
    // same per-user density — the growth axis a real event stream has
    val events = spark.read.parquet(s"$base/events.parquet")
    (0 until replicas).map(r =>
        events.select((col("event_id") + lit(r * 100000000L)).as("event_id"),
          col("ts"), (col("user_id") + lit(r * 10000000L)).as("user_id"),
          col("event_type"), col("value"), col("props")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/events.parquet")
    // lineitem replicates on shifted (orderkey, partkey, suppkey): N
    // disjoint basket universes — corpus growth at CONSTANT basket
    // density and N× the group/node count, the axis a growing business
    // actually has (more orders AND a larger catalog). Keeping the keys
    // co-shifted preserves every within-order/within-supplier structure
    // the basket (q223/q226) and grouped-rank (q208) queries measure.
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until replicas).map(r =>
        li.select((col("l_orderkey") + lit(r * 1000000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(r * 100000000L)).as("l_partkey"),
          (col("l_suppkey") + lit(r * 100000000L)).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/lineitem.parquet")
    // orders co-shift with lineitem's orderkey universes (and custkey
    // with its own), so order⋈lineitem joins keep per-order structure —
    // the q249 HITS bipartite graph grows to N disjoint purchase
    // universes, the more-customers-AND-more-catalog axis
    // customer replicates on shifted custkey — N× the members of every
    // (nation, segment) quasi-identifier group at constant group
    // structure, the governance-audit growth axis (q275)
    val cust = spark.read.parquet(s"$base/customer.parquet")
    (0 until replicas).map(r =>
        cust.select((col("c_custkey") + lit(r * 100000000L)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/customer.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    (0 until replicas).map(r =>
        ord.select((col("o_orderkey") + lit(r * 1000000000L)).as("o_orderkey"),
          (col("o_custkey") + lit(r * 100000000L)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/orders.parquet")
    // embeddings replicate on shifted vec_id: vec_id 0 (q251's query
    // vector) keeps exactly one row — replica vectors are identical
    // twins, so candidate ties break purely by id, deterministic
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until replicas).map(r =>
        emb.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
          col("embedding"), col("label")))
      .reduce(_ unionAll _)
      .write.parquet(s"$big/embeddings.parquet")

    val names = Seq("q30_dedup_exact", "q32_minhash_lsh_pairs",
      "q101_vocab_coverage", "q117_unigram_lm", "q138_bm25",
      "q146_line_dedup_global", "q149_dsir_weights",
      "q152_contamination_frac", "q153_winsorize_quality",
      "q13_events_hourly", "q14_sessionize", "q47_interval_join",
      "q98_sliding_window", "q108_rank_suite",
      // round-8-continuation additions: containment (q155) and label
      // spread (q161) are pair-generating — on the twin-replica fixture
      // q155's DIRECTED output grows ~90× per duplicate group (10·9
      // ordered pairs; undirected q32/q161 grow ~45×) — the others are
      // vocabulary-/posting-shaped and should track ~1–2×
      "q155_containment_pairs", "q156_phrase_search",
      "q158_pmi_collocations", "q159_bigram_lm", "q160_token_drift",
      "q161_label_spread",
      // closing additions: novelty is span-posting-shaped; the card
      // composes it; LOCF/retention are event-family; triangles grow with
      // clique volume (twin replicas inflate cliques by construction)
      "q162_source_novelty", "q167_dataset_card", "q170_locf_impute",
      "q171_cohort_retention", "q172_dup_triangles",
      // round-9 additions: the percolation sweep (1 full CC + contracted
      // increments), posting compression (vocabulary-shaped), motifs
      // (session-keyed), the rank ensemble (range-partition ranks), and
      // the artifact-served BM25 (index build + scan)
      "q173_dedup_threshold_sweep", "q177_bm25_serve_artifact",
      "q178_posting_compression", "q180_event_motifs",
      "q181_quality_rank_ensemble",
      // post-close round-9 additions: loops/funnel/RM3 are corpus-linear;
      // KMV overlap is posting-shaped; percentiles/transitions are
      // event-family keyed windows
      "q183_repetition_loops", "q187_source_kmv_overlap",
      "q190_curation_funnel", "q191_rm3_expansion",
      "q195_interarrival_percentiles", "q200_event_transitions",
      // round-10 additions: artifact serve is a parquet scan of
      // pair/member-sized frames (plus the memoized one-time build);
      // append pays one bipartite pairing + a contracted CC
      "q203_dupgraph_serve_artifact", "q204_dupgraph_append",
      // RFM is one user-keyed aggregate + 3 constant-group rank
      // selections; modularity rides the pooled pair stream (pair mass
      // grows with twin-clique volume, like every pair consumer)
      "q205_rfm_segments", "q206_dupgraph_source_modularity",
      // round-10 additions: local clustering rides the pooled pair
      // stream (wedge work bounded by the degree orientation); kcore is
      // 8 bounded peel rounds, each two semi-joins on a shrinking frame.
      // q208-q210 are lineitem/customer-family (not in this fixture) —
      // keyed aggregates + grouped rank selections, probed by the q45/
      // q153 shapes they share
      "q207_local_clustering", "q211_kcore_peel",
      // round-10 statistics/sketch additions: bloom is a constant-size
      // bit frame + vocabulary-keyed probe join; AUC runs on the
      // distinct-score axis; chi2 is vocabulary-shaped; OLS is one
      // 5-accumulator keyed aggregate
      "q219_bloom_membership", "q220_auc_dup_detection",
      "q221_chi2_tokens", "q222_ols_value_trend",
      // lineitem-family heavies (round-11: lineitem now replicates):
      // grouped MAD's rank machinery sees N× the supplier groups at
      // constant group size; link prediction and Apriori see N disjoint
      // basket universes — pair/wedge mass grows linearly in replicas
      "q208_grouped_mad", "q223_link_prediction", "q226_frequent_triples",
      // hist sketch: bin frame bounded by range/W; KS: every frame
      // after the first aggregation is |axis|·|sources|-sized
      "q224_hist_quantile_sketch", "q225_ks_drift",
      // attribution is a user-keyed pairing (views·purchases within a
      // user) + a 24-row rollup
      "q227_multitouch_attribution",
      // backtest: one user-keyed lead pass + |types|²-model join;
      // q233 is embeddings-family (not in this fixture) — every frame
      // after its posexplode is labels·dim-sized
      "q232_markov_backtest",
      // three map-side-combined bucket aggregations into ≤32-row frames
      "q234_shard_balance",
      // calibration deciles ride the distributed rank axis (q176 shape)
      "q235_calibration_deciles",
      // round-11 additions: priority sample is one top-(k+1) + k-row
      // downstream; label prop iterates on the pair-node frame; the
      // prefix join's work is Σ prefix·posting (twin replicas inflate
      // posting mass like every pair consumer); rendezvous is a
      // |docs|×17 broadcast cross; greedy cover is 5 anti-join rounds
      // against a vocabulary-sized covered set
      "q237_priority_sample_ht", "q238_label_propagation",
      "q239_prefix_filter_join", "q240_rendezvous_sharding",
      "q241_greedy_source_cover", "q242_token_waterfill",
      "q243_refinery_composite", "q244_mixture_design",
      // round-13 additions: HITS is 2 joins + 2 aggs per iteration on
      // the (orders⋈lineitem)-distinct edge frame; packing/spearman are
      // one-pass document aggregates (+ distinct-axis ranks); novelty
      // rides the shingle postings (twin replicas collapse novelty mass
      // but the shuffle shape is the same); anisotropy's one corpus
      // pass feeds a d²-row scatter frame, iteration corpus-free; MMR's
      // candidate generation is one broadcast join over the corpus
      "q249_hits", "q252_packing_audit",
      "q253_spearman_length_confound", "q254_novelty_saturation",
      "q250_embedding_anisotropy", "q251_mmr_rerank",
      // ABTT removal adds one map-side projection pass over the
      // component frame to the anisotropy trajectory; JL projection is
      // that same pass against a broadcast d·k sign matrix; silhouette
      // fans each component row out |labels| ways map-side. The JL
      // audits (q257/q259) run their all-pairs on the FIXED-SIZE
      // md5-rank sample (hashTopK K=256, round 14 — previously
      // fixed-RATE, which grew the pair set quadratically with the
      // corpus: the round-13 probe measured 3.8×/6.0×), so their pair
      // work is O(K²) constant and the probe ratio must stay ~1×
      // + the linear sample-selection scan
      "q255_abtt_removal", "q256_jl_projection", "q258_silhouette",
      "q257_jl_distortion", "q259_jl_neardup_recall",
      // LSH recall audit: fixed-size sample (hashTopK K=1000) like the
      // JL audits — pair work O(K²) constant, probe ratio must be ~1×
      "q150_lsh_recall",
      // round-14 additions: epoch scheduling is one token count into a
      // |sources|-row spine; code census + markup strip are one
      // codegen'd map pass + a keyed aggregate; embedding drift is two
      // (label,pos)-keyed aggregates — all must track ~linear
      "q271_epoch_schedule", "q272_code_prose", "q273_markup_strip",
      "q274_embedding_drift",
      // l-diversity is two keyed aggregates over the (now replicated)
      // customer axis; MRR rides the pooled posting frames + one
      // term-keyed relevance join — both must track ~linear
      "q275_l_diversity", "q276_retrieval_mrr",
      // lateness census rides the range-partitioned running max
      // (events-family keyed spine) — must track ~linear
      "q277_lateness_profile",
      // round-15 training additions: both ride the pooled id-sized
      // feature frame — one map-side aggregation per GD round (q278),
      // plus 4 holdout scoring passes with |distinct z| windows (q279)
      "q278_logit_training", "q279_logit_holdout_auc",
      // round-16 addition: the refinery acceptance chain — q243's
      // posting-join shapes plus a per-row scoring projection and the
      // |distinct z| threshold derivation; twin replicas inflate the
      // containment pair mass like every dedup consumer
      "q280_refinery_quality_gate",
      // κ and the card inherit the centroid fan-out (corpus-linear);
      // Heaps is two span-keyed aggregates; the source cap is one
      // source-keyed window; the medoid affinity join is keyed
      // (cluster, shingle) — twin replicas inflate cluster volume like
      // every dedup pair consumer, so expect pair-shaped growth there
      "q260_label_kappa", "q261_heaps_law", "q262_source_cap",
      "q263_embedding_card", "q264_cluster_medoid",
      // the real media codecs are pure per-partition map work (encode +
      // decode per asset, no shuffle beyond the sort) — must be ~linear
      "q265_png_decode", "q266_wav_decode",
      "q267_image_grid_features", "q268_image_resize", "q269_media_card",
      "q270_audio_energy")
    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      fn(spark, dir).write.mode("overwrite")
        .format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      graft.operators.OperatorCaches.release()
      s
    }
    println(f"${"query"}%-26s ${"sf0.1"}%8s ${s"x$replicas"}%8s ratio")
    names.filter(n => only.forall(_.contains(n))).foreach { n =>
      // warm then measure at each scale; pools released between scales so
      // the big run cannot reuse the small corpus's frames
      val s1 = { time(n, base); time(n, base) }
      graft.operators.Postings.release(); graft.operators.FramePool.release()
      val s2 = { time(n, big); time(n, big) }
      graft.operators.Postings.release(); graft.operators.FramePool.release()
      println(f"$n%-26s $s1%8.2f $s2%8.2f ${s2 / s1}%5.1f")
    }
    spark.stop()
  }
}
