package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality over an edge table — the source-quality
  * weighting step of a web-corpus curation pipeline (CommonCrawl-style
  * pipelines rank hosts by link centrality and weight document sampling by
  * the score; the reference has no graph surface, so this is pure
  * BASELINE.json extension work).
  *
  * Exactness contract (what makes PageRank hash-checkable): all arithmetic
  * is integer fixed-point on a caller-chosen `scale` grid. Every node starts
  * at `scale`; one iteration is
  *
  *   pr'(v) = base + (dampNum * Σ_{u→v} (pr(u) DIV deg(u))) DIV 100
  *   base   = ((100 − dampNum) * scale) DIV 100
  *
  * with BIGINT floor division everywhere — bit-identical on any engine and
  * any partitioning (float PageRank never hash-matches: the contribution
  * sum's order is partition-dependent). Dangling mass is NOT redistributed
  * (nodes without out-edges absorb rank — the standard matrix-free
  * simplification; the oracle does the same).
  *
  * Scale shape: `edgesWithDeg` (src, dst, deg) is computed once, hash-
  * repartitioned by src, and persisted — per iteration only the rank frame
  * moves: one shuffle keyed by src for the rank⋈edges join, one keyed by
  * dst for the contribution aggregation (map-side combined). Each
  * iteration's result is localCheckpoint'ed to truncate lineage (the same
  * discipline as [[Dedup.dupClusters]]; use reliable checkpoint() on a real
  * cluster). The driver never sees a row. Long arithmetic holds while
  * nodes·scale·dampNum < 2^63 — at web scale (1e9 hosts) drop `scale` to
  * 1e6 or switch the sum column to DECIMAL(38,0).
  */
object Graphs {

  /** Shuffle-partition count sized to the DATA for the small persisted
    * frames an iterative loop re-scans every round: ceil(rows/rowsPer)
    * clamped to [1, spark.sql.shuffle.partitions]. The r16 scaling block
    * measured every iterative graph cell FASTER on 8 cores than 32 —
    * with partitions pinned to the core count, each of the loop's
    * per-iteration jobs launches cores-many tasks over a graph that fits
    * in one, and task-launch overhead, not parallelism, dominates. Sizing
    * by rows is scale-adaptive: a bench-scale graph collapses to 1–2
    * partitions, a cluster-scale graph hits the clamp and keeps the
    * session's configured parallelism unchanged. */
  private def sizedParts(edges: DataFrame,
                         bytesPerPartition: Long = 64L << 20): Int = {
    // plan-statistics sizing, not a count(): the centrality queries feed
    // POOLED (cached, materialized) edge frames whose InMemoryRelation
    // stats are accurate, and an uncached input's inflated join estimate
    // simply hits the clamp — i.e. today's behavior, cores-many
    // partitions. No extra job either way.
    val bytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    val conf = edges.sparkSession.sessionState.conf.numShufflePartitions
    if (bytes < 0) conf
    else ((bytes + bytesPerPartition - 1) / bytesPerPartition)
      .min(BigInt(conf)).max(BigInt(1)).toInt
  }

  /** Degree-annotated, src-partitioned, persisted edge frame. `parts`
    * (from [[sizedParts]]) keeps the loop's per-iteration map stages at
    * data-sized task counts. */
  private[graft] def edgesWithDeg(edges: DataFrame, parts: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    OperatorCaches.persistTracked(
      edges.join(deg, "src").repartition(parts, col("src")))
  }

  /** Fixed-iteration integer PageRank. `edges` must carry string/long
    * columns `src`, `dst` (self-loops allowed, duplicates NOT — dedupe
    * upstream; each (src,dst) row contributes once). Returns (node, pr).
    *
    * The input frame is persisted before fan-out (an already-persisted
    * one is used as it is): `deg`, the degree join, and both `nodes`
    * union branches all read it, and an expensive edge DERIVATION (q137's orders⋈lineitem + distinct) would otherwise be
    * recomputed once per consumer. Lineage is truncated only every
    * `checkpointEvery` iterations — each iteration adds a bounded two
    * joins to the plan, so short runs never pay a checkpoint's eager
    * materialization, while long runs keep analysis time flat. */
  def pageRank(edges: DataFrame, iterations: Int,
               dampNum: Long = 85L, scale: Long = 1000000000L,
               checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum in [0,100], got $dampNum")
    require(checkpointEvery >= 1, s"checkpointEvery >= 1, got $checkpointEvery")
    val e = OperatorCaches.persistUnlessCached(edges)
    val parts = sizedParts(edges)
    val ed = edgesWithDeg(e, parts)
    val nodes = OperatorCaches.persistTracked(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    val base = ((100L - dampNum) * scale) / 100L
    var pr = nodes.withColumn("pr", lit(scale))
    for (i <- 1 to iterations) {
      pr = iterate(nodes, ed, pr, lit(base), dampNum)
      // truncate lineage periodically, never on the final iteration (the
      // caller's own materialization is the last action anyway)
      if (i % checkpointEvery == 0 && i < iterations)
        pr = pr.localCheckpoint()
    }
    pr
  }

  /** PERSONALIZED (topic-sensitive) PageRank: the teleport mass lands
    * only on the `isPreferred` node set instead of uniformly — the
    * standard seed-biased centrality used to rank a graph "from the
    * perspective of" a trusted seed set (quality-seeded source weighting).
    * Same integer fixed-point contract as [[pageRank]]; the per-node base
    * for a preferred node conserves total teleport mass:
    *
    *   base_p = ((100 − dampNum) · scale · N) DIV (100 · |P|),  else 0
    *
    * computed driver-side from two bounded counts and joined as a column.
    * Long arithmetic needs (100−d)·scale·N < 2^63 — at web scale drop
    * `scale`, exactly as the uniform variant documents. */
  def personalizedPageRank(edges: DataFrame,
                           isPreferred: org.apache.spark.sql.Column,
                           iterations: Int, dampNum: Long = 85L,
                           scale: Long = 1000000000L,
                           checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum in [0,100], got $dampNum")
    require(checkpointEvery >= 1, s"checkpointEvery >= 1, got $checkpointEvery")
    val e = OperatorCaches.persistUnlessCached(edges)
    val parts = sizedParts(edges)
    val ed = edgesWithDeg(e, parts)
    val nodes = OperatorCaches.persistTracked(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    // both bounded counts in ONE driver action
    val cnts = nodes.agg(count(lit(1)).as("nn"),
      count(when(isPreferred, lit(1))).as("np")).head()
    val (nN, nP) = (cnts.getLong(0), cnts.getLong(1))
    require(nP > 0, "personalizedPageRank: the preferred set is empty")
    // multiplyExact: (100−d)·scale·nN silently wraps negative past
    // ~6.1e8 nodes at the default scale, poisoning every rank with no
    // error — overflow must surface loudly ("drop scale at web scale",
    // as the docstring directs, is the fix; this is the enforcement).
    val basePer =
      try Math.multiplyExact(Math.multiplyExact(100L - dampNum, scale), nN) /
        (100L * nP)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"personalizedPageRank: (100-$dampNum) * scale=$scale * nodes=$nN " +
            "overflows Long — reduce `scale` (the fixed-point grid) for " +
            "this graph size")
      }
    val nodesB = OperatorCaches.persistTracked(
      nodes.withColumn("base",
        when(isPreferred, lit(basePer)).otherwise(lit(0L))))
    var pr = nodesB.select(col("node"), lit(scale).as("pr"))
    for (i <- 1 to iterations) {
      pr = iterate(nodesB, ed, pr, col("base"), dampNum)
      if (i % checkpointEvery == 0 && i < iterations)
        pr = pr.localCheckpoint()
    }
    pr
  }

  /** One PageRank step, pre-checkpoint — separated so plan tests can
    * assert the iteration's physical shape (localCheckpoint truncates the
    * returned frame's plan to an RDD scan). `base` is a Column so the
    * uniform variant passes a literal and the personalized variant its
    * per-node base column — ONE copy of the iteration arithmetic. */
  private[graft] def iterate(nodes: DataFrame, ed: DataFrame, pr: DataFrame,
                             base: org.apache.spark.sql.Column,
                             dampNum: Long): DataFrame = {
    val contrib = ed
      .join(pr, ed("src") === pr("node"))
      .groupBy(col("dst"))
      .agg(sum(expr("pr DIV deg")).as("s"))
    nodes
      .join(contrib, nodes("node") === contrib("dst"), "left")
      .select(nodes("node"),
        (base + expr(s"($dampNum * coalesce(s, 0L)) DIV 100")).as("pr"))
  }

  /** WEIGHTED PageRank: each out-edge carries a positive integer weight
    * `w` and a node's rank splits proportionally —
    *
    *   pr'(v) = base + (dampNum * Σ_{u→v} ((pr(u) * w(u,v)) DIV sw(u))) DIV 100
    *
    * with sw(u) = Σ out-weights of u, floor division PER EDGE (the
    * documented quantization, exactly [[pageRank]]'s per-edge `pr DIV
    * deg` generalized: the unweighted form IS this with w ≡ 1). The
    * natural use is link multiplicity or interaction volume as edge
    * strength — a supplier serving a customer 50 times should pull more
    * of that customer's rank than a one-order supplier, which uniform
    * PageRank cannot express. Same integer contract, same per-iteration
    * shuffle shape (one join keyed by src, one aggregation keyed by
    * dst), same lineage discipline. 64-bit bound: pr·w_max < 2^63 —
    * rank concentrates at most total mass ≈ nodes·scale on one node, so
    * nodes·scale·w_max must stay under 2^63 (drop `scale` or pre-scale
    * weights down at web scale; the overflow surfaces as ANSI error /
    * null, never a silent wrap into a plausible ranking, because the
    * oracle's BIGINT is overflow-checked and the engine's sums here
    * feed a final equality-checked artifact). */
  def weightedPageRank(edges: DataFrame, iterations: Int,
                       dampNum: Long = 85L, scale: Long = 1000000000L,
                       checkpointEvery: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum in [0,100], got $dampNum")
    require(checkpointEvery >= 1, s"checkpointEvery >= 1, got $checkpointEvery")
    val e = OperatorCaches.persistUnlessCached(edges)
    val parts = sizedParts(edges)
    val sw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val ed = OperatorCaches.persistTracked(
      e.join(sw, "src").repartition(parts, col("src")))
    val nodes = OperatorCaches.persistTracked(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    val base = ((100L - dampNum) * scale) / 100L
    var pr = nodes.withColumn("pr", lit(scale))
    for (i <- 1 to iterations) {
      val contrib = ed
        .join(pr, ed("src") === pr("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("(pr * w) DIV sw")).as("s"))
      pr = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(nodes("node"),
          (lit(base) + expr(s"($dampNum * coalesce(s, 0L)) DIV 100")).as("pr"))
      if (i % checkpointEvery == 0 && i < iterations)
        pr = pr.localCheckpoint()
    }
    pr
  }

  /** Fixed-iteration integer HITS (Kleinberg's hubs & authorities) over
    * a directed edge list (`src` = hub side, `dst` = authority side;
    * duplicates must be deduped upstream — each (src,dst) row
    * contributes once). The classic mutual-reinforcement centrality for
    * BIPARTITE curation graphs (consumers×assets, sources×spans):
    * authority(d) = Σ hub(s) over in-edges, hub(s) = Σ authority(d)
    * over out-edges, each half L1-NORMALIZED back onto the `scale`
    * fixed-point grid — a(d) = raw(d)·scale DIV Σraw — instead of the
    * textbook L2 norm, because the L1 form stays in exact integer
    * arithmetic (no sqrt) and induces the same ranking: normalization
    * only rescales. Trajectory is bit-reproducible in any engine: raw
    * sums ride DECIMAL(38,0)/HUGEINT (a long sum would wrap silently
    * past ~9.2e9 edges·scale), the DIV is trunc-toward-zero in both
    * engines, and scores re-enter each round bounded by `scale` so
    * nothing compounds. Returns (side ∈ auth|hub, node, score) after
    * `iterations` full auth→hub rounds.
    *
    * Scale shape: per iteration exactly two edge-keyed joins + two
    * keyed aggregations (the pageRank iterate shape) + two one-row
    * total broadcasts; state is one score row per node. */
  def hits(edges: DataFrame, iterations: Int,
           scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = OperatorCaches.persistUnlessCached(edges)
    var h = e.select(col("src")).distinct().withColumn("h", lit(scale))
    var a: DataFrame = null
    // normalization totals cross the DRIVER as one-row aggregates (the
    // Bpe argmax convention) and re-enter as literals: the crossJoin-
    // broadcast formulation nests a BroadcastExchange per half-round
    // inside every downstream plan, and each one re-plans and re-fires
    // eagerly — measured 6× this form's wall clock on the same graph.
    // The agg action that fetches a total is also what materializes the
    // persisted raw frame the next join reads. L1 guarantee: every raw
    // sum is positive (scores enter ≥ trunc-positive grids, every hub
    // has ≥ 1 out-edge), so tot > 0.
    for (_ <- 1 to iterations) {
      val araw = OperatorCaches.persistTracked(
        e.join(h, "src")
          .groupBy(col("dst"))
          .agg(sum(expr("CAST(h AS DECIMAL(38,0))")).as("raw")))
      val atot = araw.agg(sum(col("raw"))).head.getDecimal(0)
      a = OperatorCaches.persistTracked(
        araw.select(col("dst"),
          expr(s"CAST(raw * $scale DIV CAST('$atot' AS DECIMAL(38,0)) " +
            "AS BIGINT)").as("a")))
      val hraw = OperatorCaches.persistTracked(
        e.join(a, "dst")
          .groupBy(col("src"))
          .agg(sum(expr("CAST(a AS DECIMAL(38,0))")).as("raw")))
      val htot = hraw.agg(sum(col("raw"))).head.getDecimal(0)
      h = OperatorCaches.persistTracked(
        hraw.select(col("src"),
          expr(s"CAST(raw * $scale DIV CAST('$htot' AS DECIMAL(38,0)) " +
            "AS BIGINT)").as("h")))
    }
    a.select(lit("auth").as("side"), col("dst").as("node"),
        col("a").as("score"))
      .unionByName(h.select(lit("hub").as("side"), col("src").as("node"),
        col("h").as("score")))
  }

  /** Per-source within/cross edge incidences from a source-labeled edge
    * list (s_a, s_b): (source, within_edges, cross_edges), exact longs.
    * A within edge counts once for its source; a cross edge counts once
    * for EACH endpoint source (so Σ cross_edges = 2 · #cross edges).
    * Sources with no incidences don't appear. The counters are plain
    * sums, so partials over any partition of the edge stream merge to
    * the full counts — the property the streaming monitor rides. */
  def sourceEdgeCounts(es: DataFrame): DataFrame = {
    val within = es.filter(col("s_a") === col("s_b"))
      .groupBy(col("s_a").as("source"))
      .agg(count(lit(1)).as("within_edges"))
    val crossE = es.filter(col("s_a") =!= col("s_b"))
      .select(explode(array(col("s_a"), col("s_b"))).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("cross_edges"))
    within.join(crossE, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("within_edges"), lit(0L)).as("within_edges"),
        coalesce(col("cross_edges"), lit(0L)).as("cross_edges"))
  }

  /** Newman per-community modularity report from [[sourceEdgeCounts]]
    * counters: per source, e_s/m vs the degree-expected (d_s/2m)² and
    * their difference. m = Σ within + (Σ cross)/2 — the incidence sum
    * counts each cross edge twice, so the (always-even) halved sum is
    * the exact total edge count; the one-row total crosses back as a
    * broadcast singleton and every double is assembled per-row from
    * exact longs by one literal expression tree. */
  def modularityReport(perSource: DataFrame): DataFrame = {
    val tot = perSource.agg(
      (sum(col("within_edges"))
        + shiftright(sum(col("cross_edges")), 1)).as("m"))
    val halfDeg = col("deg_sum").cast("double") / (lit(2.0d) * col("m"))
    perSource
      .crossJoin(broadcast(tot))
      .withColumn("deg_sum",
        lit(2L) * col("within_edges") + col("cross_edges"))
      .withColumn("within_frac",
        col("within_edges").cast("double") / col("m"))
      .withColumn("expected_frac", halfDeg * halfDeg)
      .select(col("source"), col("within_edges"), col("cross_edges"),
        col("deg_sum"), col("within_frac"), col("expected_frac"),
        (col("within_frac") - col("expected_frac")).as("modularity_delta"))
      .orderBy("source")
  }

  /** Semi-supervised LABEL PROPAGATION over an undirected adjacency
    * (Zhu & Ghahramani): a small trusted-labeled seed set spreads its
    * scores to unlabeled neighbors by synchronous neighbor averaging,
    * seeds CLAMPED every round — how a curation pipeline extends a
    * few thousand human quality audits across the near-dup/similarity
    * graph without labeling 100 TB. Fixed `iterations` rounds of
    * integer fixed-point (scores in millionths; the neighbor average
    * is an exact `sum DIV count`, bit-identical in DuckDB — q238
    * hash-gates the whole report against 6 unrolled oracle rounds).
    *
    * Scale shape: the state is the GRAPH-NODE frame (≤ 2·|pairs|
    * rows, bounded by the LSH bucket caps), never the corpus — docs
    * outside any pair can never change, so the caller joins the
    * static prior back at report time. Each round is 2 shuffles
    * (score join + dst aggregation), the [[pageRank]] economics.
    *
    * `adj` is the both-directions edge frame (u, v); `seeds` carries
    * (id, is_seed, sv) for every node id in `adj`. Returns (u, sc). */
  def labelPropagation(adj: DataFrame, seeds: DataFrame,
                       prior: Long, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50] (got $iterations)")
    // left join + in-plan assert: a seeds frame missing a graph node
    // would otherwise silently drop the node and corrupt every nearby
    // neighbor average (the HistSketch loud-precondition idiom)
    val nodes = OperatorCaches.persistTracked(
      adj.select(col("u")).distinct()
        .join(seeds.select(col("id").as("u"), col("is_seed"), col("sv")),
          Seq("u"), "left")
        .filter(isnull(assert_true(col("is_seed").isNotNull,
          lit("labelPropagation: seeds must carry every node id that " +
            "appears in adj — found an adjacency node with no seed row")))))
    val a = OperatorCaches.persistTracked(adj.select(col("u"), col("v")))
    var sc = nodes.select(col("u"),
      when(col("is_seed"), col("sv")).otherwise(lit(prior)).as("sc"))
    (1 to iterations).foreach { _ =>
      val nb = a.join(sc.select(col("u").as("v"), col("sc")), Seq("v"))
        .groupBy(col("u"))
        .agg(expr("sum(sc) DIV count(1)").as("nbavg"))
      sc = OperatorCaches.persistTracked(
        nodes.join(nb, Seq("u"))
          .select(col("u"),
            when(col("is_seed"), col("sv")).otherwise(col("nbavg"))
              .as("sc")))
      // no per-round action: the caller's single action runs the whole
      // unrolled DAG as one job (each round is a shuffle boundary, and
      // the persists fill as its stages complete) — measured 6.2 s →
      // one fused job at sf0.1
    }
    sc
  }

  /** Default cap on per-center wedge fan-out for [[cappedWedgePairs]] —
    * the adjacency-side twin of [[Dedup.DefaultMaxBucketSize]]. */
  val DefaultMaxNeighbors: Int = 64

  /** Common-neighbor wedge pairs (x < y, count of shared centers) from
    * a weighted undirected adjacency `adj(u, v, support)` — the
    * candidate generator behind link prediction (q223). The wedge
    * self-join's work is Σ_u deg(u)², which is UNBOUNDED under hub
    * skew (one degree-10⁵ center in a skewed co-purchase graph is
    * 10¹⁰ wedges), so each center's fan-out is CAPPED at the
    * `maxNeighbors` strongest neighbors — ORDER BY support DESC, v ASC,
    * the deterministic tiebreak — before the join, bounding every
    * center's contribution at C(C−1)/2 wedges. This is
    * [[Dedup.lshPairs]]'s bounded-bucket discipline on the adjacency
    * axis; unlike the LSH bucket DROP, capping keeps the strongest
    * evidence, so hub-adjacent predictions degrade gracefully instead
    * of vanishing. The cap is NOT silent: it is part of the declared
    * (and oracle-mirrored) semantics, GraphsSpec pins the bound on a
    * planted hub, and on every fixture scale the observed max degree
    * (51 at sf0.001, 6 at sf0.1) is under the default cap, so capped
    * ≡ uncapped there. The rank window partitions by center — per-key
    * state, never a global window. */
  def cappedWedgePairs(adj: DataFrame,
                       maxNeighbors: Int = DefaultMaxNeighbors): DataFrame = {
    require(maxNeighbors >= 2,
      s"maxNeighbors must allow at least one wedge (got $maxNeighbors)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(desc("support"), asc("v"))
    val capped = OperatorCaches.persistTracked(
      adj.withColumn("__r", row_number().over(w))
        .filter(col("__r") <= maxNeighbors)
        .select(col("u"), col("v")))
    capped.as("e1")
      .join(capped.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("x"), col("e2.v").as("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"))
  }
}
