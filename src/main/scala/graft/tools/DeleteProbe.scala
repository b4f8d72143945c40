package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CountMin, HistSketch, Pq, Postings, VectorIndex}

/** Scale probe for the index DELETE lifecycle: at 1× and N× corpus size,
  * delete a FIXED id set from each index family (posting index, IVF-PQ
  * vector index, CMS / histogram sketches) and time the pieces. With
  * |deleted| held constant while the corpus grows N×, the |deleted|-
  * shaped claim is directly measurable:
  *   - `postings_delta`: materialize the pruned df/nd/tt stat frames —
  *     one broadcast anti/semi pass over the tf artifact (no shuffle of
  *     the corpus; the only shuffle is the |deleted-postings|-row df
  *     decrement aggregation), so it may grow with the SCAN but never
  *     superlinearly, and carries no corpus-keyed shuffle.
  *   - `postings_serve_gap` (pruned serve − full serve): the per-query
  *     cost the delete adds at serve time — must stay ~flat.
  *   - `vector_serve_gap`: same contract for the IVF-PQ index (delete =
  *     anti-join tombstones on the narrow code/cell frames).
  *   - `cms_delete` / `hist_delete`: sketch linearity — building the
  *     deleted set's own sketch touches ONLY the deleted rows, and the
  *     subtraction joins sketch-sized frames, so the whole stage must be
  *     flat across corpus scales.
  * Serve times themselves are corpus-shaped queries by nature and are
  * reported for context, not bounded. Evidence lands in PERF_NOTES.md.
  */
object DeleteProbe {
  private val M = 4
  private val SubDim = 16
  private val K = 8

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-delete-probe", 32,
      graft.GraftSession.LongRunIo)
    spark.sparkContext.setLogLevel("ERROR")
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    val base = "/root/testdata/sf0.1"
    val docs0 = spark.read.parquet(s"$base/documents.parquet")
    val emb0 = spark.read.parquet(s"$base/embeddings.parquet")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // BM25 probe queries over terms present in the fixture vocabulary
    val bmQueries = Seq(
      "qa" -> Seq("spark", "join"), "qb" -> Seq("window", "scan"),
      "qc" -> Seq("stream", "hash"))

    case class Row(stage: String, t1: Double, tN: Double) {
      def line: String =
        f"$stage%-22s ${t1}%8.3f ${tN}%8.3f ${tN / math.max(t1, 1e-9)}%6.2f"
    }

    def probe(rep: Int): Map[String, Double] = {
      val tmp = java.nio.file.Files.createTempDirectory("dprobe").toString
      // materialize the replicated corpus to parquet so every stage
      // reads a real table, not an in-memory union lineage
      (0 until rep).map(r =>
          docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
            col("text"), col("source"), col("n_chars")))
        .reduce(_ unionAll _)
        .write.parquet(s"$tmp/documents.parquet")
      (0 until rep).map(r =>
          emb0.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
            col("embedding"), col("label")))
        .reduce(_ unionAll _)
        .write.parquet(s"$tmp/embeddings.parquet")
      val docs = spark.read.parquet(s"$tmp/documents.parquet")
      val out = scala.collection.mutable.Map.empty[String, Double]

      // ---- posting index: build + save the artifact (untimed; the
      // production index already exists when a takedown arrives)
      Postings.save(Postings.forCorpus(docs, "doc_id", "text"), s"$tmp/pix")
      Postings.release()
      val ix = Postings.load(spark, s"$tmp/pix")
      val del = spark.range(500).select(col("id").as("doc_id"))
      out("postings_delta") = timed {
        val pr = Postings.delete(ix, del, "doc_id")
        noop(pr.df); noop(pr.nd); noop(pr.tt)
      }
      out("postings_serve_full") = timed(noop(
        graft.operators.InvertedIndex.bm25TopKFromIndex(ix, bmQueries, 5)))
      out("postings_serve_pruned") = timed(noop(
        graft.operators.InvertedIndex.bm25TopKFromIndex(
          Postings.delete(ix, del, "doc_id"), bmQueries, 5)))

      // ---- IVF-PQ vector index: frozen quantizers, build + save
      // (untimed), delete a fixed 200-id set, serve 5 queries
      val e = spark.read.parquet(s"$tmp/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val coarse = e.filter(col("vec_id") < K)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))
      val sv = Pq.subvectors(e, "vec_id", "v", M, SubDim)
      val cb0 = sv.filter(col("vec_id") < K)
        .select(col("sub"), col("vec_id").as("code"), col("sv").as("cv"))
      val cb1 = Pq.codebookFromStep(Pq.trainStep(sv, cb0), Some(cb0))
        .localCheckpoint()
      VectorIndex.save(
        VectorIndex.build(e, "vec_id", "v", M, SubDim, coarse, cb1),
        s"$tmp/vix")
      val vix = VectorIndex.load(spark, s"$tmp/vix")
      val vdel = spark.range(100, 300).select(col("id").as("vec_id"))
      val vq = e.filter(col("vec_id") < 5)
      out("vector_serve_full") = timed(noop(
        VectorIndex.searchTopK(vix, vq, "vec_id", "v", M, SubDim, 3)))
      out("vector_serve_pruned") = timed(noop(
        VectorIndex.searchTopK(VectorIndex.delete(vix, vdel, "vec_id"),
          vq, "vec_id", "v", M, SubDim, 3)))

      // ---- sketch deletes: full sketches pre-materialized (untimed);
      // the timed region scans ONLY the deleted rows + sketch-sized joins
      def toks(df: DataFrame) =
        df.select(explode(split(col("text"), " ")).as("term"))
      val cmsFull = CountMin.sketch(toks(docs), "term")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cmsFull.count()
      out("cms_delete") = timed {
        noop(CountMin.delete(cmsFull,
          CountMin.sketch(toks(docs.filter(col("doc_id") < 500)), "term")))
      }
      cmsFull.unpersist(blocking = false)
      val micro = docs.select((col("n_chars").cast("long") * 1000000L)
        .as("y"))
      val histFull = HistSketch.sketch(micro, "y")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      histFull.count()
      out("hist_delete") = timed {
        noop(HistSketch.delete(histFull, HistSketch.sketch(
          docs.filter(col("doc_id") < 500)
            .select((col("n_chars").cast("long") * 1000000L).as("y")), "y")))
      }
      histFull.unpersist(blocking = false)
      graft.operators.OperatorCaches.release()
      Postings.release()
      graft.operators.FramePool.release()
      // the replicated corpus + artifacts can be multiple GB per call
      // and /tmp may be RAM-backed — never leak them across the four
      // probe() calls of a run (ADVICE r14)
      graft.operators.Convert.deleteRecursively(java.nio.file.Paths.get(tmp))
      out.toMap
    }

    // warm the JVM/codegen on the small scale, then measure both
    probe(1)
    val t1 = probe(1)
    val tN = probe(replicas)
    println(f"${"stage"}%-22s ${"1x"}%8s ${s"${replicas}x"}%8s  ratio")
    t1.keys.toSeq.sorted.foreach { k =>
      println(Row(k, t1(k), tN(k)).line)
    }
    val gap1 = t1("postings_serve_pruned") - t1("postings_serve_full")
    val gapN = tN("postings_serve_pruned") - tN("postings_serve_full")
    println(f"postings_serve_gap     ${gap1}%8.3f ${gapN}%8.3f")
    val vg1 = t1("vector_serve_pruned") - t1("vector_serve_full")
    val vgN = tN("vector_serve_pruned") - tN("vector_serve_full")
    println(f"vector_serve_gap       ${vg1}%8.3f ${vgN}%8.3f")
    spark.stop()
  }
}
