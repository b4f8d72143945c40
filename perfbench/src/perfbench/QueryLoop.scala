package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{FramePool, OperatorCaches, Postings}

/** `queries_cold`: one client in a closed loop over a fixed list of
  * registry queries, in an order the seed shuffles. A query is timed as
  * `fn(spark, sf)` followed by a `noop`-format write of the frame it
  * returns, so the whole result is computed (a `count()` would let
  * Catalyst prune columns, sorts and aggregates away).
  *
  * `FramePool`, `Postings` and `OperatorCaches` are released before every
  * query, so each query pays its own pool builds and then serves from
  * them, as a one-off user does. */
final class QueryLoop(fixtures: String, seed: Long,
                      expected: Map[String, Fingerprint]) extends Workload {

  val order: Seq[String] = new scala.util.Random(seed).shuffle(QueryLoop.List)

  private def fn(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  private def releasePools(): Unit = {
    FramePool.release(); Postings.release(); OperatorCaches.release()
  }

  def setup(spark: SparkSession): Unit = {
    require(QueryLoop.List.forall(SparkEntry.queries.contains),
      "unknown queries: " + QueryLoop.List.filterNot(SparkEntry.queries.contains).mkString(","))
    releasePools()
    // first touch of every fixture table (footers, schemas)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
      .foreach(t => spark.read.parquet(s"$fixtures/$t.parquet").schema)
  }

  /** The check pass: every query once, outside any timed region, with
    * its row count and fingerprint compared to the expected file. */
  def warmup(spark: SparkSession): (Int, Int, Seq[String]) = {
    val findings = order.flatMap { name =>
      releasePools()
      val finding = try {
        val got = Checks.fingerprint(fn(name)(spark, fixtures))
        expected.get(name) match {
          case Some(e) if e == got => None
          case Some(e) => Some(s"$name: rows ${got.rows} fingerprint ${got.hash}, expected rows ${e.rows} fingerprint ${e.hash}")
          case None => Some(s"$name: no expected output recorded")
        }
      } catch { case e: Exception => Some(s"$name: failed: ${e.getMessage}") }
      OperatorCaches.release()
      finding
    }
    (order.size, findings.size, findings)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def poolBuildS: Double = FramePool.buildSeconds.values.sum

  def window(spark: SparkSession, seconds: Double, minRounds: Int, tracer: Option[Tracer]): Window = {
    val ops = ArrayBuffer.empty[(String, Double)]
    val records = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[(Span, Counters)]
    var failed = 0
    var buildS, poolBuild = 0.0
    var tracked = 0L
    var entries = 0
    var peakBytes = 0L
    var pass = 0
    var spent = 0.0 // failed runs count too, so a failing query cannot stall the loop
    do {
      order.foreach { name =>
        releasePools()
        val pool0 = poolBuildS
        var b = 0.0
        var ok = true
        def run(parent: Int): Unit = {
          val t1 = System.nanoTime()
          val df = tracer match {
            case Some(t) => t.span("queries.build", parent)(_ => fn(name)(spark, fixtures))._1
            case None => fn(name)(spark, fixtures)
          }
          b = (System.nanoTime() - t1) / 1e9
          tracer match {
            case Some(t) => t.span("sink.noop", parent)(_ => noop(df))
            case None => noop(df)
          }
        }
        val t1 = System.nanoTime()
        val counters = try {
          tracer match {
            case Some(t) =>
              val (_, sp, d) = t.span("query", -1, Map("query" -> name, "pass" -> pass))(run)
              spans += ((sp, d)); Some(d)
            case None => run(-1); None
          }
        } catch { case _: Exception => ok = false; None }
        val sec = (System.nanoTime() - t1) / 1e9
        spent += sec
        val built = poolBuildS - pool0
        val held = Main.cachedBytes(spark)
        peakBytes = math.max(peakBytes, held)
        entries = math.max(entries, FramePool.pooledCount)
        tracked += OperatorCaches.trackedCount
        OperatorCaches.release()
        // the traced run also times count() beside the noop write, so the
        // noop/count ratio per query can be read from the artifact
        val countS = tracer.filter(_ => ok).map { t =>
          t.span("probe.count", -1)(_ => {
            val c0 = System.nanoTime(); fn(name)(spark, fixtures).count()
            (System.nanoTime() - c0) / 1e9
          })._1
        }
        if (tracer.isDefined) OperatorCaches.release()
        if (ok) ops += name -> sec else failed += 1
        buildS += b; poolBuild += built
        records += (ListMap[String, Any]("query" -> name, "pass" -> pass,
          "ok" -> ok, "total_s" -> sec, "build_s" -> b, "noop_s" -> (sec - b),
          "count_s" -> countS, "pool_build_s" -> built, "cached_bytes" -> held) ++
          counters.map(c => ListMap("exchanges" -> c.exchanges,
            "analysis_s" -> c.analysisS, "optimization_s" -> c.optimizationS,
            "planning_s" -> c.planningS, "input_bytes" -> c.inputBytes,
            "cpu_s" -> c.cpuS, "tasks" -> c.tasks)).getOrElse(Map.empty))
      }
      pass += 1
    } while (spent < seconds || pass < minRounds)
    val rounds = pass.toDouble
    Window(
      ops = ops.toSeq, attempted = pass * order.size,
      failed = failed, named = Map("query_s" -> ops.map(_._2).toSeq),
      cachedPeakMb = peakBytes / 1e6, spans = spans.toSeq,
      layers = ListMap(
        "queries.build_s" -> buildS / rounds,
        "pool.build_s" -> poolBuild / rounds,
        "pool.entries" -> entries.toDouble,
        "caches.tracked" -> tracked.toDouble / rounds,
        "pool.cached_bytes" -> peakBytes.toDouble),
      records = records.toSeq,
      findings = if (failed > 0) Seq(s"$failed query run(s) threw") else Nil)
  }

  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = Map.empty

  def inputs: Map[String, Any] = ListMap("seed" -> seed, "fixtures" -> "sf0.01",
    "query_order" -> order)

  def cleanup(): Unit = releasePools()
}

object QueryLoop {

  /** Twelve registry queries, cut from the 59 behind the ROADMAP's open
    * items so that the check pass plus several timed passes fit one run
    * (a pass is about 8 s on 4 cores):
    *  - where `count()` hid most of the work (ROADMAP item 1's noop/count
    *    table): q01, q12, q68;
    *  - open slow cells: q208, q239, q110, q102;
    *  - pooled families: q261 and q264 (`FramePool`), q138 (`Postings`),
    *    q37 (the LSH pool) and q155 (the containment pool). */
  val List: Seq[String] = Seq(
    "q01_scan_sort", "q12_agg_pricing_summary", "q68_gopher_quality",
    "q208_grouped_mad", "q239_prefix_filter_join", "q110_editdist_maxdist2",
    "q102_equidepth_histogram", "q261_heaps_law", "q264_cluster_medoid",
    "q138_bm25", "q37_dup_clusters", "q155_containment_pairs")
}
