package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's main. Usage:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --fixtures DIR --work DIR --expected FILE --artifact FILE
  *
  * It sets up `SetupRepeats` times (session start plus input generation,
  * reported as the median), runs the untimed warm-up with its output
  * checks, then measures one untraced window. With `--trace 1` a traced
  * window of one round and the per-layer probes follow (one round, so
  * that a traced run stays within its time limit on a slow host); the
  * traced run reports the per-layer metrics, and the difference between
  * its two windows is the tracing overhead. The last stdout line is the
  * result object; the full record (inputs, per-operation records, spans)
  * goes to `--artifact`. Exits 3 when any output check failed. */
object Main {

  val SetupRepeats = 3

  /** Every end-to-end metric, (name, unit). Each workload reports all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_s" -> "s", "op_geomean_s" -> "s")

  /** Every per-layer metric, (name, unit); a layer the workload does not
    * exercise reads 0. Per-round values: a round is one export plus one
    * import, or one pass over the query list. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.parquet_scan_s" -> "s", "sources.csv_scan_s" -> "s",
    "sources.input_bytes" -> "bytes", "plans.csv_ts_s" -> "s",
    "convert.export_s" -> "s", "convert.import_s" -> "s",
    "convert.csv_encode_s" -> "s", "convert.parquet_encode_s" -> "s",
    "convert.output_bytes" -> "bytes", "convert.output_files" -> "count",
    "convert.bytes_per_input_byte" -> "ratio", "sink.disk_s" -> "s",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.gc_s" -> "s",
    "exec.tasks" -> "count", "exec.stages" -> "count",
    "exec.cpu_util" -> "ratio", "exec.busy_frac" -> "ratio",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "spill.bytes" -> "bytes", "queries.build_s" -> "s",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s",
    "driver.planning_s" -> "s", "plan.exchanges" -> "count",
    "pool.build_s" -> "s", "pool.entries" -> "count",
    "caches.tracked" -> "count", "pool.cached_bytes" -> "bytes")

  /** Storage memory plus disk held by persisted frames. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val fixtures = arg(args, "--fixtures")
    val work = arg(args, "--work")
    val artifact = arg(args, "--artifact")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    lazy val expected = Checks.readExpected(Paths.get(arg(args, "--expected")))
    val w: Workload = workload match {
      case "convert_10m" => new ConvertLoop(fixtures, work, seed, copies = 170)
      case "queries_cold" => new QueryLoop(fixtures, seed, expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { _ =>
      val s0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.local("perfbench", cores)
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(spark)
      (System.nanoTime() - s0) / 1e9
    }
    val phase = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phased[T](name: String)(body: => T): T = {
      val p0 = System.nanoTime()
      try body finally phase(name) = (System.nanoTime() - p0) / 1e9
    }
    phase("setup") = setups.sum
    val (checked, checkFailed, checkFindings) = phased("warmup")(w.warmup(spark))
    val plain = phased("window")(w.window(spark, seconds, Workload.MinRounds, None))

    val tracedPart = if (!trace) None else {
      val tracer = new Tracer(spark, s"$workload-$seed", t0)
      tracer.start()
      val tw = phased("traced_window") {
        try w.window(spark, 0, 1, Some(tracer)) finally tracer.stop()
      }
      tracer.start()
      val probes = phased("probes")(w.probes(spark, tracer))
      phased("trace_stop")(tracer.stop())
      Some((tracer, tw, probes))
    }
    w.cleanup()
    spark.stop()

    def e2e(win: Window): ListMap[String, Double] = ListMap(
      "setup_s" -> Stats.median(setups),
      "round_s" -> win.roundS,
      "op_geomean_s" -> win.geomeanS)
    val endToEnd = e2e(plain)

    val layers: Option[ListMap[String, Double]] = tracedPart.map { case (tracer, tw, probes) =>
      val top = tw.spans.filter(_._1.parent == -1)
      val total = top.map(_._2).foldLeft(Counters())(_ + _)
      val wallS = top.map { case (s, _) => s.endMs - s.startMs }.sum / 1e3
      val busyS = top.map { case (s, _) => tracer.busyMs(s) }.sum / 1e3
      val r = tw.rounds
      val measured = ListMap[String, Double](
        "sources.input_bytes" -> total.inputBytes / r,
        "exec.cpu_s" -> total.cpuS / r, "exec.run_s" -> total.runS / r,
        "exec.gc_s" -> total.gcS / r, "exec.tasks" -> total.tasks / r,
        "exec.stages" -> total.stages / r,
        "exec.cpu_util" -> total.cpuS / (wallS * cores),
        "exec.busy_frac" -> busyS / wallS,
        "shuffle.read_bytes" -> total.shuffleRead / r,
        "shuffle.write_bytes" -> total.shuffleWrite / r,
        "spill.bytes" -> total.spill / r,
        "driver.analysis_s" -> total.analysisS / r,
        "driver.optimization_s" -> total.optimizationS / r,
        "driver.planning_s" -> total.planningS / r,
        "plan.exchanges" -> total.exchanges / r) ++ tw.layers ++ probes
      ListMap(PerLayer.map { case (n, _) => n -> measured.getOrElse(n, 0.0) }: _*)
    }
    val overhead = tracedPart.map { case (_, tw, _) =>
      val t = e2e(tw)
      ListMap(endToEnd.keys.filter(_ != "setup_s").toSeq.map(k => k -> (t(k) - endToEnd(k))): _*)
    }

    val windows = plain +: tracedPart.map(_._2).toSeq
    val attempted = checked + windows.map(_.attempted).sum
    val failed = checkFailed + windows.map(_.failed).sum
    val findings = checkFindings ++ windows.flatMap(_.findings)
    val correct = failed == 0

    // every series by name, with its unit and sample count
    val perKind = ListMap("n" -> plain.ops.size, "n_per_kind" -> plain.rounds)
    val named = ListMap[String, (Any, String)](
      "setup_s" -> (Stats.summary(setups).json, "s"),
      "round_s" -> (ListMap("value" -> endToEnd("round_s")) ++ perKind, "s"),
      "op_geomean_s" -> (ListMap("value" -> endToEnd("op_geomean_s")) ++ perKind, "s")) ++
      plain.named.map { case (k, v) => k -> (Stats.summary(v).json, "s") } ++ ListMap(
        "op_medians_s" -> (ListMap(plain.medians.toSeq.sortBy(_._1): _*), "s"),
        "ops_per_s" -> (plain.ops.size / plain.ops.map(_._2).sum, "1/s"),
        "cached_peak_mb" -> (plain.cachedPeakMb, "MB"),
        "error_rate" -> (failed.toDouble / attempted, "ratio"))
    val record = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "inputs" -> w.inputs,
      "setup_samples_s" -> setups, "phase_s" -> phase, "end_to_end" -> endToEnd,
      "named" -> named.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "per_layer" -> layers, "trace_overhead" -> overhead,
      "attempted" -> attempted, "failed" -> failed, "findings" -> findings,
      "records" -> plain.records,
      "traced_records" -> tracedPart.map(_._2.records),
      "spans" -> tracedPart.map(_._1.spans.map(_.json)))
    Files.createDirectories(Paths.get(artifact).getParent)
    Files.write(Paths.get(artifact), Json(record).getBytes("UTF-8"))

    // human-readable lines first; the result object is the last line
    named.foreach { case (k, (v, u)) => println(s"perfbench $workload $k [$u] ${Json(v)}") }
    overhead.foreach(o => println(s"perfbench $workload trace_overhead ${Json(o)}"))
    findings.foreach(f => println(s"perfbench $workload FINDING $f"))
    println(s"perfbench $workload artifact $artifact")
    val units = (if (trace) PerLayer else EndToEnd).toMap
    val metrics = layers.getOrElse(endToEnd)
    println(Json(ListMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ListMap(metrics.toSeq.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units(k)) }: _*))))
    System.out.flush()
    if (!correct) sys.exit(3)
  }
}
