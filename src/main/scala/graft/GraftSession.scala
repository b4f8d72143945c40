package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session bootstrap for running the graft engine — the
  * defaults a 1000-executor deployment wants, gathered in one place so
  * `spark-submit` users and embedded callers start from the same
  * posture. Everything here is a DEFAULT (`.config` before `getOrCreate`
  * loses to explicit submit-time conf), and the graft extensions
  * (functions + custom operators + optional rewrites) come along.
  */
object GraftSession {

  /** Recommended cluster configuration:
    *  - AQE on with coalescing AND skew-join splitting — runtime
    *    re-planning replaces hand-tuned shuffle partition counts at
    *    scale, and skewed join partitions split instead of strangling a
    *    task (the salted-agg operator covers the aggregation side);
    *  - shuffle partitions sized for the cluster, not the 200 default
    *    (callers pass cores; AQE coalesces down from there);
    *  - 128 MiB file partitions (the parquet row-group sweet spot) and
    *    vectorized reads;
    *  - extensions: graft_dot / graft_shingle_hashes / graft_simhash /
    *    graft_minhash in SQL + the TopKPerKey strategy and window-top-k
    *    rewrite.
    */
  def builder(appName: String, defaultParallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (defaultParallelism * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  /** I/O posture for long single-host runs (Bench, Verify and the timing
    * tools) on a disk whose throughput swings between 10 and 130 MB/s:
    *  - shuffle and spill files go to a RAM-backed dir when one exists,
    *    so a bad disk window does not turn into shuffle time. Conversion
    *    OUTPUTS still go to the real filesystem, so the conversion numbers
    *    keep paying true output I/O: the local analog of NVMe shuffle
    *    volumes on a cluster;
    *  - generous network timeout and heartbeat interval: I/O-stalled
    *    tasks otherwise starve the heartbeat thread past the 120 s default
    *    and local-mode Spark kills itself (exit 56).
    * Pass these to [[local]]; they are not part of the default posture. */
  val LongRunIo: Map[String, String] = Map(
    "spark.local.dir" ->
      (if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_spark"
       else System.getProperty("java.io.tmpdir")),
    "spark.network.timeout" -> "1800s",
    "spark.executor.heartbeatInterval" -> "60s")

  /** Local development/test session with the same engine posture at
    * `local[n]` scale; `confs` are applied last (e.g. [[LongRunIo]]). */
  def local(appName: String, cores: Int,
            confs: Map[String, String] = Map.empty): SparkSession = {
    val spark = builder(appName, cores)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config(confs)
      .getOrCreate()
    // getOrCreate may return a pre-existing session whose builder confs
    // (incl. extensions) did NOT apply — make the FULL graft surface
    // (functions, strategy, AND the window-top-k rewrite the builder
    // advertises) present either way, so fresh and reused sessions plan
    // identically.
    graft.plans.GraftFunctions.ensureRegistered(spark)
    graft.plans.TopKPerKeyPlans.ensureRewrite(spark) // includes the strategy
    spark
  }
}
