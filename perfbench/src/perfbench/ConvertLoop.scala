package perfbench

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, call_function, col, lit, pmod}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.operators.Convert
import graft.sources.Scan

/** `convert_10m`: the paper's headline conversion at the paper's scale.
  * One round exports a 10.2 M-row lineitem replica to CSV
  * (`Convert.parquetToCsv`) and imports that CSV back to parquet
  * (`Scan.csvWithSchema` then `Convert.toParquet`); the re-imported rows
  * must fingerprint like the replica.
  *
  * The replica is the fixture lineitem repeated `copies` times. Row `i`
  * of the replica is fixture row `(a * i + b) mod n` with `a` coprime to
  * `n`, so every fixture row appears exactly `copies` times and the seed
  * (through `a` and `b`) sets the row order. It is written with Spark's
  * own parquet writer so that the program under test never shapes its
  * own input. */
final class ConvertLoop(fixtures: String, work: String, seed: Long,
                        copies: Int) extends Workload {

  private val WarmupRounds = 1
  private val replica = s"$work/replica"
  private val csvOut = s"$work/export_csv"
  private val pqOut = s"$work/import_parquet"
  private val diskOut = s"$work/export_disk"
  private var schema: StructType = _
  private var expected: Fingerprint = _
  private var fixtureRows = 0L
  private var replicaBytes: Option[Long] = None
  private var mult = 1L
  private var offset = 0L

  def setup(spark: SparkSession): Unit = {
    val li = spark.read.parquet(s"$fixtures/lineitem.parquet")
    val indexed = spark.createDataFrame(
      li.rdd.zipWithIndex().map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      li.schema.add("__k", "long"))
    val fixtureFp = Checks.fingerprint(li)
    fixtureRows = fixtureFp.rows
    val rnd = new scala.util.Random(seed)
    mult = Iterator.continually(1L + rnd.nextInt(fixtureRows.toInt - 1))
      .find(a => BigInt(a).gcd(BigInt(fixtureRows)) == 1).get
    offset = rnd.nextInt(fixtureRows.toInt).toLong
    val n = fixtureRows * copies
    val parts = 8
    spark.range(0L, n, 1L, parts)
      .select(pmod(col("id") * lit(mult) + lit(offset), lit(fixtureRows)).as("__k"))
      .join(broadcast(indexed), "__k").drop("__k")
      .write.mode("overwrite").option("compression", "snappy").parquet(replica)
    schema = spark.read.parquet(replica).schema
    replicaBytes = Checks.dirFiles(replica).map(_._1)
    // every fixture row appears exactly `copies` times
    expected = Fingerprint(n, fixtureFp.hash * copies)
  }

  private def exportOnce(spark: SparkSession, out: String, from: String = replica): Unit =
    Convert.parquetToCsv(spark, from, out)

  private def importOnce(spark: SparkSession): Unit =
    Convert.toParquet(Scan.csvWithSchema(spark, schema, csvOut), pqOut)

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def timed(tracer: Option[Tracer], spans: ArrayBuffer[(Span, Counters)],
                    name: String)(body: => Unit): Double = tracer match {
    case None => time(body)
    case Some(t) =>
      val (s, sp, d) = t.span(name, -1)(_ => time(body))
      spans += ((sp, d)); s
  }

  /** Whether the re-imported rows fingerprint as `want`; removes both
    * outputs. Untimed. */
  private def check(spark: SparkSession, want: Fingerprint): Boolean = {
    val got = Checks.fingerprint(spark.read.parquet(pqOut))
    Checks.deleteRecursively(csvOut)
    Checks.deleteRecursively(pqOut)
    got == want
  }

  /** An untimed round on the replica itself, checked like a timed one.
    * Rounds keep getting faster over the first rounds of full volume,
    * well past what rounds of the 60 000-row fixture warm. */
  def warmup(spark: SparkSession): (Int, Int, Seq[String]) = {
    val bad = (1 to WarmupRounds).count { _ =>
      exportOnce(spark, csvOut); importOnce(spark); !check(spark, expected)
    }
    (WarmupRounds, bad, if (bad == 0) Nil else Seq(s"$bad warm-up round(s): re-imported parquet does not match the replica"))
  }

  def window(spark: SparkSession, seconds: Double, minRounds: Int, tracer: Option[Tracer]): Window = {
    val ops = ArrayBuffer.empty[(String, Double)]
    val spans = ArrayBuffer.empty[(Span, Counters)]
    var failed = 0
    do {
      ops += "export" -> timed(tracer, spans, "convert.export")(exportOnce(spark, csvOut))
      ops += "import" -> timed(tracer, spans, "convert.import")(importOnce(spark))
      if (!check(spark, expected)) failed += 1
    } while (ops.map(_._2).sum < seconds || ops.size / 2 < minRounds)
    val exports = ops.filter(_._1 == "export").map(_._2).toSeq
    val imports = ops.filter(_._1 == "import").map(_._2).toSeq
    Window(
      ops = ops.toSeq, attempted = ops.size / 2, failed = failed,
      named = ListMap("export_s" -> exports, "import_s" -> imports),
      cachedPeakMb = Main.cachedBytes(spark) / 1e6,
      spans = spans.toSeq,
      layers = ListMap(
        "convert.export_s" -> Stats.median(exports),
        "convert.import_s" -> Stats.median(imports)),
      records = ops.map { case (k, v) => ListMap[String, Any]("op" -> k, "s" -> v) }.toSeq,
      findings = if (failed > 0) Seq(s"$failed round(s): re-imported parquet does not match the replica") else Nil)
  }

  /** Megabytes per second of a 32 MB write forced to the device. */
  private def writeProbeMbps(): Option[Double] =
    try {
      val f = Paths.get(s"$work/io_probe.bin")
      val buf = java.nio.ByteBuffer.allocate(8 << 20)
      val t0 = System.nanoTime()
      val ch = FileChannel.open(f, StandardOpenOption.CREATE,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      try { (1 to 4).foreach { _ => buf.rewind(); ch.write(buf) }; ch.force(false) }
      finally ch.close()
      val sec = (System.nanoTime() - t0) / 1e9
      Files.deleteIfExists(f)
      Some(32.0 / sec)
    } catch { case _: java.io.IOException => None }

  private def forceAll(dir: String): Unit = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val ch = FileChannel.open(f, StandardOpenOption.WRITE)
      try ch.force(false) finally ch.close()
    } finally s.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    def probe(name: String)(body: => Unit): Double =
      tracer.span(name, -1)(_ => time(body))._1
    val parquetScan = probe("sources.parquet_scan")(noop(Scan.parquet(spark, replica)))
    val tsCols = schema.fields.filter(f => f.dataType == TimestampType || f.dataType == TimestampNTZType).map(_.name)
    val csvTs = probe("plans.csv_ts")(noop(Scan.parquet(spark, replica)
      .select(tsCols.toIndexedSeq.map(c => call_function("graft_csv_ts", col(c)).as(c)): _*)))
    val export = probe("convert.export")(exportOnce(spark, csvOut))
    val (csvBytes, csvFiles) = Checks.dirFiles(csvOut).getOrElse((0L, 0))
    val csvScan = probe("sources.csv_scan")(noop(Scan.csvWithSchema(spark, schema, csvOut)))
    val imp = probe("convert.import")(importOnce(spark))
    Checks.deleteRecursively(csvOut)
    Checks.deleteRecursively(pqOut)
    val before = tracer.span("sink.write_probe", -1)(_ => writeProbeMbps())._1
    // one of the replica's files, so that a slow device cannot push the
    // run past its time limit
    val part = Checks.partFiles(replica).head
    val disk = tracer.span("sink.disk", -1) { _ =>
      time { exportOnce(spark, diskOut, part); forceAll(diskOut) }
    }._1
    val after = tracer.span("sink.write_probe", -1)(_ => writeProbeMbps())._1
    tracer.span("cleanup", -1)(_ => Checks.deleteRecursively(diskOut))
    probeNotes = ListMap("disk_probe_mbps_before" -> before,
      "disk_probe_mbps_after" -> after, "disk_export_of" -> part.split('/').last)
    ListMap(
      "sources.parquet_scan_s" -> parquetScan,
      "sources.csv_scan_s" -> csvScan,
      "plans.csv_ts_s" -> csvTs,
      "convert.csv_encode_s" -> (export - parquetScan),
      "convert.parquet_encode_s" -> (imp - csvScan),
      "convert.output_bytes" -> csvBytes.toDouble,
      "convert.output_files" -> csvFiles.toDouble,
      "convert.bytes_per_input_byte" -> replicaBytes.map(csvBytes.toDouble / _).getOrElse(Double.NaN),
      "sink.disk_s" -> disk)
  }

  var probeNotes: Map[String, Any] = Map.empty

  def inputs: Map[String, Any] = ListMap(
    "seed" -> seed, "fixture_rows" -> fixtureRows, "copies" -> copies,
    "replica_rows" -> fixtureRows * copies,
    "replica_bytes" -> replicaBytes,
    "row_order" -> s"row i = fixture row ($mult * i + $offset) mod $fixtureRows",
    "replica_fingerprint" -> Option(expected).map(_.hash)) ++ probeNotes

  def cleanup(): Unit = Seq(replica, csvOut, pqOut, diskOut).foreach(Checks.deleteRecursively)
}
