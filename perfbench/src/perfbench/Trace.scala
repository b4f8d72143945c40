package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative executor and driver counters, summed from Spark's own
  * listener events. Snapshots of it bracket each span; their difference
  * is what the span caused. */
final case class Counters(
    cpuS: Double = 0, runS: Double = 0, gcS: Double = 0, tasks: Long = 0,
    stages: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, analysisS: Double = 0, optimizationS: Double = 0,
    planningS: Double = 0, exchanges: Long = 0, inputBytes: Long = 0,
    queries: Long = 0) {
  def -(o: Counters): Counters = Counters(cpuS - o.cpuS, runS - o.runS,
    gcS - o.gcS, tasks - o.tasks, stages - o.stages,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, analysisS - o.analysisS,
    optimizationS - o.optimizationS, planningS - o.planningS,
    exchanges - o.exchanges, inputBytes - o.inputBytes, queries - o.queries)
  def +(o: Counters): Counters = Counters(cpuS + o.cpuS, runS + o.runS,
    gcS + o.gcS, tasks + o.tasks, stages + o.stages,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, analysisS + o.analysisS,
    optimizationS + o.optimizationS, planningS + o.planningS,
    exchanges + o.exchanges, inputBytes + o.inputBytes, queries + o.queries)
}

/** One traced interval: a name, its start and end in milliseconds since
  * the run started, the span that caused it (-1 for none) and the run it
  * belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def json: Map[String, Any] = scala.collection.immutable.ListMap(
    "id" -> id, "name" -> name, "parent" -> parent, "run" -> run,
    "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** The traced run's recorder: a `SparkListener` for task and stage
  * metrics, a `QueryExecutionListener` for planning phases, executed
  * exchanges and scanned file bytes, and an in-memory span list written
  * out when the run ends. Registered only for the traced window, so the
  * untraced window pays nothing for it. */
final class Tracer(spark: SparkSession, val run: String, t0Nanos: Long) {
  private var c = Counters()
  /** Task run intervals (epoch ms), for the share of wall time in which
    * at least one task was running. */
  private val intervals = ArrayBuffer.empty[(Long, Long)]
  val spans = ArrayBuffer.empty[Span]

  private val tasks = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        c = c.copy(cpuS = c.cpuS + m.executorCpuTime / 1e9,
          runS = c.runS + m.executorRunTime / 1e3,
          gcS = c.gcS + m.jvmGCTime / 1e3, tasks = c.tasks + 1,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { c = c.copy(stages = c.stages + 1) }
  }

  private val phases = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def sec(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val plan = qe.executedPlan
      val ex = Tracer.exchanges(plan).toLong
      val bytes = Tracer.scannedFileBytes(plan)
      Tracer.this.synchronized {
        c = c.copy(analysisS = c.analysisS + sec("analysis"),
          optimizationS = c.optimizationS + sec("optimization"),
          planningS = c.planningS + sec("planning"),
          exchanges = c.exchanges + ex, inputBytes = c.inputBytes + bytes,
          queries = c.queries + 1)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
  }

  def stop(): Unit = {
    snapshot()
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  private val epochOffsetMs = System.currentTimeMillis() - nowMs

  /** Milliseconds of `s` in which at least one task was running. */
  def busyMs(s: Span): Double =
    busyMs((s.startMs + epochOffsetMs).toLong, (s.endMs + epochOffsetMs).toLong).toDouble

  /** Milliseconds between epoch times `from` and `to` in which at least
    * one task was running. */
  def busyMs(from: Long, to: Long): Long = {
    val iv = synchronized(intervals.toList)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  /** Records a span around `body`, which receives the span's id for its
    * children; returns the body's value, the span, and the counters it
    * caused. */
  def span[T](name: String, parent: Int, attrs: => Map[String, Any] = Map.empty)(
      body: Int => T): (T, Span, Counters) = {
    val id = ids.incrementAndGet()
    val before = snapshot()
    val s = nowMs
    val v = body(id)
    val e = nowMs
    val delta = snapshot() - before
    val sp = Span(id, name, parent, run, s, e, attrs)
    synchronized(spans += sp)
    (v, sp, delta)
  }
}

object Tracer {

  /** Every physical node of an executed plan, descending into adaptive
    * query stages and subqueries. A reused exchange is a leaf: the
    * shuffle it points at ran once, where it was first planned. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Shuffle exchanges that ran for this plan (reused ones count 0). */
  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  /** Bytes of the files behind every file scan in the plan, from file
    * sizes (the vectorized parquet reader reports no bytes read). */
  def scannedFileBytes(p: SparkPlan): Long = nodes(p).collect {
    case s: FileSourceScanExec => s.relation.location.sizeInBytes
  }.sum
}
