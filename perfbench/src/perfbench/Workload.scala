package perfbench

import org.apache.spark.sql.SparkSession

/** What one measured window produced. `ops` are the timed operations in
  * the order they ran, as (kind, seconds): the kinds are `export` and
  * `import`, or the query names. `named` holds the workload's own
  * series for the printed summary (export and import seconds, or all
  * query seconds). In the traced window, `spans` are the timed spans
  * with the counters each caused, and `layers` the workload's own
  * per-layer values, per round. */
final case class Window(
    ops: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    named: Map[String, Seq[Double]],
    cachedPeakMb: Double,
    spans: Seq[(Span, Counters)],
    layers: Map[String, Double],
    records: Seq[Map[String, Any]],
    findings: Seq[String]) {

  /** Median seconds of each kind of operation. */
  def medians: Map[String, Double] =
    ops.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }

  /** Seconds for one round: one operation of each kind, each at its
    * median. */
  def roundS: Double = medians.values.sum

  /** Typical operation latency: the geometric mean of the per-kind
    * medians. Unlike their median it does not jump when two kinds of
    * similar speed swap ranks. */
  def geomeanS: Double = {
    val m = medians.values
    math.exp(m.map(math.log).sum / m.size)
  }

  /** Rounds the window ran: operations per kind. */
  def rounds: Double = ops.size.toDouble / ops.map(_._1).distinct.size
}

/** One benchmark workload. The session comes from the caller; every
  * method runs in it. Inputs come from the seed given at construction. */
trait Workload {
  /** Generates the inputs and touches them once; timed as set-up. */
  def setup(spark: SparkSession): Unit
  /** Untimed runs that let lazy set-up and JIT finish; output checks for
    * the query workloads happen here. Returns (attempted, failed,
    * findings). */
  def warmup(spark: SparkSession): (Int, Int, Seq[String])
  /** Timed operations in whole rounds (an export plus an import, or a
    * pass over the query list) until their timed seconds reach
    * `seconds`, and at least `minRounds` rounds. Whole rounds keep every
    * kind at the same sample count, so the seed's order cannot decide
    * which kinds get an extra sample. */
  def window(spark: SparkSession, seconds: Double, minRounds: Int, tracer: Option[Tracer]): Window
  /** Per-layer probes that only the traced run makes. */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double]
  /** The generated inputs, recorded in the artifact. */
  def inputs: Map[String, Any]
  /** Removes the workload's bulk outputs. */
  def cleanup(): Unit
}

object Workload {
  /** Fewest rounds the untraced window runs, so that each kind's median
    * has at least three samples and one slow sample cannot move it. */
  val MinRounds = 3
}
