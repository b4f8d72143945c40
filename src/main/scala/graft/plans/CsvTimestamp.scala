package graft.plans

import java.time.{Instant, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Static fast formatter for `yyyy-MM-dd HH:mm:ss.SSSSSS` — the pinned
  * CSV timestamp format ([[graft.operators.Convert.TimestampFormat]]).
  *
  * Why it exists: the timestamp column is the single most expensive field
  * in the parquet→CSV hot path (k2) — Spark's univocity writer routes
  * every value through a `DateTimeFormatter` with per-field temporal
  * queries and a `StringBuilder`, measured at ~43% of the whole
  * conversion (PERF_NOTES.md round 12). This formatter does the
  * same conversion with pure integer arithmetic (Hinnant's
  * civil-from-days calendar algorithm) straight into a 26-byte buffer —
  * no temporal objects, no builder, one allocation per value.
  *
  * Exactness contract: byte-identical to `DateTimeFormatter.ofPattern(
  * "yyyy-MM-dd HH:mm:ss.SSSSSS")` at the session zone for every year in
  * [1, 9999] (CsvTimestampSpec proves it across zones, leap rules, DST
  * transitions, and the epoch sign change); years outside that range
  * (where `yyyy` = year-of-era needs era handling) fall back to the real
  * `DateTimeFormatter`. Zone offsets are resolved per-instant through the
  * zone rules, so DST-observing session zones format correctly. */
object FastTimestampFormat {

  private val MicrosPerSecond = 1000000L

  /** The exact pattern twin, used for the out-of-range fallback and as
    * the reference in tests. */
  def reference(zone: ZoneId): DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS", Locale.US)
      .withZone(zone)

  /** TIMESTAMP_NTZ variant: the micros already encode the wall-clock
    * local datetime, so no zone adjustment applies. */
  def formatNtz(micros: Long): UTF8String = formatLocal(
    Math.floorDiv(micros, MicrosPerSecond),
    Math.floorMod(micros, MicrosPerSecond).toInt, 0, ZoneOffset.UTC)

  def format(micros: Long, zone: ZoneId): UTF8String = {
    val secs = Math.floorDiv(micros, MicrosPerSecond)
    val frac = Math.floorMod(micros, MicrosPerSecond).toInt
    val offsetSecs = zone match {
      case o: ZoneOffset => o.getTotalSeconds
      case _ => zone.getRules.getOffset(Instant.ofEpochSecond(secs))
        .getTotalSeconds
    }
    formatLocal(secs, frac, offsetSecs, zone)
  }

  private def formatLocal(secs: Long, frac: Int,
                          offsetSecs: Int, zone: ZoneId): UTF8String = {
    val local = secs + offsetSecs
    val days = Math.floorDiv(local, 86400L)
    val sod = Math.floorMod(local, 86400L).toInt
    // Hinnant civil-from-days: exact Gregorian y/m/d from the day count
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400L + (if (m <= 2) 1 else 0)
    if (y < 1L || y > 9999L)
      return UTF8String.fromString(
        reference(zone).format(Instant.ofEpochSecond(secs, frac * 1000L)))
    val yi = y.toInt
    val h = sod / 3600
    val mi = (sod / 60) % 60
    val s = sod % 60
    val b = new Array[Byte](26)
    b(0) = ('0' + yi / 1000).toByte
    b(1) = ('0' + (yi / 100) % 10).toByte
    b(2) = ('0' + (yi / 10) % 10).toByte
    b(3) = ('0' + yi % 10).toByte
    b(4) = '-'
    b(5) = ('0' + m / 10).toByte
    b(6) = ('0' + m % 10).toByte
    b(7) = '-'
    b(8) = ('0' + d / 10).toByte
    b(9) = ('0' + d % 10).toByte
    b(10) = ' '
    b(11) = ('0' + h / 10).toByte
    b(12) = ('0' + h % 10).toByte
    b(13) = ':'
    b(14) = ('0' + mi / 10).toByte
    b(15) = ('0' + mi % 10).toByte
    b(16) = ':'
    b(17) = ('0' + s / 10).toByte
    b(18) = ('0' + s % 10).toByte
    b(19) = '.'
    b(20) = ('0' + frac / 100000).toByte
    b(21) = ('0' + (frac / 10000) % 10).toByte
    b(22) = ('0' + (frac / 1000) % 10).toByte
    b(23) = ('0' + (frac / 100) % 10).toByte
    b(24) = ('0' + (frac / 10) % 10).toByte
    b(25) = ('0' + frac % 10).toByte
    UTF8String.fromBytes(b)
  }
}

/** Codegen'd `timestamp → 'yyyy-MM-dd HH:mm:ss.SSSSSS' string` at the
  * session zone — the CSV sink's serialization fast path (see
  * [[FastTimestampFormat]] for the why and the exactness contract).
  * Registered as `graft_csv_ts`; [[graft.operators.Convert]] rewrites
  * timestamp columns through it before the univocity writer, which then
  * emits the pre-rendered strings verbatim (timestamp strings never
  * contain separators or quotes, so the CSV bytes are unchanged).
  * Null in → null out → the sink's `nullValue`, exactly as before. */
case class CsvTimestampExpr(child: Expression,
                            timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case TimestampType | TimestampNTZType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_csv_ts requires TIMESTAMP or TIMESTAMP_NTZ, got ${other.sql}")
    }

  override def dataType: DataType = StringType

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "graft_csv_ts"

  /** TIMESTAMP_NTZ carries a wall-clock datetime — no zone math. */
  private def isNtz: Boolean = child.dataType == TimestampNTZType

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  override def nullSafeEval(t: Any): Any =
    if (isNtz) FastTimestampFormat.formatNtz(t.asInstanceOf[Long])
    else FastTimestampFormat.format(t.asInstanceOf[Long], zoneId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isNtz)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.FastTimestampFormat.formatNtz($c)")
    else {
      val zoneRef = ctx.addReferenceObj("graftCsvTsZone", zoneId,
        classOf[ZoneId].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.FastTimestampFormat.format($c, $zoneRef)")
    }

  override protected def withNewChildInternal(newChild: Expression)
      : CsvTimestampExpr = copy(child = newChild)
}
