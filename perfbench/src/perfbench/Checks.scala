package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Row count plus an order-insensitive fingerprint: the sum, as an
  * exact decimal, of `xxhash64` over every column of every row. */
final case class Fingerprint(rows: Long, hash: BigDecimal)

object Checks {

  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.columns.map(n => col("`" + n.replace("`", "``") + "`"))
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    Fingerprint(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Expected query outputs: `name<TAB>rows<TAB>fingerprint` lines;
    * `#` starts a comment. */
  def readExpected(p: Path): Map[String, Fingerprint] =
    Files.readAllLines(p).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, hash) = l.split("\t")
        name -> Fingerprint(rows.toLong, BigDecimal(hash))
      }.toMap

  /** Size and count of the regular files under `dir`; `None` when the
    * directory cannot be walked, never a sentinel. */
  def dirFiles(dir: String): Option[(Long, Int)] =
    try {
      val s = Files.walk(Paths.get(dir))
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith(".")).toList
        Some((files.map(f => Files.size(f)).sum, files.count(_.getFileName.toString.startsWith("part-"))))
      } finally s.close()
    } catch { case _: java.io.IOException => None }

  /** The `part-` files directly under `dir`, sorted by name. */
  def partFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString)
      .filter(_.split('/').last.startsWith("part-")).toList.sorted
    finally s.close()
  }

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}
