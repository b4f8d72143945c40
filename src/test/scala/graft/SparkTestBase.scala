package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; scalatest runs suites sequentially in-process). It is the
  * deployed `GraftSession.local` posture, so the specs check the code path
  * that ships: graft extensions, Kryo and the window-top-k rewrite. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("graft-test", 4, Map(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
