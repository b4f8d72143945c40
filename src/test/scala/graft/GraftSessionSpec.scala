package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Session bootstrap: the graft surface (SQL functions + custom
  * operators) is present on a GraftSession.local session even when
  * getOrCreate returned a pre-existing session whose builder confs could
  * not apply, and every entry point opens its session through it. */
class GraftSessionSpec extends SparkSpec {

  // local() attaches the window-top-k rewrite; put the shared session's
  // optimizations back as they were, whatever they were
  override def withFixture(test: NoArgTest) = {
    val saved = spark.experimental.extraOptimizations
    try super.withFixture(test)
    finally spark.experimental.extraOptimizations = saved
  }

  test("local() session exposes graft functions and the top-k operator") {
    val s = GraftSession.local("graft-session-spec", 4)
    assert(s.experimental.extraOptimizations
      .contains(graft.plans.WindowTopKRewrite))
    // functions callable from SQL
    val dot = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(dot === 11.0)
    val sh = s.sql("SELECT graft_simhash(array('a','b'), 16)").head().getLong(0)
    assert(sh >= 0L)
    // custom operator plannable
    import s.implicits._
    val df = Seq((1, "a", 2.0), (2, "a", 1.0), (3, "b", 9.0)).toDF("id", "k", "v")
    val top = graft.plans.TopKPerKeyPlans.topKPerKey(
      df, Seq("k"), Seq(desc("v"), col("id")), 1)
      .orderBy("k").select("id").as[Int].collect()
    assert(top.toSeq === Seq(1, 3))
  }

  test("builder carries the cluster posture (Kryo, extensions)") {
    // Spark's own defaults (AQE on, skew join on) prove nothing; these two
    // differ from a vanilla session only when GraftSession built it
    val s = GraftSession.local("graft-session-spec2", 4)
    assert(s eq spark, "getOrCreate must hand back the shared test session")
    assert(s.sparkContext.getConf.get("spark.serializer") ===
      "org.apache.spark.serializer.KryoSerializer")
    assert(s.sparkContext.getConf.get("spark.sql.extensions") ===
      "graft.plans.GraftExtensions")
  }

  test("no source file but GraftSession.scala builds its own SparkSession") {
    val call = Seq("SparkSession", "builder").mkString(".") // not itself a match
    val root = Paths.get("src")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains(call))
        .map(root.relativize(_: Path).toString).toList.sorted
      finally files.close()
    assert(offenders.isEmpty,
      s"open the session through GraftSession instead: ${offenders.mkString(", ")}")
  }
}
