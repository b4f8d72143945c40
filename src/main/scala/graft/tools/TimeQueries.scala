package graft.tools

// Ad-hoc timing probe: time named registry queries (args) on
// SPARK_GRAFT_SF_DIR with the Bench session shape — min of two warm runs,
// OperatorCaches released between runs. Builder-side iteration aid only.

object TimeQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = graft.GraftSession.local("graft-time-queries", cpus.toInt,
      graft.GraftSession.LongRunIo)
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.entry(spark).count() // warm-up
    val qs = graft.SparkEntry.queries
    args.foreach { name =>
      val fn = qs(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        graft.operators.OperatorCaches.release()
        (System.nanoTime() - t0) / 1e9
      }
      val (a, b) = (once(), once())
      println(f"TIME $name%-32s min=${math.min(a, b)}%.2f s (runs $a%.2f / $b%.2f)")
    }
    graft.operators.Postings.release()
    graft.operators.FramePool.release()
    spark.stop()
  }
}
