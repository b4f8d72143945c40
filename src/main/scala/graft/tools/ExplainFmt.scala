package graft.tools

// Dump `.explain("formatted")` output for named registry queries into
// files — the optimization-round evidence trail (plans/r16/<q>_<tag>.txt).
// Usage: runMain graft.tools.ExplainFmt <outDir> <tag> <q1> <q2> ...
// Runs at sf0.001 on a GraftSession.local session so plans are
// deterministic and cheap; FramePool stays warm across the listed names
// (bench-loop order sensitivity — list a family in bench order to see
// the pooled-consumer plan shape).

object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val spark = graft.GraftSession.local("graft-explain-fmt", 8,
      graft.GraftSession.LongRunIo)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val specs = graft.SparkEntry.allSpecs.map(s => s.name -> s).toMap
    names.foreach { n =>
      val s = specs(n)
      val plan = s.fn(spark, "/root/testdata/sf0.001").queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), plan)
      graft.operators.OperatorCaches.release()
      println(s"WROTE $outDir/${n}_$tag.txt")
    }
    graft.operators.Postings.release()
    graft.operators.FramePool.release()
    spark.stop()
  }
}
