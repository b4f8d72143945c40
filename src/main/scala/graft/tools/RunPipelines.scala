package graft.tools
// Drive the reference-mirror pipelines end-to-end through the public API.
import java.nio.file.{Files, Paths}
import graft.pipelines.{BenchGrid, ExtractData}

object RunPipelines {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-run-pipelines", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val out = Files.createTempDirectory("pipe_drive").toString
    val ex = ExtractData.run(spark,
      inputs = Seq("/root/testdata/sf0.001/lineitem.parquet"),
      sampleSizes = Seq(100, 1000, 5000), outDir = out)
    println("manifest: " + Files.readAllLines(Paths.get(ex.manifestPath)))
    val wide = BenchGrid.run(spark, ex.manifestPath, s"$out/samples", out)
    wide.show(10, false)
    println("results.csv: " + Files.readAllLines(Paths.get(s"$out/results.csv")))
    spark.stop()
  }
}
