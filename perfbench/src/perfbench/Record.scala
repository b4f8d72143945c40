package perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import graft.operators.{FramePool, OperatorCaches, Postings}

/** Records the expected query outputs the query workload checks against:
  *
  *   perfbench.Record --fixtures DIR --out FILE
  *
  * Each listed query runs twice with every pool released in between; a
  * query whose row count or fingerprint differs between the two runs is
  * printed as a finding and recorded with the first run's value, never
  * dropped. */
object Record {
  def main(args: Array[String]): Unit = {
    def arg(k: String): String = args(args.indexOf(k) + 1)
    val fixtures = arg("--fixtures")
    val spark = GraftSession.local("perfbench-record", math.min(4, Runtime.getRuntime.availableProcessors()))
    spark.sparkContext.setLogLevel("ERROR")
    def release(): Unit = { FramePool.release(); Postings.release(); OperatorCaches.release() }
    val lines = QueryLoop.List.sorted.map { name =>
      val runs = (1 to 2).map { _ =>
        release()
        Checks.fingerprint(SparkEntry.queries(name)(spark, fixtures))
      }
      if (runs.distinct.size > 1) println(s"FINDING $name differs between runs: ${runs.mkString(" vs ")}")
      s"$name\t${runs.head.rows}\t${runs.head.hash}"
    }
    release()
    spark.stop()
    Files.write(Paths.get(arg("--out")),
      ("# query\trows\tfingerprint (sum of xxhash64 over all columns), fixtures sf0.01\n" +
        lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
  }
}
