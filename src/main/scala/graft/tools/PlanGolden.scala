package graft.tools

// Regenerates src/main/resources/plan_golden.tsv — the checked-in
// per-query physical-plan shape baseline RegistryPlanSpec enforces
// (any BNLJ / single-partition-exchange count above the recorded value
// trips the spec). MUST replicate RegistryPlanSpec's traversal exactly:
// same registry order, OperatorCaches released per query, the
// cross-query pools (Postings/FramePool) alive for the whole sweep —
// pooled-frame reuse makes later queries' plans depend on earlier ones.
import java.nio.file.{Files, Paths}

object PlanGolden {
  def main(args: Array[String]): Unit = {
    // the same GraftSession.local posture as SparkTestBase: the recorded
    // counts are parallelism-independent, but identical sessions remove
    // even the theoretical divergence class
    val spark = graft.GraftSession.local("graft-plan-golden", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    // a failed plan build must ABORT the regeneration, not be skipped:
    // PlanScreen binds absent queries to (0,0), so writing a partial file
    // (e.g. on a machine with stale fixtures) would silently TIGHTEN the
    // bounds for legitimate queries and misread as plan regressions
    var failed = List.empty[String]
    val rows = graft.SparkEntry.allSpecs.flatMap { s =>
      val r =
        try {
          val c = PlanScreen.counts(
            s.fn(spark, d).queryExecution.executedPlan.toString)
          if (c.cart > 0)
            println(s"WARN ${s.name}: CartesianProduct — NOT recorded " +
              "(never allowed; fix the query instead)")
          Option.when(c.bnlj > 0 || c.single > 0 || c.exch > 0)(
            s"${s.name}\t${c.bnlj}\t${c.single}\t${c.exch}")
        } catch {
          case e: Throwable =>
            println(s"ERROR ${s.name}: plan build failed — ${e.getMessage}")
            failed ::= s.name
            None
        }
      graft.operators.OperatorCaches.release()
      r
    }
    graft.operators.Postings.release()
    graft.operators.FramePool.release()
    if (failed.nonEmpty) {
      System.err.println(s"REFUSING to write plan_golden.tsv: " +
        s"${failed.size} quer${if (failed.size == 1) "y" else "ies"} failed " +
        s"to build (${failed.reverse.mkString(", ")})")
      spark.stop()
      sys.exit(1)
    }
    val out = Paths.get("src/main/resources/plan_golden.tsv")
    Files.createDirectories(out.getParent)
    Files.writeString(out,
      "# Per-query golden plan-shape counts: " +
        "name\\tBNLJ\\tsingle-partition\\tshuffle-exchanges\n" +
        "# Regenerate with: sbt \"runMain graft.tools.PlanGolden\" (sf0.001)\n" +
        "# Queries absent here are bound to 0\t0\t0 by PlanScreen.\n" +
        rows.sorted.mkString("", "\n", "\n"))
    println(s"wrote ${rows.size} entries to $out")
    spark.stop()
  }
}
