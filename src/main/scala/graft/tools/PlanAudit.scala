package graft.tools
// One-shot audit: physical-plan anti-pattern screen (graft.tools.PlanScreen,
// shared with RegistryPlanSpec) over EVERY registered query at sf0.001,
// plus the raw counts for recalibrating the screen's bounds.

object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-plan-audit", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    graft.SparkEntry.allSpecs.foreach { s =>
      try {
        val plan = s.fn(spark, d).queryExecution.executedPlan.toString
        val c = PlanScreen.counts(plan)
        val counts = f"cart=${c.cart} bnlj=${c.bnlj} " +
          f"single=${c.single} exch=${c.exch}"
        PlanScreen.offenses(s.name, plan) match {
          case Nil if c.bnlj + c.single > 0 =>
            println(f"AUDIT ${s.name}%-30s $counts")
          case Nil => ()
          case off => println(f"AUDIT ${s.name}%-30s $counts VIOLATION ${off.mkString("; ")}")
        }
      } catch {
        case e: Throwable => println(s"AUDIT ${s.name} ERROR ${e.getMessage}")
      }
      graft.operators.OperatorCaches.release()
    }
    graft.operators.Postings.release()
    graft.operators.FramePool.release()
    spark.stop()
  }
}
