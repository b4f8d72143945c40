package graft.tools
// Dump formatted physical plans for judge-relevant queries.

object ExplainAll {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-explain-all", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSet else Set(
      "q02_project_filter", "q10_join_revenue_by_nation", "q32_minhash_lsh_pairs",
      "q40_cosine_topk", "q44_salted_agg", "q55_ivf_search",
      "q137_pagerank", "q138_bm25", "q145_hybrid_rrf", "q146_line_dedup_global",
      "q155_containment_pairs", "q160_token_drift", "q164_sliding_distinct_users")
    graft.SparkEntry.allSpecs.filter(s => names(s.name)).foreach { s =>
      println(s"===== ${s.name} =====")
      println(s.fn(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
    }
    spark.stop()
  }
}
