package graft

/** Dev tool: dump formatted plans for the scale-critical queries so shuffle
  * counts, broadcast choices, and pushed filters can be audited by eye
  * (`runMain graft.PlanAudit [sfDir] [name ...]`).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("p3_route_counts", "d2_minhash_neardup", "d7_dup_clusters",
        "d9_semdedup", "n1_ann_topk", "n2_ann_ivf", "q3_join_agg",
        "q8_bucketed_join", "s1_prefix_scan", "e1_split_counts")
    val spark = Tables.localSession("4", "ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
