package graft

/** Dumps formatted physical plans for representative queries — the
  * scale-readiness audit loop: check filter pushdown (PushedFilters),
  * column pruning (ReadSchema), join strategies (Broadcast vs SortMerge),
  * partial aggregation, and whole-stage codegen spans.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_agg_units", "q_line", "q_dedup_minhash", "q_sim_topk",
        "q_topk_sketch", "q_filter_dsl")
    names.foreach { n =>
      println(s"\n===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
