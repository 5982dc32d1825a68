package graft.tools

/** Plan inspector: prints the formatted physical plan of selected
  * queries so scan pruning / pushdown / join strategy / codegen spans
  * can be reviewed. runMain graft.tools.Explain [sfDir] [names...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q02_filter_date_range", "q04_fact_rollup_daily", "q21_star_join", "q10_topn_multikey", "q29_similarity_topk")
    val spark = graft.GraftSession.local()
    names.foreach { n =>
      println(s"\n======== $n ========")
      println(graft.ops.Registry.byName(n).run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
