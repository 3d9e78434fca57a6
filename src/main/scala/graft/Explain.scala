package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan for selected queries so
  * pushdown (PushedFilters/ReadSchema), join strategies (BroadcastHashJoin
  * vs SortMergeJoin), and Exchange counts can be inspected.
  * Usage: runMain graft.Explain [sfDir] [query ...]  (default: headliners) */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier",
        "q06_forecast_revenue", "q_topk_per_group", "q_asof_join",
        "q_sessionize", "q_events_window", "q_read_filter_project")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Tables.SessionConfs.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = fn(spark, sfDir)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query $n")
      }
    }
    spark.stop()
  }
}
