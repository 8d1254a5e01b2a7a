package graft.tools

/** Plan audit: PushedFilters / broadcast / codegen spans on headline
  * queries. `sbt "Test/runMain graft.tools.ExplainAudit"` */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    for (name <- Seq("q6_forecast_revenue", "q3_unshipped_orders",
        "mem_filter_algebra", "mem_search_filtered", "dedup_exact")) {
      val plan = graft.SparkEntry.queries(name)(s, d)
        .queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
      val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
      val wsc = plan.linesIterator.count(_.contains("WholeStageCodegen"))
      println(s"AUDIT $name broadcastJoins=$bhj wholeStageCodegenSpans=$wsc")
      pushed.take(4).foreach(p => println(s"  $name $p"))
    }
    s.stop()
  }
}
