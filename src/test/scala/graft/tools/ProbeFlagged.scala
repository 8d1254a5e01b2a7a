package graft.tools

/** Round-robin re-timing of bench-flagged queries in ONE JVM: per-query
  * minimum over N interleaved reps is host-noise-robust (any stall hits a
  * rep of every query equally). Used for the drift-vs-plan verdict the
  * regression list requires. */
object ProbeFlagged {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q6_forecast_revenue", "search_sparse_cosine",
        "dedup_canonical", "q2_min_cost_supplier")
    val reps = 5
    val mins = scala.collection.mutable.Map.empty[String, Double]
    for (rep <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(s, d)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"REP $n rep$rep $t%.2f")
      mins(n) = math.min(mins.getOrElse(n, Double.MaxValue), t)
    }
    names.foreach(n => println(f"MINOF$reps $n ${mins(n)}%.2f"))
    s.stop()
  }
}
