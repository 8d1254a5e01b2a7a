package graft.tools

/** Times gates twice each at sf0.1 under the bench's own session
  * (GateSession), so the plans timed are the plans Bench runs.
  * `Test/runMain graft.tools.TimeOne <gate...>` */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    for (name <- args; _ <- 1 to 2) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, d)
        .write.format("noop").mode("overwrite").save()
      println(f"TIMED $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    s.stop()
  }
}
