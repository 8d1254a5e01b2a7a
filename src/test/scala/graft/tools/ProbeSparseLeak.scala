package graft.tools

/** Does the sparse gate's internal persist() dedupe across invocations, or
  * leak one postings copy per call? Prints the persistent-RDD census and
  * storage memory after each rep. */
object ProbeSparseLeak {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    for (rep <- 1 to 4) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("search_sparse_cosine")(s, d)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      val rdds = s.sparkContext.getPersistentRDDs
      val rt = Runtime.getRuntime
      val heap = (rt.totalMemory - rt.freeMemory) / 1e6
      println(f"REP$rep total $t%.2f s persistentRDDs=${rdds.size} heapUsed=$heap%.0f MB")
    }
    s.stop()
  }
}
