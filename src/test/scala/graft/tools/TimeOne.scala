package graft.tools

/** Times gates twice each at sf0.1 under the bench's own session
  * (GateSession), so the plans timed are the plans Bench runs. Each gate
  * first runs once untimed, so its first timed run does not pay the
  * compilation and JIT warm-up of its query shapes, and a minimum does
  * not depend on where the gate sits in the argument list. Like Bench,
  * it clears the cache after each run, outside the timed region, so a
  * later run does not read an earlier run's cache entries.
  * `Test/runMain graft.tools.TimeOne <gate...>` */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, d)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      s.sharedState.cacheManager.clearCache()
      secs
    }
    for (name <- args) {
      runOnce(name) // warm-up, untimed
      for (_ <- 1 to 2) println(f"TIMED $name ${runOnce(name)}%.2f s")
    }
    s.stop()
  }
}
