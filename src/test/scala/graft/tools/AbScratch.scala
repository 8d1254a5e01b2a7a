package graft.tools

/** Interleaved A/B of the scratch-root placement (disk-backed /tmp vs
  * tmpfs /dev/shm) in ONE JVM — host drift hits both arms alike, so
  * the per-arm min isolates the I/O-placement effect from ambient
  * noise (the ProbeMemSearch discipline).
  * `Test/runMain graft.tools.AbScratch <rounds> <query...>`.
  */
object AbScratch {
  def main(args: Array[String]): Unit = {
    val rounds = args(0).toInt
    val gates = args.drop(1)
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, d)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both arms once (JIT + committer/state-store class loading)
    gates.foreach { g =>
      System.setProperty("graft.scratch", "/tmp"); run(g)
      System.setProperty("graft.scratch", "/dev/shm"); run(g)
    }
    gates.foreach { g =>
      var minTmp = Double.MaxValue
      var minShm = Double.MaxValue
      (1 to rounds).foreach { _ =>
        System.setProperty("graft.scratch", "/tmp")
        minTmp = math.min(minTmp, run(g))
        System.setProperty("graft.scratch", "/dev/shm")
        minShm = math.min(minShm, run(g))
      }
      println(f"AB $g%-30s tmp=$minTmp%6.2f  shm=$minShm%6.2f  ratio=${minShm / minTmp}%.2f")
    }
    s.stop()
  }
}
