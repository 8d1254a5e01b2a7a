package graft.tools

/** Cross-JVM A/B arm for plan_suspect triage (round-9 judge item 4):
  * each invocation is ONE FRESH JVM that times the stable baseline and
  * each named gate twice (noop-materialized, min-of-two printed), so
  * repeated sbt invocations give interleaved samples free of the
  * same-JVM code-cache / suite-growth effects the in-bench A/B can't
  * see. Usage: Test/runMain graft.tools.ProbeAb <gate> [gate...]
  */
object ProbeAb {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def time(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, d)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // one throwaway warm-up of the baseline pays the first-query
    // Janino/JIT tax so it doesn't land on the first timed arm
    time("q1_pricing_summary")
    val names = "q1_pricing_summary" +: args.toSeq
    val mins = names.map { n => n -> math.min(time(n), time(n)) }
    mins.foreach { case (n, t) => println(f"PROBE_AB $n $t%.3f s") }
    s.stop()
  }
}
