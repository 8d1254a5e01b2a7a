package graft.tools

/** Interleaved A/B of the SESSION shuffle-partition count seen by the
  * streaming gates that do not pin their own (state stores + foreachBatch
  * fold parquets inherit it): the bench session's own count vs candidate
  * pins, one JVM, min-of-N per arm.
  * `Test/runMain graft.tools.AbStreamParts <rounds> <query...>`. */
object AbStreamParts {
  def main(args: Array[String]): Unit = {
    val rounds = args(0).toInt
    val armsArg = args(1).split(",").toSeq // e.g. "32,8,2"
    val gates = args.drop(2)
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions")
    def run(name: String, parts: String): Double = {
      s.conf.set("spark.sql.shuffle.partitions", parts)
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(s, d)
        .write.format("noop").mode("overwrite").save()
      finally s.conf.set("spark.sql.shuffle.partitions", sessionParts)
      (System.nanoTime() - t0) / 1e9
    }
    val arms = armsArg
    gates.foreach { g => arms.foreach(a => run(g, a)) } // warm
    gates.foreach { g =>
      val mins = arms.map { a =>
        var m = Double.MaxValue
        (1 to rounds).foreach(_ => m = math.min(m, run(g, a)))
        a -> m
      }
      println("AB " + f"$g%-28s " +
        mins.map { case (a, m) => f"p$a=$m%6.2f" }.mkString("  "))
    }
    s.stop()
  }
}
