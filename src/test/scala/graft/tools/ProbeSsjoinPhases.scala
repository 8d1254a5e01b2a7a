package graft.tools

import org.apache.spark.sql.functions._

/** r12 probe: dedup_ssjoin_prefix cost split — candidate generation
  * (prefix index + self-join + distinct) vs the exact-verify tail
  * (two reattach joins + array_intersect). Decides whether a
  * positional filter (which prunes verifies but widens the prefix
  * shuffle) can possibly pay. */
object ProbeSsjoinPhases {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    def t[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    for (round <- 1 to 2) {
      println(s"ROUND $round")
      val docs = graft.GateHelpers.docs(s, d)
      // prefix-only candidate stage (replicates SetSimJoin.prefixIndex's
      // public shape: tokens -> 3-shingles -> df-ordered prefix -> self-
      // join -> distinct count), no full-index census, no verify
      val nPref = t("prefix_candidates_only") {
        import graft.functions.TextFunctions
        import org.apache.spark.sql.expressions.Window
        val tt = java.math.BigDecimal.valueOf(0.5)
        val sets = docs
          .select(col("doc_id").as("id"),
            TextFunctions.tokens(col("text")).as("toks_"))
          .select(col("id"), array_distinct(
            TextFunctions.shinglesFromTokens(col("toks_"), 3)).as("terms"))
          .withColumn("sz", size(col("terms")))
          .where(col("sz") > 0)
          .persist() // the gate's prefixIndex persists here too
        val post = sets.select(col("id"), col("sz"),
          explode(col("terms")).as("term"))
        val dft = post.groupBy(col("term")).agg(count(lit(1)).as("df_"))
        val pref = post.join(dft, "term")
          .withColumn("rn_", row_number().over(
            Window.partitionBy(col("id")).orderBy(col("df_"), col("term"))))
          .where(col("rn_") <= col("sz") - ceil(lit(tt) * col("sz")) + lit(1))
          .select(col("term"), col("id"))
        pref.select(col("term"), col("id").as("a"))
          .join(pref.select(col("term"), col("id").as("b")), "term")
          .where(col("a") < col("b"))
          .select(col("a"), col("b")).distinct().count()
      }
      println(s"PROBE prefix_cands=$nPref")
      t("full_gate") {
        graft.SparkEntry.queries("dedup_ssjoin_prefix")(s, d)
          .write.format("noop").mode("overwrite").save()
      }
    }
    s.stop()
  }
}
