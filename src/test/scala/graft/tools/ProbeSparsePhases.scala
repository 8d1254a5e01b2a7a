package graft.tools

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Phase split + variant A/B for search_sparse_cosine (the most expensive
  * gate in the suite, r12 verdict item 4). Phases are timed cumulatively
  * (each to a noop sink, fresh cache per phase) so phase N − phase N−1
  * isolates one stage; variants alternate in ONE JVM against the shipped
  * shape, min-of-N per arm, with a row-count cross-check so a variant
  * that changes results is rejected loudly.
  *
  * `Test/runMain graft.tools.ProbeSparsePhases <reps>`
  */
object ProbeSparsePhases {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = graft.GateHelpers.docs(s, d)
    val termK = 2
    val minSim = 0.3

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Double = {
      s.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PHASE $name%-22s $dt%6.2f s")
      dt
    }

    val cap = math.max(2L, math.ceil(0.06 * docs.count()).toLong)
    println(s"cap=$cap")

    def tfCapped(): DataFrame = {
      val terms = TextFunctions.shinglesFromTokens(col("toks_"), termK)
      docs
        .select(col("doc_id").as("id"),
          TextFunctions.tokens(lower(col("text"))).as("toks_"))
        .select(col("id"), explode(terms).as("term"))
        .groupBy(col("id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("df_", count(lit(1)).over(Window.partitionBy(col("term"))))
        .where(col("df_") <= cap)
        .drop("df_")
    }

    /** Shipped shape, with knobs: broadcast the norms reattach joins,
      * and/or hint the postings self-join to shuffled-hash. */
    def pairs(bNorms: Boolean, shj: Boolean): DataFrame = {
      val tf = tfCapped().persist()
      val norms0 = tf.groupBy(col("id"))
        .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("norm"))
      val norms = if (bNorms) broadcast(norms0) else norms0
      val l = tf.select(col("term"), col("id").as("a"), col("tf").as("tfa"))
      val r0 = tf.select(col("term"), col("id").as("b"), col("tf").as("tfb"))
      val r = if (shj) r0.hint("shuffle_hash") else r0
      l.join(r, "term")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("tfa") * col("tfb")).as("dot"))
        .join(norms.select(col("id").as("a"), col("norm").as("na")), "a")
        .join(norms.select(col("id").as("b"), col("norm").as("nb")), "b")
        .withColumn("cosine",
          round(col("dot").cast("double") / (col("na") * col("nb")), 6))
        .where(col("cosine") >= minSim)
        .select(col("a"), col("b"), col("cosine"))
        .orderBy(col("a"), col("b"))
    }

    // ---- phase split (one pass, warm) ----
    noop(pairs(bNorms = false, shj = false)) // warm JIT/codegen
    timed("count_only") { docs.count(); () }
    timed("postings_raw") {
      val terms = TextFunctions.shinglesFromTokens(col("toks_"), termK)
      noop(docs
        .select(col("doc_id").as("id"),
          TextFunctions.tokens(lower(col("text"))).as("toks_"))
        .select(col("id"), explode(terms).as("term"))
        .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf")))
    }
    timed("postings_dfcap") { noop(tfCapped()) }
    timed("join_dot_only") {
      val tf = tfCapped().persist()
      val l = tf.select(col("term"), col("id").as("a"), col("tf").as("tfa"))
      noop(l.join(tf.select(col("term"), col("id").as("b"), col("tf").as("tfb")), "term")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("tfa") * col("tfb")).as("dot")))
    }
    timed("full_gate") { noop(pairs(bNorms = false, shj = false)) }

    // ---- row-count cross-check ----
    val base = pairs(bNorms = false, shj = false).count()
    s.sharedState.cacheManager.clearCache()
    Seq(("bnorms", true, false), ("shj", false, true), ("both", true, true))
      .foreach { case (n, b, h) =>
        val c = pairs(b, h).count()
        s.sharedState.cacheManager.clearCache()
        println(s"CHECK $n rows=$c base=$base ${if (c == base) "OK" else "MISMATCH"}")
      }

    // ---- interleaved variant A/B ----
    val arms = Seq(
      "ship" -> (() => pairs(bNorms = false, shj = false)),
      "bnorms" -> (() => pairs(bNorms = true, shj = false)),
      "shj" -> (() => pairs(bNorms = false, shj = true)),
      "both" -> (() => pairs(bNorms = true, shj = true)))
    val mins = collection.mutable.Map.empty[String, Double].withDefaultValue(Double.MaxValue)
    for (_ <- 1 to reps; (n, f) <- arms) {
      s.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      noop(f())
      val dt = (System.nanoTime() - t0) / 1e9
      mins(n) = math.min(mins(n), dt)
      println(f"ARM $n%-8s $dt%6.2f s")
    }
    println("SUMMARY " + arms.map { case (n, _) => f"$n=${mins(n)}%.2f" }.mkString("  "))
    s.stop()
  }
}
