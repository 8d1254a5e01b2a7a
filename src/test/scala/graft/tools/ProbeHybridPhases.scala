package graft.tools

import graft.functions.{Embedder, TextFunctions, VectorFunctions}
import graft.search.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phase split for mem_search_hybrid_bm25 (r12 verdict item 6): does the
  * gate pay for the writeOptimized store WRITE, the embed pipeline that
  * feeds it, or the read-side BM25 + fuse + reattach? Each phase timed
  * min-of-N warm in one JVM. The write IS the declared semantics (the
  * production path materializes the store), so a write-dominated split
  * closes the item rather than changing the gate.
  *
  * `Test/runMain graft.tools.ProbeHybridPhases <reps>`
  */
object ProbeHybridPhases {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the gate's own constants
    val dims = graft.GateHelpers.SearchDims
    val qText = graft.GateHelpers.SearchQueryText
    val k1 = graft.GateHelpers.Bm25K1
    val b = graft.GateHelpers.Bm25B
    val path = "/tmp/probe_hybrid_store"

    def mem: DataFrame = graft.GateHelpers.memories(s, d)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def minOf(name: String)(body: => Unit): Double = {
      var m = Double.MaxValue
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        body
        m = math.min(m, (System.nanoTime() - t0) / 1e9)
      }
      println(f"PHASE $name%-18s $m%6.2f s (min of $reps)")
      m
    }

    def writeStore(): Unit = graft.sink.StoreLayout.writeOptimized(
      mem.withColumn("embedding", Embedder.embed(col("content"), dims))
        .select(col("memory_id"), col("tool"), col("content"), col("embedding")),
      path, partitionCols = Seq("tool"), sortCols = Seq("memory_id"),
      filesPerPartition = 8)

    def readScore(): DataFrame = {
      val store = graft.sink.StoreLayout.read(s, path)
      val qv = Embedder.embed(lit(qText), dims)
      val bm = graft.operators.Bm25.score(
        store.select(col("memory_id"), col("content")),
        "content", "memory_id", qText, k1 = k1, b = b)
        .withColumnRenamed("score", "kw_score")
      val scored = store.select(col("memory_id"), col("embedding"))
        .join(bm, Seq("memory_id"), "left")
        .withColumn("kw", coalesce(col("kw_score"), lit(0.0)))
        .withColumn("dense", VectorFunctions.cosine(col("embedding"), qv, dims))
      val fused = Search.rrfFuseTopMScores(scored, col("dense"), col("kw"),
        col("memory_id").cast("long"), m = 100)
      store.select(col("memory_id"), col("tool"))
        .join(broadcast(fused), col("memory_id").cast("long") === fused("tb"))
        .withColumn("score", round(col("score"), 9))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
        .limit(10)
        .select(col("memory_id"), col("tool"), col("score"))
    }

    // warm everything once
    writeStore(); noop(readScore())
    minOf("mem_envelope") { noop(mem) }
    minOf("embed_project") {
      noop(mem.withColumn("embedding", Embedder.embed(col("content"), dims))
        .select(col("memory_id"), col("tool"), col("content"), col("embedding")))
    }
    minOf("store_write") { writeStore() }
    minOf("read_score") { noop(readScore()) }
    minOf("full_gate") {
      graft.SparkEntry.queries("mem_search_hybrid_bm25")(s, d)
        .write.format("noop").mode("overwrite").save()
    }
    s.stop()
  }
}
