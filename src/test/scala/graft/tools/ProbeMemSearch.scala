package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.Embedder
import graft.model.MemoryModel
import graft.search.Search

/** A/B probe for the round-7 #2 mem_search work: times the OLD gate shape
  * (full-store sessionize window under the top-k) against the NEW one
  * (score over the unwindowed envelope, attach sequence for the winners)
  * interleaved in one JVM, so host noise and JIT state cancel.
  */
object ProbeMemSearch {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.1"
    val dims = 8
    val q = "Tool: purchase"

    def timeIt(name: String)(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name $dt%.2f s")
      dt
    }

    def oldShape() = {
      val mem = MemoryModel.fromEvents(graft.Tables.events(s, d))
        .withColumn("memory_id_num", col("memory_id").cast("long"))
        .withColumn("embedding", Embedder.embed(col("content"), dims))
      Search.basicByText(mem, "embedding", q, dims,
        limit = 10, scoreThreshold = 0.4, tieBreak = "memory_id_num")
        .select(col("memory_id"), col("tool"), col("title"),
          col("sequence_order"), col("score"))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    }

    def newShape() = {
      val env = MemoryModel.envelope(graft.Tables.events(s, d))
        .withColumn("memory_id_num", col("memory_id").cast("long"))
        .withColumn("embedding", Embedder.embed(col("content"), dims))
      val hits = Search.basicByText(env, "embedding", q, dims,
        limit = 10, scoreThreshold = 0.4, tieBreak = "memory_id_num")
      MemoryModel.attachSequence(env, hits)
        .select(col("memory_id"), col("tool"), col("title"),
          col("sequence_order"), col("score"))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    }

    // warmup both
    timeIt("warmup_old")(oldShape()); timeIt("warmup_new")(newShape())
    val olds = collection.mutable.ArrayBuffer[Double]()
    val news = collection.mutable.ArrayBuffer[Double]()
    for (_ <- 1 to 5) {
      olds += timeIt("old")(oldShape())
      news += timeIt("new")(newShape())
    }
    println(f"PROBE SUMMARY old_min ${olds.min}%.2f old_med ${olds.sorted.apply(2)}%.2f " +
      f"new_min ${news.min}%.2f new_med ${news.sorted.apply(2)}%.2f")
    s.stop()
  }
}
