package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** No operator leaves a CacheManager entry behind: each is built and
  * collected, and the session's cache is empty afterwards. Checkpoint
  * blocks are not cache entries (they belong to the returned plan and
  * Spark's ContextCleaner frees them), so the persistent-RDD census is
  * not what is checked here. */
class CacheReleaseSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "a slow green turtle walks under the busy bridge"),
      (4L, "a slow green turtle walks under the quiet bridge"),
      (5L, "nothing here repeats at all"))
      .toDF("doc_id", "text")
  }

  private lazy val bench = {
    import spark.implicits._
    Seq((10L, "quick brown fox jumps over")).toDF("bench_id", "text")
  }

  private lazy val baskets = {
    import spark.implicits._
    Seq(("b1", "x", 1), ("b1", "y", 2), ("b1", "z", 3),
      ("b2", "x", 1), ("b2", "y", 2), ("b3", "y", 1), ("b3", "x", 2))
      .toDF("bk", "it", "pos")
  }

  private lazy val edges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
  }

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "SparseSim.cosinePairs" -> (() =>
      SparseSim.cosinePairs(docs, "text", "doc_id", minSim = 0.0, maxDf = 3)),
    "SparseSim.cosinePairsBudget" -> (() =>
      SparseSim.cosinePairsBudget(docs, "text", "doc_id", minSim = 0.0)),
    "SetSimJoin.jaccardPairs" -> (() =>
      SetSimJoin.jaccardPairs(docs, "text", "doc_id", minSim = 0.5)),
    "MarketBasket.frequentPairs" -> (() =>
      MarketBasket.frequentPairs(baskets, "bk", "it", minSupport = 2, basketMax = 3)),
    "MarketBasket.sequentialPairs" -> (() =>
      MarketBasket.sequentialPairs(baskets, "bk", "it", "pos", minSupportFrac = 0.5)),
    "Graph.triangleStats" -> (() => Graph.triangleStats(edges)),
    "Graph.linkPredict" -> (() => Graph.linkPredict(edges, hubMax = 2)),
    "TextAnalysis.textrank" -> (() => TextAnalysis.textrank(docs, "text")),
    "Dedup.contaminationPairsBloom" -> (() =>
      Dedup.contaminationPairsBloom(docs, "text", "doc_id",
        bench, "text", "bench_id", k = 3, minHits = 1)))

  for ((name, op) <- operators)
    test(s"$name: built and collected, it leaves the cache empty") {
      spark.catalog.clearCache() // entries other suites' gate bodies left
      assert(op().collect().nonEmpty, name)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a CacheManager entry")
    }
}
