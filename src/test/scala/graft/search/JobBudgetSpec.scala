package graft.search

import graft.SparkSpec
import graft.functions.{Embedder, VectorFunctions}
import graft.model.MemoryModel
import graft.operators.Bm25
import graft.sink.StoreLayout
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** On a store this size a SearchMemory request costs the Spark jobs it
  * starts, not the rows it scans. These budgets pin the job counts of the
  * hybrid BM25 composition and of a graph-view request with scoped
  * sessionization, and check that neither leaves a cache behind. */
class JobBudgetSpec extends SparkSpec {

  private val Dims = 16

  private lazy val storePath: String = {
    import spark.implicits._
    val tools = Seq("click", "view", "purchase", "search")
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val events = (1 to 300).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 37000L), (i % 17).toLong,
        tools(i % tools.size), i.toDouble,
        s"""{"note": "${words(i % 6)} ${words(i * 7 % 6)} ${words(i / 50 % 6)}"}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val path = java.nio.file.Files.createTempDirectory("job-budget").resolve("store").toString
    StoreLayout.writeOptimized(
      MemoryModel.envelope(events).withColumn("embedding", Embedder.embed(col("content"), Dims)),
      path, partitionCols = Seq("tool"), sortCols = Seq("memory_id"), filesPerPartition = 2)
    path
  }

  /** `body`'s result and the jobs it started, counted once the listener
    * bus has drained. */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { val out = body; GraftTestBridge.drainListenerBus(sc); (out, jobs.get) }
    finally sc.removeSparkListener(listener)
  }

  /** The `mem_search_hybrid_bm25` composition: BM25 scores left-joined to
    * the dense cosine, fused by pruned RRF, the top rows reattached. */
  private def hybrid(store: DataFrame, q: String): DataFrame = {
    val qv = Embedder.embed(lit(q), Dims)
    val bm = Bm25.score(store.select(col("memory_id"), col("content")),
      "content", "memory_id", q).withColumnRenamed("score", "kw_score")
    val scored = store.select(col("memory_id"), col("embedding"))
      .join(bm, Seq("memory_id"), "left")
      .withColumn("kw", coalesce(col("kw_score"), lit(0.0)))
      .withColumn("dense", VectorFunctions.cosine(col("embedding"), qv, Dims))
    val fused = Search.rrfFuseTopMScores(scored, col("dense"), col("kw"),
      col("memory_id").cast("long"), m = 100)
    store.select(col("memory_id"), col("tool"))
      .join(broadcast(fused), col("memory_id").cast("long") === fused("tb"))
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("score").desc, col("memory_id").cast("long"))
      .limit(10)
      .select(col("memory_id"), col("tool"), col("score"))
  }

  test("hybrid BM25 and a graph view run within their job budgets and cache nothing") {
    val store = StoreLayout.read(spark, storePath)
    def graph(q: String) = SearchRequest(q, limit = 10, scoreThreshold = 0.0, detail = "graph")
    // a first request of each shape pays code generation; the measured
    // requests differ from it, so a per-request cache would show
    val warm = "tool: click alpha"
    hybrid(store, warm).collect()
    Search.searchMemory(store, "embedding", Dims, graph(warm),
      attach = MemoryModel.attachSequence(store, _)).collect()
    val cached = spark.sparkContext.getPersistentRDDs.size
    val q = "tool: purchase beta gamma"

    val (hits, hybridJobs) = withJobs(hybrid(store, q).collect())
    assert(hits.length == 10)
    assert(hybridJobs <= 6, s"hybrid ran $hybridJobs jobs")

    val (view, viewJobs) = withJobs(
      Search.searchMemory(store, "embedding", Dims, graph(q),
        now = lit(Timestamp.valueOf("2024-02-01 00:00:00")),
        attach = MemoryModel.attachSequence(store, _)).collect())
    assert(view.length == 10 && view.forall(r => !r.isNullAt(r.fieldIndex("sequence_order"))))
    assert(viewJobs <= 3, s"graph view ran $viewJobs jobs")

    assert(spark.sparkContext.getPersistentRDDs.size == cached)
  }
}
