package graft.model

import graft.SparkSpec
import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class MemoryModelSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def events = {
    import spark.implicits._
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01"), 10L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 00:00:05"), 10L, "view", 2.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 00:00:03"), 20L, "click", 3.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 00:00:09"), 10L, "purchase", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("fromEvents assigns per-session sequence and preceding ids by event time") {
    val got = MemoryModel.fromEvents(events)
      .select("memory_id", "session_id", "sequence_order", "preceding_memory_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), Option(r.getString(3)))).toSet
    assert(got == Set(
      ("1", "10", 1, None), ("2", "10", 2, Some("1")), ("4", "10", 3, Some("2")),
      ("3", "20", 1, None)))
  }

  test("fromEvents builds the reference's fallback document text") {
    val content = MemoryModel.fromEvents(events)
      .where(col("memory_id") === "1").select("content").head().getString(0)
    assert(content == "Tool: click\n{}")
  }

  test("lastMemoryPerSession = argmax by sequence with next_seq (A1)") {
    val got = MemoryModel.lastMemoryPerSession(MemoryModel.fromEvents(events))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got == Set(("10", "4", 4), ("20", "3", 2)))
  }

  test("withProvenance resolves the preceding row (J1 self-join)") {
    val got = MemoryModel.withProvenance(MemoryModel.fromEvents(events))
      .where(col("memory_id") === "4")
      .select("preceding_memory_id", "preceding_tool").head()
    assert((got.getString(0), got.getString(1)) == ("2", "view"))
  }

  test("provenancePaths: bounded ancestor trails with reached depth") {
    val got = MemoryModel.provenancePaths(MemoryModel.fromEvents(events), maxDepth = 4)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(got == Map(
      "1" -> ((0, "1")),               // session head: no ancestors
      "2" -> ((1, "2 <- 1")),
      "4" -> ((2, "4 <- 2 <- 1")),
      "3" -> ((0, "3"))))
    // depth cap truncates the trail
    val capped = MemoryModel.provenancePaths(MemoryModel.fromEvents(events), maxDepth = 1)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(capped("4") == ((1, "4 <- 2")))
  }

  test("provenancePaths: a dangling parent reference ends the trail (oracle inner-join semantics)") {
    import spark.implicits._
    // memory 5 points at id 99 which is not in the store; memory 6 chains
    // through 5 — the dangling id must not enter any path or depth
    val mem = Seq(
      ("5", Some("99")), ("6", Some("5")), ("7", None: Option[String]))
      .toDF("memory_id", "preceding_memory_id")
    val got = MemoryModel.provenancePaths(mem, maxDepth = 4)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(got == Map(
      "5" -> ((0, "5")),          // dangling: trail stops before 99
      "6" -> ((1, "6 <- 5")),     // extends to 5, then stops at 5's dangling edge
      "7" -> ((0, "7"))))
  }

  test("envelope + attachSequence equals the global fromEvents window (serving-path shape)") {
    val env = MemoryModel.envelope(events)
    // envelope is fromEvents minus the two window columns, same rows
    assert(env.columns.toSeq ==
      MemoryModel.fromEvents(events).columns.toSeq
        .filterNot(Set("sequence_order", "preceding_memory_id")))
    // prune to a 1-row hit set (session 10's middle memory) and attach:
    // sequence numbers must equal the GLOBAL window's, because the scoped
    // pass keeps every row of the touched session
    val hits = env.where(col("memory_id") === "2")
    val attached = MemoryModel.attachSequence(env, hits)
    val got = attached.select("memory_id", "sequence_order", "preceding_memory_id")
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(("2", 2, Some("1"))))
  }

  test("attachSequence scopes the window to the hit sessions only") {
    import spark.implicits._
    // three sessions, hits in two of them; the envelope is read back from
    // parquet so the session filter can reach the scan
    val evs = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01"), 10L, "click", 1.0, "{}"),
      (2L, Timestamp.valueOf("2024-01-01 00:00:05"), 10L, "view", 2.0, "{}"),
      (3L, Timestamp.valueOf("2024-01-01 00:00:03"), 20L, "click", 3.0, "{}"),
      (4L, Timestamp.valueOf("2024-01-01 00:00:09"), 10L, "purchase", 4.0, "{}"),
      (5L, Timestamp.valueOf("2024-01-01 00:00:02"), 30L, "view", 5.0, "{}"),
      (6L, Timestamp.valueOf("2024-01-01 00:00:04"), 30L, "click", 6.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("attach-scope").resolve("env").toString
    MemoryModel.envelope(evs).write.parquet(dir)
    val env = spark.read.parquet(dir)
    val hits = env.where(col("memory_id").isin("3", "6"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got = try {
      MemoryModel.attachSequence(env, hits).select("memory_id", "sequence_order")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    } finally {
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(got == Set(("3", 1), ("6", 2)))
    // the window's input is the hit sessions' rows only: the scan carries
    // the pushed session filter, and the filter above it lets exactly
    // sessions 20 and 30's three rows through to the window
    val windowed = plans.asScala.filter(p => find(p)(_.isInstanceOf[WindowExec]).nonEmpty).toSeq
    assert(windowed.size == 1, s"expected one windowed query, got ${windowed.size}")
    val plan = windowed.head
    val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed.exists(_.contains("In(session_id, [20,30])")), s"pushed filters: $pushed")
    val reaching = collect(plan) {
      case f: FilterExec if f.condition.references.exists(_.name == "session_id") =>
        f.metrics("numOutputRows").value
    }
    assert(reaching == Seq(3L), s"rows reaching the window: $reaching\n$plan")
  }

  test("attachSequence refuses a hit set larger than its driver bound") {
    val many = spark.range(MemoryModel.MaxAttachHits + 1).select(
      col("id").cast("string").as("memory_id"), lit("s").as("session_id"),
      lit(Timestamp.valueOf("2024-01-01 00:00:01")).as("timestamp"))
    val e = intercept[IllegalArgumentException](MemoryModel.attachSequence(many, many))
    assert(e.getMessage.contains(s"more than ${MemoryModel.MaxAttachHits} hits"))
  }

  test("attachSequence breaks timestamp ties like sessionize on UUID ids") {
    import spark.implicits._
    // the reference's memory ids are UUIDv4: the numeric cast is null for
    // every row, so at a shared timestamp only the id string orders them.
    // Rows arrive in reverse string order, three of them tied.
    val t0 = Timestamp.valueOf("2024-01-01 00:00:01")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:02")
    val mem = Seq(
      ("f47ac10b-58cc-4372-a567-0e02b2c3d479", t1),
      ("c9bf9e57-1685-4c89-bafb-ff5af830be8a", t1),
      ("9b2d7f3e-4a1c-4e8b-8f6d-2a5c3b1e0d97", t1),
      ("16fd2706-8baf-433b-82eb-8c7fada847da", t0))
      .toDF("memory_id", "timestamp").withColumn("session_id", lit("s"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("memory_id", "sequence_order", "preceding_memory_id").collect()
        .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(rows(MemoryModel.attachSequence(mem, mem)) == rows(MemoryModel.sessionize(mem)))
  }
}
