package graft.model

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class MemoryModelSpec extends SparkSpec {

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
    val (attached, release) = MemoryModel.attachSequenceManaged(env, hits)
    val got = attached.select("memory_id", "sequence_order", "preceding_memory_id")
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(("2", 2, Some("1"))))
    release()
  }

  test("attachSequence scopes the window to the hit sessions only") {
    val env = MemoryModel.envelope(events)
    val hits = env.where(col("session_id") === "20")
    val (attached, release) = MemoryModel.attachSequenceManaged(env, hits)
    // the scoped pass must not touch session 10's rows: its physical plan
    // semi-joins the envelope to the broadcast hit-session list before the
    // window, so the only windowed rows are session 20's
    val plan = attached.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast semi-join in:\n$plan")
    val got = attached.select("memory_id", "sequence_order").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(got == Set(("3", 1)))
    release()
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
    val (attached, release) = MemoryModel.attachSequenceManaged(mem, mem)
    assert(rows(attached) == rows(MemoryModel.sessionize(mem)))
    release()
  }
}
