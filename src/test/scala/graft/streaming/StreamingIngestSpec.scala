package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

class StreamingIngestSpec extends SparkSpec {
  import StreamingIngest._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("sequencedTws: transformWithState ValueState continues across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[ToolCall]
    val q = withRocksDbStateStore(spark)(sequencedTws(input.toDS())
      .writeStream.format("memory").queryName("seqtws")
      .option("checkpointLocation",
        Files.createTempDirectory("twsckpt").toString)
      .outputMode(OutputMode.Append).start())
    try {
      input.addData(
        ToolCall("m1", "s1", "click", ts("2024-01-01 00:00:01"), Some(1.0)),
        ToolCall("m2", "s1", "view", ts("2024-01-01 00:00:02"), Some(2.0)),
        ToolCall("m9", "s2", "click", ts("2024-01-01 00:00:03"), Some(3.0)))
      q.processAllAvailable()
      input.addData(
        ToolCall("m3", "s1", "purchase", ts("2024-01-01 00:10:00"), Some(4.0)))
      q.processAllAvailable()
      val rows = spark.table("seqtws").as[SequencedCall].collect()
        .map(r => (r.memoryId, r.sequenceOrder, r.precedingMemoryId)).toSet
      assert(rows == Set(
        ("m1", 1, None), ("m2", 2, Some("m1")), ("m9", 1, None),
        ("m3", 3, Some("m2")))) // continues s1's state across batches
    } finally q.stop()
  }

  test("sessionsTws: later-event close emits inline, open session emits via timer") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[UserEvent]
    val q = withRocksDbStateStore(spark)(sessionsTws(input.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("twssess")
      .option("checkpointLocation",
        Files.createTempDirectory("twssess").toString)
      .outputMode(OutputMode.Append).start())
    try {
      // session A: two events 10 min apart (one session, sum 1.5+2.25)
      input.addData(
        UserEvent(1L, ts("2024-01-01 10:00:00"), 1.5),
        UserEvent(1L, ts("2024-01-01 10:10:00"), 2.25))
      q.processAllAvailable()
      assert(spark.table("twssess").isEmpty) // still open, nothing emits
      // an event PAST the gap closes session A inline and opens B
      input.addData(UserEvent(1L, ts("2024-01-01 12:00:00"), 4.0))
      q.processAllAvailable()
      val inline = spark.table("twssess").as[SessionOut].collect()
      assert(inline.map(s => (s.nEvents, s.sumValue)).toSeq == Seq((2L, 3.75)))
      // watermark pushes (two batches) fire B's timer
      for (h <- Seq("14:00:00", "15:00:00")) {
        input.addData(UserEvent(9L, ts(s"2024-01-01 $h"), 0.0))
        q.processAllAvailable()
      }
      val all = spark.table("twssess").as[SessionOut].collect()
        .filter(_.userId == 1L)
        .map(s => (s.sessionStart.toString, s.nEvents, s.sumValue)).toSet
      assert(all == Set(
        ("2024-01-01 10:00:00.0", 2L, 3.75),
        ("2024-01-01 12:00:00.0", 1L, 4.0)))
    } finally q.stop()
  }

  private def call(id: String, session: String, tool: String, t: String,
      v: Double): String =
    s"""{"memory_id":"$id","session_id":"$session","tool":"$tool","timestamp":"2024-01-01T${t}Z","value":$v}"""

  /** Stage `lines` as the next JSONL file of `in`: written aside, then
    * moved in, so the file source never lists a half-written file. */
  private def stageFile(in: java.nio.file.Path, lines: String*): Unit = {
    val name = f"${in.toFile.list().length}%03d.jsonl"
    val tmp = Files.createTempFile("graft-stage", ".jsonl")
    Files.writeString(tmp, lines.mkString("", "\n", "\n"))
    Files.move(tmp, in.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** (memory_id, sequence_order, preceding_memory_id) of every stored row. */
  private def storedRows(store: String): Seq[(String, Int, Option[String])] =
    spark.read.parquet(store)
      .select("memory_id", "sequence_order", "preceding_memory_id")
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSeq

  /** Run each file through one startJsonlIngest query, one micro-batch per
    * file, and return the store's rows. */
  private def ingestFiles(files: Seq[String]*): Seq[(String, Int, Option[String])] = {
    val root = Files.createTempDirectory("graft-ingest")
    val in = Files.createDirectory(root.resolve("in"))
    val store = root.resolve("store").toString
    val q = startJsonlIngest(spark, in.toString, store, root.resolve("ckpt").toString)
    try files.foreach { f => stageFile(in, f: _*); q.processAllAvailable() }
    finally q.stop()
    storedRows(store)
  }

  test("startJsonlIngest: state-backed sequence continuation and provenance chaining") {
    val got = ingestFiles(
      Seq(call("m1", "s1", "click", "00:00:01", 1.0),
        call("m2", "s1", "view", "00:00:02", 2.0)),
      Seq(call("m3", "s1", "purchase", "00:20:00", 3.0),
        call("m4", "s2", "click", "00:21:00", 4.0)))
    assert(got.size == 4)
    assert(got.toSet == Set(
      ("m1", 1, None), ("m2", 2, Some("m1")),
      ("m3", 3, Some("m2")), // continues from the state's next seq + last id
      ("m4", 1, None)))
  }

  test("startJsonlIngest: ids re-sent in later files are dropped (at-least-once delivery)") {
    val b1 = Seq(call("m1", "s1", "click", "00:00:01", 1.0),
      call("m2", "s1", "view", "00:00:02", 2.0))
    val got = ingestFiles(
      b1,
      b1, // the whole file re-sent
      // partial re-send: one old row + one new row
      Seq(call("m2", "s1", "view", "00:00:02", 2.0),
        call("m3", "s1", "purchase", "00:20:00", 3.0)))
    assert(got.size == 3) // no id stored twice
    assert(got.toSet == Set(
      ("m1", 1, None), ("m2", 2, Some("m1")), ("m3", 3, Some("m2"))))
  }

  test("startJsonlIngest: a batch re-run after a restart replaces its own files") {
    val files = Seq(
      Seq(call("m1", "s1", "click", "00:00:01", 1.0),
        call("m2", "s1", "view", "00:00:02", 2.0),
        call("m9", "s2", "click", "00:00:03", 9.0)),
      Seq(call("m3", "s1", "purchase", "00:20:00", 3.0),
        call("m4", "s2", "view", "00:21:00", 4.0)),
      Seq(call("m5", "s1", "click", "00:30:00", 5.0),
        call("m6", "s3", "click", "00:31:00", 6.0)))
    val uninterrupted = ingestFiles(files: _*)

    val root = Files.createTempDirectory("graft-restart")
    val in = Files.createDirectory(root.resolve("in"))
    val store = root.resolve("store").toString
    val ckpt = root.resolve("ckpt")
    def start() = startJsonlIngest(spark, in.toString, store, ckpt.toString)
    val q1 = start()
    try files.take(2).foreach { f => stageFile(in, f: _*); q1.processAllAvailable() }
    finally q1.stop()
    // forget that the last batch committed: the restarted query re-runs it
    val commits = ckpt.resolve("commits")
    val last = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      stageFile(in, files(2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val got = storedRows(store)
    assert(got.map(_._1).distinct.size == got.size, s"an id is stored twice: $got")
    assert(got.toSet == uninterrupted.toSet)
    assert(uninterrupted.size == 7)
    // the store's state is in its checkpoint: a fresh checkpoint may not
    // restart its sequences
    intercept[IllegalArgumentException](
      startJsonlIngest(spark, in.toString, store, root.resolve("other").toString))
  }

  test("startJsonlIngest: file-source stream parses JSONL and appends with state") {
    val inDir = Files.createTempDirectory("graft-jsonl").toString
    val store = Files.createTempDirectory("graft-store2").toString + "/mem"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    Files.writeString(java.nio.file.Paths.get(inDir, "a.jsonl"),
      """{"memory_id":"m1","session_id":"s1","tool":"click","timestamp":"2024-01-01T00:00:01Z","value":1.0}
        |{"memory_id":"m2","session_id":"s1","tool":"view","timestamp":"2024-01-01T00:00:02Z","value":2.0}
        |""".stripMargin)
    val pinned = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.checkpointFileManagerClass")
    val confBefore = pinned.map(spark.conf.getOption)
    val q = startJsonlIngest(spark, inDir, store, ckpt)
    assert(pinned.map(spark.conf.getOption) == confBefore) // the caller's conf is left as it was
    try {
      q.processAllAvailable()
      // follow mode: a second file arrives later (tail -f semantics)
      Files.writeString(java.nio.file.Paths.get(inDir, "b.jsonl"),
        """{"memory_id":"m3","session_id":"s1","tool":"purchase","timestamp":"2024-01-01T00:00:09Z","value":3.0}
          |""".stripMargin)
      q.processAllAvailable()
      // each micro-batch reads its staged lines once and never the store
      assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(2L, 1L))
    } finally q.stop()
    val got = spark.read.parquet(store)
      .select("memory_id", "sequence_order", "preceding_memory_id")
      .collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)))).toSet
    assert(got == Set(("m1", 1, None), ("m2", 2, Some("m1")), ("m3", 3, Some("m2"))))
  }

  test("dedupStream: duplicate ids within the watermark emit once") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("memory_id", "ts", "value")
    val q = dedupStream(events, "memory_id", "ts").writeStream
      .format("memory").queryName("dedup").outputMode(OutputMode.Append).start()
    try {
      input.addData(("m1", ts("2024-01-01 10:00:00"), 1.0),
        ("m1", ts("2024-01-01 10:00:05"), 1.0)) // dup inside batch
      q.processAllAvailable()
      input.addData(("m1", ts("2024-01-01 10:10:00"), 1.0), // dup across batches
        ("m2", ts("2024-01-01 10:11:00"), 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("memory_id")
        .collect().map(_.getString(0)).toSeq
      assert(ids.sorted == Seq("m1", "m2"))
    } finally q.stop()
  }

  test("stagedDedupRoundtrip: cross-batch replays dropped, output = distinct input") {
    import spark.implicits._
    // 6 hours of events, one per 30 min; the harness replays the last
    // hour before the midpoint as exact copies in batch 2
    val events = (0L until 12L).map { i =>
      (i, new Timestamp(ts("2024-01-01 00:00:00").getTime + i * 1800 * 1000),
        if (i % 2 == 0) "click" else "view", i * 1.5)
    }.toDF("event_id", "ts", "event_type", "value")
    val out = stagedDedupRoundtrip(spark, events,
      "/tmp/graft_spec_stream_dedup", watermark = "2 hours")
      .select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val expected = (0L until 12L).map(i =>
      (i, if (i % 2 == 0) "click" else "view", i * 1.5)).toSet
    assert(out == expected)
  }

  test("stagedBm25StatsRoundtrip: incremental df/totals folds equal one full-corpus pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta gamma gamma"),
      (4L, "epsilon"),
      (5L, "alpha beta epsilon zeta"),
      (6L, "zeta zeta"))
      .toDF("doc_id", "text")
    val got = stagedBm25StatsRoundtrip(spark, docs, "/tmp/graft_spec_stream_bm25")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // full-corpus truth: df over distinct in-doc terms; N=6; Σdl=16
    val expected = Map(
      "alpha" -> ((3L, 6L, 16L)), "beta" -> ((3L, 6L, 16L)),
      "gamma" -> ((2L, 6L, 16L)), "delta" -> ((1L, 6L, 16L)),
      "epsilon" -> ((2L, 6L, 16L)), "zeta" -> ((2L, 6L, 16L)))
    assert(got == expected)
  }

  test("stagedSubstringSpansRoundtrip: a gram split across batches still reaches dup count") {
    import spark.implicits._
    // doc 0 streams in batch 1, doc 1 in batch 2 (id parity); their shared
    // 4-gram only reaches count 2 AFTER the second fold — finding it
    // proves duplication is decided at read time over the additive store
    val docs = Seq(
      (0L, "one two three four tail0"),
      (1L, "head1 one two three four"),
      (2L, "totally different words here"),
      (3L, "unrelated content again now")
    ).toDF("doc_id", "text")
    val got = StreamingIngest.stagedSubstringSpansRoundtrip(spark, docs,
      "text", "doc_id", k = 4, "/tmp/graft_spec_stream_substr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0L, 1L, 4L, 4L), (1L, 2L, 5L, 4L)))
    // and it equals the one-pass batch recompute
    val batch = graft.operators.Dedup.substringSpans(docs, "text", "doc_id", k = 4)
      .orderBy(col("doc_id"), col("span_start"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batch.toSeq === got.toSeq)
  }

  test("stagedFrequentPairsRoundtrip: kind-tagged store fold equals the one-pass batch recompute") {
    import spark.implicits._
    // baskets 1,2 stream in batch 0 (bk below the row-mean ≈ 5.6),
    // baskets 10,11 in batch 1; pair (10,20) reaches w=3 only across
    // the fold (2 from batch 0 + 1 from batch 1), so equality with the
    // batch recompute proves the single kind-tagged store (r12: one
    // write action + one read per batch, was three of each) still sums
    // pair/item/n states across micro-batches
    val items = Seq(
      (1L, 10L), (1L, 20L),
      (2L, 10L), (2L, 20L), (2L, 30L),
      (10L, 10L), (10L, 20L),
      (11L, 30L), (11L, 40L))
      .toDF("bk", "it")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val staged = rows(StreamingIngest.stagedFrequentPairsRoundtrip(spark,
      items, "bk", "it", minSupport = 2, "/tmp/graft_spec_stream_fp"))
    val batch = rows(graft.operators.MarketBasket.frequentPairs(
      items, "bk", "it", minSupport = 2))
    assert(staged === batch)
    assert(staged === Seq((10L, 20L, 3L, 0.75, 1.0, 4.0 / 3)))
  }

  test("stagedSemanticDedupRoundtrip: folds are sequential — a batch-1 acceptance rejects a batch-2 near-dup") {
    import spark.implicits._
    // ids ≡0 mod 3 are the stored corpus, ≡1 batch 1, ≡2 batch 2; one
    // label → one cell, so every pair is compared
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),     // stored corpus
      (1L, Seq(0.99f, 0.1f, 0f, 0f), 0), // ≈ corpus v0 → rejected in batch 1
      (4L, Seq(0f, 1f, 0f, 0f), 0),      // orthogonal → accepted in batch 1
      (2L, Seq(0.1f, 0.99f, 0f, 0f), 0), // ≈ v4 ONLY → rejected in batch 2
      (5L, Seq(0f, 0f, 1f, 0f), 0)       // fresh direction → accepted
    ).toDF("vec_id", "embedding", "label")
    val got = StreamingIngest.stagedSemanticDedupRoundtrip(spark, vecs,
      "vec_id", "embedding", "label", tau = 0.5, dims = 4,
      "/tmp/graft_spec_stream_semdedup")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      0L -> ((0, true)), 1L -> ((1, false)), 4L -> ((1, true)),
      2L -> ((2, false)), 5L -> ((2, true))))
  }

  test("hourlyRollup: watermarked tumbling window aggregates by event time") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = hourlyRollup(events).writeStream.format("memory")
      .queryName("hourly").outputMode(OutputMode.Update).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(col("win.start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 11:00:00", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionWindows: 30-min inactivity gap splits sessions") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")
    // session windows only emit in Append mode, once the watermark passes
    // the session end — so close the sessions by advancing event time
    val q = sessionWindows(events).writeStream.format("memory")
      .queryName("sess").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 2.0), // same session (10 min gap)
        (ts("2024-01-01 11:30:00"), 1L, 4.0)) // new session (>30 min gap)
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), 99L, 0.0)) // advance watermark
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:00:00"), 99L, 0.0)) // flush emission batch
      q.processAllAvailable()
      val rows = spark.table("sess").where(col("user_id") === 1L)
        .select(col("user_id"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 2L, 3.0), (1L, 1L, 4.0)))
    } finally q.stop()
  }

  test("asofEnrichStream: latest update at-or-before each tick, across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tickIn = MemoryStream[Tick]
    val updIn = MemoryStream[RefUpdate]
    val out = asofEnrichStream(tickIn.toDS(), updIn.toDS(), maxUpdatesPerKey = 2)
    val q = out.writeStream.format("memory").queryName("asof")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = ts(s).getTime
    try {
      // batch 1: two updates and one tick for key A, interleaved in event
      // time within the batch; a tick with no update yet for key B
      updIn.addData(
        RefUpdate("A", ts("2024-01-01 00:00:10"), 1.0),
        RefUpdate("A", ts("2024-01-01 00:00:30"), 3.0))
      tickIn.addData(
        Tick("A", ts("2024-01-01 00:00:20"), "t1"), // between updates → 1.0
        Tick("A", ts("2024-01-01 00:00:30"), "t2"), // equal ts → inclusive 3.0
        Tick("B", ts("2024-01-01 00:00:25"), "t3")) // no updates → None
      q.processAllAvailable()
      // batch 2: state carries A's history; a third update evicts the
      // oldest (cap 2), so a later probe before the horizon finds None
      updIn.addData(RefUpdate("A", ts("2024-01-01 00:01:00"), 7.0))
      q.processAllAvailable()
      tickIn.addData(
        Tick("A", ts("2024-01-01 00:02:00"), "t4"),  // latest → 7.0
        Tick("A", ts("2024-01-01 00:00:15"), "t5"))  // before retained horizon → None
      q.processAllAvailable()
      val rows = spark.table("asof").as[AsofMatch].collect()
        .map(m => m.tickId -> ((m.matchedTsMs, m.matchedValue))).toMap
      assert(rows("t1") == ((Some(t("2024-01-01 00:00:10")), Some(1.0))))
      assert(rows("t2") == ((Some(t("2024-01-01 00:00:30")), Some(3.0))))
      assert(rows("t3") == ((None, None)))
      assert(rows("t4") == ((Some(t("2024-01-01 00:01:00")), Some(7.0))))
      assert(rows("t5") == ((None, None))) // update 00:00:10 was evicted by the cap
    } finally q.stop()
  }

  test("intervalJoinStream: cross-batch pair matches from both-side state; horizon excludes") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[KeyedEvent]
    val rIn = MemoryStream[KeyedEvent]
    val out = intervalJoinStream(lIn.toDF(), rIn.toDF(),
      horizon = "30 minutes", delay = "2 hours")
    val q = out.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: one left row per key; key 1 already has an in-batch match
      lIn.addData(
        KeyedEvent(1L, ts("2024-01-01 10:00:00"), 100L),
        KeyedEvent(2L, ts("2024-01-01 10:05:00"), 200L))
      rIn.addData(KeyedEvent(1L, ts("2024-01-01 10:10:00"), 500L))
      q.processAllAvailable()
      assert(spark.table("ivj").count() == 1)
      // batch 2: a right row matching batch-1 LEFT state (key 2, +20min),
      // one outside the horizon (+31min for key 1), one key-mismatch,
      // and a LEFT row matching batch-2 right state within the batch
      rIn.addData(
        KeyedEvent(2L, ts("2024-01-01 10:25:00"), 600L),
        KeyedEvent(1L, ts("2024-01-01 10:31:00"), 700L),
        KeyedEvent(9L, ts("2024-01-01 10:06:00"), 800L))
      q.processAllAvailable()
      val got = spark.table("ivj").collect()
        .map(r => (r.getLong(1), r.getLong(3))).toSet
      assert(got == Set((100L, 500L), (200L, 600L)))
      // the r.ts >= l.ts bound: a click BEFORE its view never matches
      rIn.addData(KeyedEvent(2L, ts("2024-01-01 10:04:00"), 900L))
      q.processAllAvailable()
      assert(spark.table("ivj").count() == 2)
    } finally q.stop()
  }

  test("intervalJoinStream left_outer: unmatched left emits with nulls only after expiry") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[KeyedEvent]
    val rIn = MemoryStream[KeyedEvent]
    val out = intervalJoinStream(lIn.toDF(), rIn.toDF(),
      horizon = "30 minutes", delay = "1 hour", joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ivjo")
      .outputMode(OutputMode.Append).start()
    try {
      // one matched and one unmatched left row
      lIn.addData(
        KeyedEvent(1L, ts("2024-01-01 10:00:00"), 100L),
        KeyedEvent(2L, ts("2024-01-01 10:00:00"), 200L))
      rIn.addData(KeyedEvent(1L, ts("2024-01-01 10:10:00"), 500L))
      q.processAllAvailable()
      // the match emits immediately; the unmatched row is NOT yet final
      assert(spark.table("ivjo").count() == 1)
      // push the watermark past 10:30 + 1h on both sides, twice (the
      // watermark advances at batch END, so the second push triggers
      // the batch that actually emits the expired outer row)
      for (h <- Seq("14:00:00", "15:00:00")) {
        lIn.addData(KeyedEvent(9L, ts(s"2024-01-01 $h"), 900L))
        rIn.addData(KeyedEvent(9L, ts(s"2024-01-01 $h"), 901L))
        q.processAllAvailable()
      }
      val got = spark.table("ivjo").where(col("key") < 9)
        .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
      assert(got == Set((100L, Some(500L)), (200L, None)))
    } finally q.stop()
  }
}

/** (key, ts, id) wire row for the stream-stream interval-join spec. */
final case class KeyedEvent(key: Long, ts: Timestamp, id: Long)
