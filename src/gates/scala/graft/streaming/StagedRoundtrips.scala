package graft.streaming

import graft.operators.readOnce
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** The correctness-gate harnesses of the streaming operators and folds:
  * each drives one operator of [[StreamingIngest]] or one step of
  * [[Folds]] end to end over staged JSONL ([[StagedStream]]), across at
  * least two micro-batches, and returns a result the gate's oracle
  * recomputes in one batch pass. `workDir` is wiped first.
  */
object StagedRoundtrips {
  import StreamingIngest._

  /** Drive [[StreamingIngest.sequencedTws]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for the transformWithState path, mirroring
    * [[stagedIngestRoundtrip]]'s two event-time-split stagings so the
    * named ValueState must carry (nextSeq, lastId) across the micro-batch
    * boundary. The staged calls carry no payload; `props` reads as null.
    */
  def stagedTwsSequencedRoundtrip(spark: SparkSession, src: DataFrame,
      workDir: String, typed: Boolean = false): DataFrame = {
    import spark.implicits._
    val wire = StructType(Seq(
      StructField("memoryId", StringType),
      StructField("sessionId", StringType),
      StructField("tool", StringType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir, rocksDb = true)
    val calls = src.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, _) = ss.midAndMax(calls)
    ss.stage(calls.where(col("ts") < lit(mid))) // micro-batch 1: sequences start at 1
    val parsed = ss.read(wire.add("props", StringType)).as[ToolCall]
    ss.toMemory(
      if (typed) typeCountsTws(parsed).toDF() else sequencedTws(parsed).toDF(),
      OutputMode.Append,
      // micro-batch 2: ValueState continues them
      () => ss.stage(calls.where(col("ts") >= lit(mid))))
  }

  /** Drive [[StreamingIngest.sessionsTws]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for TWS event-time timers, mirroring
    * [[stagedSessionRoundtrip]] exactly: midpoint event-time split (a
    * micro-batch boundary through live sessions), then TWO sentinel
    * stagings (user −1, far past max + watermark + gap) because the
    * watermark advances at batch END — the batch after the first
    * sentinel is the one whose expired timers emit, the second forces
    * it to run. Sentinels filter out of the returned table.
    */
  def stagedTwsSessionRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    import spark.implicits._
    val wire = StructType(Seq(
      StructField("userId", LongType),
      StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir, rocksDb = true)
    val ev = events.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, maxTs) = ss.midAndMax(ev)
    ss.stage(ev.where(col("ts") < lit(mid))) // micro-batch 1: first half
    def sentinel(offsetMs: Long): Unit = ss.stage(spark.createDataFrame(Seq((-1L,
      new java.sql.Timestamp(maxTs.getTime + offsetMs), 0.0)))
      .toDF("userId", "ts", "value"))
    ss.toMemory(sessionsTws(ss.read(wire).as[UserEvent]).toDF(), OutputMode.Append,
      // micro-batch 2: live sessions span the boundary
      () => ss.stage(ev.where(col("ts") >= lit(mid))),
      // the watermark advances at batch END: the first sentinel moves it
      // past every end+gap, the second forces the batch whose timers fire
      () => sentinel(3L * 3600 * 1000),
      () => sentinel(4L * 3600 * 1000))
      .where(col("userId") >= 0)
  }

  /** Drive [[StreamingIngest.startJsonlIngest]] end-to-end over staged JSONL and return the
    * resulting store — the CORRECTNESS-gate harness for the streaming path
    * (everything before the final read is a side effect; the returned
    * DataFrame is a plain batch scan of the parquet the stream wrote).
    *
    * The source rows are split into two stagings at the midpoint timestamp,
    * with `processAllAvailable` between them, so the store is built across
    * ≥2 micro-batches with sequence state continued in the TWS state. Batch
    * 1 is then RE-SENT as a third file (a producer's at-least-once
    * delivery): every one of its ids must drop out, or ids duplicate and
    * sequences gap.
    *
    * Because the split is by event time, every batch-1 row precedes every
    * batch-2 row within a session, so the final store must equal one global
    * sessionization of the source — exactly what a DuckDB oracle can check.
    *
    * `src` needs canonical columns (memory_id, session_id, tool,
    * timestamp, value). `workDir` is wiped first; timestamps ride the JSONL
    * as explicit micro-precision strings (the default JSON timestamp format
    * is milli-precision and would silently round).
    */
  def stagedIngestRoundtrip(spark: SparkSession, src: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val store = ss.dir("store")
    val calls = src.select((Seq("memory_id", "session_id", "tool", "timestamp",
      "value") ++ src.columns.find(_ == "props")).map(col): _*) // tool-call payload
    val (mid, _) = ss.midAndMax(calls, "timestamp")
    val batch1 = calls.where(col("timestamp") < lit(mid))
    ss.stage(batch1) // micro-batch 1: fresh state
    ss.run(startJsonlIngest(spark, ss.dir("in"), store, ss.dir("ckpt")),
      // micro-batch 2: continues the state's sequences
      () => ss.stage(calls.where(col("timestamp") >= lit(mid))),
      // re-sent delivery: must drop out entirely
      () => ss.stage(batch1))
    spark.read.parquet(store)
  }

  /** Drive [[StreamingIngest.asofEnrichStream]] end-to-end over staged JSONL and return the
    * enriched output — the CORRECTNESS-gate harness for the streaming as-of
    * path, mirroring [[stagedIngestRoundtrip]]: both streams are staged in
    * two halves split at the midpoint EVENT time, with `processAllAvailable`
    * between stagings, so the output is built across ≥2 micro-batches with
    * per-key update history carried in state across the batch boundary.
    * With `tws = true` the same harness drives [[StreamingIngest.asofEnrichTws]] instead
    * (on the RocksDB state store provider TWS requires).
    *
    * Because the split is by event time, every batch-1 event precedes every
    * batch-2 event, so arrival order equals event-time order and the final
    * output must equal the BATCH as-of join of the same inputs — exactly
    * what a DuckDB `ASOF LEFT JOIN` oracle checks. (Callers should
    * millisecond-truncate `ts` first: the streamed envelope carries epoch
    * millis, and splitting sub-millisecond timestamps at the midpoint could
    * otherwise put a tick and its equal-ms update on opposite sides.)
    *
    * `ticks` needs (key, ts, tickId), `updates` (key, ts, refValue);
    * `workDir` is wiped first.
    */
  def stagedAsofRoundtrip(spark: SparkSession, ticks: DataFrame,
      updates: DataFrame, workDir: String,
      tws: Boolean = false): DataFrame = {
    import spark.implicits._
    val tickWire = StructType(Seq(StructField("key", StringType),
      StructField("ts", TimestampType), StructField("tickId", StringType)))
    val updWire = StructType(Seq(StructField("key", StringType),
      StructField("ts", TimestampType), StructField("refValue", DoubleType)))
    val ss = new StagedStream(spark, workDir, rocksDb = tws)
    val tk = ticks.select(tickWire.fieldNames.toSeq.map(col): _*)
    val up = updates.select(updWire.fieldNames.toSeq.map(col): _*)
    val (mid, _) = ss.midAndMax(tk.select(col("ts")).union(up.select(col("ts"))))
    // micro-batch 1: first halves
    ss.stage(tk.where(col("ts") < lit(mid)), "ticks")
    ss.stage(up.where(col("ts") < lit(mid)), "updates")
    val tickDs = ss.read(tickWire, "ticks").as[Tick]
    val updDs = ss.read(updWire, "updates").as[RefUpdate]
    ss.toMemory(
      (if (tws) asofEnrichTws(tickDs, updDs) else asofEnrichStream(tickDs, updDs)).toDF(),
      OutputMode.Append,
      // micro-batch 2+: state continues histories. Updates FIRST: the
      // running stream may fire a micro-batch between the two stagings,
      // and a tick must never be processed before the updates of its own
      // half land (extra updates ahead of ticks are harmless — they only
      // extend history ticks haven't probed yet)
      () => {
        ss.stage(up.where(col("ts") >= lit(mid)), "updates")
        ss.stage(tk.where(col("ts") >= lit(mid)), "ticks")
      })
  }

  /** Drive [[StreamingIngest.hourlyRollup]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for the streaming event-time aggregation:
    * two stagings split at the midpoint event time force the micro-batch
    * boundary through the MIDDLE of a live hour, so the final counts for
    * boundary windows must come from state merged across batches. The
    * memory sink runs in Complete mode (every batch re-emits the full
    * aggregate), so the final table equals the batch rollup of the same
    * events — checkable by the same oracle as the batch twin.
    */
  def stagedRollupRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val wire = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir)
    val ev = events.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, _) = ss.midAndMax(ev)
    ss.stage(ev.where(col("ts") < lit(mid))) // micro-batch 1: first half
    ss.toMemory(hourlyRollup(ss.read(wire)), OutputMode.Complete,
      // micro-batch 2: merges boundary-hour state
      () => ss.stage(ev.where(col("ts") >= lit(mid))))
  }

  /** Drive [[StreamingIngest.sessionWindows]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for streaming inactivity sessionization,
    * in APPEND mode with a real watermark: sessions only emit once the
    * watermark passes their close, so the harness appends sentinel
    * events (user_id −1) far past the horizon to flush them. TWO flush
    * stagings are needed — Spark advances the watermark at the END of a
    * batch, so the batch after the first sentinel is the one that emits
    * (the second sentinel forces it to run). Sentinels filter out of the
    * returned table; their own still-open session is never emitted.
    *
    * The event-time midpoint split again forces micro-batch boundaries
    * through live sessions — merged session state, not per-batch
    * sessions, is what the oracle checks.
    */
  def stagedSessionRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val wire = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir)
    val ev = events.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, maxTs) = ss.midAndMax(ev)
    ss.stage(ev.where(col("ts") < lit(mid))) // micro-batch 1: first half
    def sentinel(offsetHours: Int): Unit = ss.stage(spark.range(1).select(
      (lit(maxTs).cast("timestamp") +
        expr(s"INTERVAL $offsetHours HOURS")).as("ts"),
      lit(-1L).as("user_id"), lit(0.0).as("value")))
    ss.toMemory(sessionWindows(ss.read(wire), gap, watermark), OutputMode.Append,
      // micro-batch 2: merges boundary sessions
      () => ss.stage(ev.where(col("ts") >= lit(mid))),
      // the watermark advances at batch END: the first sentinel moves it
      // past every session, the second forces the batch that emits them
      () => sentinel(4),
      () => sentinel(5))
      .where(col("user_id") >= 0)
  }

  /** Drive [[StreamingIngest.dedupStream]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for streaming dedup. Batch 2 re-delivers an
    * exact copy of batch 1's last hour (event times still inside the
    * watermark horizon when batch 2 runs) alongside its own new rows, so
    * those duplicates can only be dropped by dedup STATE carried across
    * the micro-batch boundary — not by within-batch dedup and not by the
    * late-event filter. Re-deliveries older than the horizon are dropped
    * as late events; either way every id survives exactly once, so the
    * final table must equal the distinct original events (the batch
    * oracle needs no dedup knowledge at all).
    */
  def stagedDedupRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String, watermark: String = "2 hours"): DataFrame = {
    val wire = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir)
    val ev = events.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, _) = ss.midAndMax(ev)
    val firstHalf = ev.where(col("ts") < lit(mid))
    ss.stage(firstHalf) // micro-batch 1: first half, ids into state
    ss.toMemory(dedupStream(ss.read(wire), "event_id", "ts", watermark),
      OutputMode.Append,
      // micro-batch 2: state drops the replays — batch 1's last hour
      // verbatim (inside the horizon: the watermark after batch 1 is
      // mid − watermark) + the real second half
      () => ss.stage(firstHalf.where(col("ts") >= lit(mid) - expr("INTERVAL 1 HOUR"))
        .unionByName(ev.where(col("ts") >= lit(mid)))))
  }

  /** S10 follow mode — the reference's `tail -f` half of the log source
    * (log_viewer.py:151-172 `tail_file`: seek-to-end + poll readline)
    * re-expressed as a Structured Streaming file source: lines appended
    * to the directory surface in later micro-batches only, each batch
    * parses ONLY its new lines (stateless), and the memory sink
    * accumulates the parsed store. Wire shape and parse contract are the
    * reference's `parse_log_line` regex
    * (`Message from (client|server): (json) \{ metadata`,
    * log_viewer.py:18-22), via the same locate+substring+from_json path
    * as the batch gate `log_parse_roundtrip` (regex-free hot path). Two
    * staged writes, one file each, one file per trigger → ≥2 pinned
    * micro-batches. The oracle is the one-shot batch parse of the same
    * lines: `read_file` ≡ `tail_file` over the reference's shared parser
    * is exactly follow-fold ≡ batch-scan here.
    */
  def stagedLogFollowRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val lines = events.select(
      col("event_id"),
      concat(lit("Message from "),
        when(pmod(col("event_id"), lit(2)) === 0, lit("client"))
          .otherwise(lit("server")),
        lit(": {\"id\": "), col("event_id"),
        lit(", \"tool\": \""), col("event_type"),
        lit("\"} { metadata: {} }")).as("value"))
    // the wire is raw log lines, not JSONL: one file per staging
    def stage(b: DataFrame): Unit =
      b.select(col("value")).coalesce(1).write.mode("append").text(ss.dir("in"))

    // "existing file, then appended lines": client half is on disk before
    // the stream starts (the seek(0,2) baseline), server half lands after
    // batch 0 — the tail
    stage(lines.where(pmod(col("event_id"), lit(2)) === 0))

    val parsed = ss.lines(filesPerTrigger = 1)
      .where(col("value").startsWith("Message from "))
      // prefix is fixed → first ": " terminates the direction; payload
      // runs to the " { metadata" suffix (reference regex group 2)
      .withColumn("direction",
        expr("substring(value, 14, locate(': ', value) - 14)"))
      .withColumn("payload", expr(
        """substring(value, locate(': ', value) + 2,
          |  locate(' { metadata', value) - locate(': ', value) - 2)"""
          .stripMargin))
      .where(col("direction").isin("client", "server"))
      .withColumn("j", from_json(col("payload"),
        StructType(Seq(StructField("id", LongType),
          StructField("tool", StringType)))))
      .select(col("direction"), col("j.id").as("id"), col("j.tool").as("tool"))

    ss.toMemory(parsed, OutputMode.Append,
      // batch 1: the tailed lines
      () => stage(lines.where(pmod(col("event_id"), lit(2)) === 1)))
  }

  /** Streaming SCD2 maintenance gate harness: a REAL file stream feeds
    * `foreachBatch`, the first micro-batch builds the dimension with
    * [[graft.operators.Scd.buildScd2]], every later batch folds in with
    * [[graft.operators.Scd.applyScd2]] — the daily-dimension-refresh loop
    * as a stream. Each batch writes a NEW versioned store directory
    * (write-new-then-read-latest; overwriting the directory a batch is
    * reading is the classic self-overwrite corruption). The staging
    * splits events by time, so every batch's updates come after the
    * current rows' valid_from — applyScd2's documented precondition.
    * Returns the final store; the gate's oracle is the FULL-REBUILD SQL,
    * so the stream of incremental folds must land row-identical to one
    * batch build over all history.
    */
  def stagedScd2Roundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val stateCols = Seq("event_type", "value")
    val wire = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val ss = new StagedStream(spark, workDir)
    val ev = events.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, _) = ss.midAndMax(ev)
    ss.stage(ev.where(col("ts") < lit(mid))) // batch 0: build the dimension
    // batch 1+: incremental folds
    ss.fold(ss.read(wire), () => ss.stage(ev.where(col("ts") >= lit(mid)))) {
      case (batch, None, save) =>
        save(graft.operators.Scd.buildScd2(batch, "user_id", "ts", "event_id", stateCols))
      case (batch, Some(prev), save) =>
        save(graft.operators.Scd.applyScd2(prev, batch,
          "user_id", "ts", "event_id", stateCols))
    }
  }

  /** Drive [[Folds.bm25Stats]] — incremental BM25 corpus statistics, the
    * missing half of hybrid search's continuous-upsert story (the
    * reference re-embeds and upserts per call; its sparse ranking's corpus
    * stats drift with every insert, storage.py:194-199). Documents split
    * by id, so batches are doc-complete.
    *
    * Returns the final stats joined flat — (term, df, n_docs, sum_dl) —
    * which the gate's oracle recomputes as ONE full-corpus SQL pass: the
    * stream of incremental folds must land row-identical to the batch
    * recompute.
    */
  def stagedBm25StatsRoundtrip(spark: SparkSession, docs: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = docs.select("doc_id", "text")
    val mid = ss.keyMid(src, "doc_id")
    ss.stage(src.where(col("doc_id") < mid)) // batch 0: seed the stats store
    val wire = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val st = ss.fold(ss.read(wire), // batch 1+: incremental folds
        () => ss.stage(src.where(col("doc_id") >= mid))) { (batch, prev, save) =>
      readOnce(batch)(save(Folds.bm25Stats(batch, prev)))
    }
    st.where(col("term").isNotNull).select(col("term"), col("df"))
      .crossJoin(st.where(col("term").isNull).select(col("n_docs"), col("sum_dl")))
  }

  /** Drive [[Folds.cmsCells]], the count-min sketch fold; estimates at
    * read time broadcast the final store.
    *
    * Returns the final audit (key, true_cnt, est, overcount) over the full
    * staged corpus; the gate's oracle recomputes the same audit in one
    * batch pass, so fold == recompute is the roundtrip contract.
    */
  def stagedCmsRoundtrip(spark: SparkSession, items: DataFrame,
      keyCol: String, depth: Int, width: Int, workDir: String): DataFrame = {
    require(items.schema(keyCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"stagedCmsRoundtrip: $keyCol must be LONG (wire schema)")
    val ss = new StagedStream(spark, workDir)
    val src = items.select(col(keyCol).as("k")).where(col("k").isNotNull)
    val mid = ss.keyMid(src, "k")
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the cell store
    val sketch = ss.fold(ss.read(StructType(Seq(StructField("k", LongType)))),
        // batch 1+: additive folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev, save) =>
      save(Folds.cmsCells(batch, prev, depth, width))
    }
    val exact = items.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("true_cnt"))
    graft.operators.CountMin.estimate(sketch, items, keyCol, depth, width)
      .join(exact, "key")
      .select(col("key"), col("true_cnt"), col("est"),
        (col("est") - col("true_cnt")).as("overcount"))
  }

  /** Drive [[Folds.abArmCounts]], the A/B z-test fold. The z statistic
    * from the folded counts must equal the one-pass batch test
    * bit-for-bit, so the gate reuses `events_ab_ztest`'s oracle verbatim.
    */
  def stagedAbZtestRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"))
    def half(parity: Int): DataFrame =
      src.where(pmod(col("event_id"), lit(2)) === parity)
        .select(col("user_id"), col("event_type"))
    ss.stage(half(0), oneFile = false) // batch 0: seed the arm store
    val wire = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val arms = ss.fold(ss.read(wire),
        () => ss.stage(half(1), oneFile = false)) { (batch, prev, save) => // batch 1+: additive folds
      save(Folds.abArmCounts(batch, prev))
    }
    arms.agg(
        sum(when(col("arm") === 0, col("n")).otherwise(0L)).cast("long")
          .as("n1"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L)).cast("long")
          .as("x1"),
        sum(when(col("arm") === 1, col("n")).otherwise(0L)).cast("long")
          .as("n2"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L)).cast("long")
          .as("x2"))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        expr("""round((cast(x1 as double) / n1 - cast(x2 as double) / n2)
          / sqrt((cast(x1 + x2 as double) / (n1 + n2))
            * (1.0 - cast(x1 + x2 as double) / (n1 + n2))
            * (1.0 / n1 + 1.0 / n2)), 6)""").as("z"))
      .withColumn("significant", abs(col("z")) > 1.959964)
  }

  /** Drive [[Folds.presence]], incremental maintenance of a
    * DISTINCT-view: the 7-day rolling-actives curve computed at READ time
    * over the folded presence store must equal the batch
    * `events_rolling_actives` gate row-for-row — its oracle is shared
    * verbatim.
    */
  def stagedRollingActivesRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
    def half(parity: Int): DataFrame =
      src.where(pmod(col("event_id"), lit(2)) === parity)
        .select(col("user_id"), col("day"))
    ss.stage(half(0), oneFile = false) // batch 0: seed the presence store
    val wire = StructType(Seq(
      StructField("user_id", LongType),
      StructField("day", StringType)))
    val presence = ss.fold(ss.read(wire),
        () => ss.stage(half(1), oneFile = false)) { (batch, prev, save) => // batch 1+: set-union folds
      save(Folds.presence(batch, prev))
    }
    val ud = presence.select(col("user_id"), to_date(col("day")).as("day"))
    val spine = broadcast(ud.select(col("day").as("d")).distinct())
    ud.join(spine, datediff(col("d"), col("day")).between(0, 6))
      .groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("active_users"))
      .orderBy(col("day"))
  }

  /** Drive [[Folds.peakBoundaries]], the peak-concurrency fold; batches
    * split on user_id, so they are user-complete. The running maximum is
    * taken at read time, and the result must equal the batch gate
    * bit-for-bit; oracle shared verbatim.
    */
  def stagedPeakConcurrencyRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col("user_id").cast("long").as("user_id"),
      expr("unix_micros(ts)").as("us"))
    def half(parity: Int): DataFrame =
      src.where(pmod(col("user_id"), lit(2)) === parity)
    ss.stage(half(0)) // batch 0: seed the boundary store
    // user-completeness is LOAD-BEARING here (sessions are per-user), so
    // pin the batch boundary explicitly rather than relying on the file
    // source's default read-all-available: each staged write is exactly
    // ONE file and each trigger reads exactly ONE file → staged write ≡
    // micro-batch, by construction user-complete under the even/odd split
    val wire = StructType(Seq(
      StructField("user_id", LongType),
      StructField("us", LongType)))
    val run = ss.fold(ss.read(wire, filesPerTrigger = 1),
        () => ss.stage(half(1))) { (batch, prev, save) => // batch 1+: additive folds
      readOnce(batch)(save(Folds.peakBoundaries(batch, prev, gapUs = 30L * 60 * 1000000L)))
    }
      .withColumn("conc", sum(col("d")).over(
        Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("mx", max(col("conc")).over(Window.partitionBy()))
    run.agg(
      sum(col("starts")).cast("long").as("n_sessions"),
      max(col("conc")).cast("long").as("peak_concurrency"),
      min(when(col("conc") === col("mx"), col("t"))).as("peak_at_us"))
  }

  /** Drive [[Folds.gramCounts]], the substring-dedup fold, plus an
    * append-only position log; documents split on the doc id, so batches
    * are doc-complete. Duplication is decided at READ time, so the final
    * spans must equal the one-pass batch
    * [[graft.operators.Dedup.substringSpans]] verbatim, and the gate
    * reuses the batch oracle SQL unchanged.
    */
  def stagedSubstringSpansRoundtrip(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, k: Int, workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val posDir = ss.dir("pos")
    val src = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    ss.stage(src.where(col("doc_id") % 2 === 0))
    val wire = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val grams = ss.fold(ss.read(wire),
        () => ss.stage(src.where(col("doc_id") % 2 === 1))) { (batch, prev, save) =>
      // two writes read the batch: the position log and the next version
      readOnce(batch) {
        graft.operators.Dedup.shinglePositions(batch, "text", "doc_id", k)
          .write.mode("append").parquet(posDir)
        save(Folds.gramCounts(batch, prev, k))
      }
    }
    val dupPos = spark.read.parquet(posDir)
      .join(grams.where(col("cnt") >= 2).select(col("h")), "h")
      .select(col("doc_id"), col("p"))
    graft.operators.Dedup.spansFromDupPositions(dupPos, "doc_id", k)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Drive [[Folds.semanticDedupAccept]] (the streaming shape of
    * dedup_semantic_incremental) from a pre-existing stored corpus, whose
    * label centroids are the fixed cells — the model artifact a
    * production store already has. The fold is sequential: a vector
    * accepted from batch 1 can reject a batch-2 near-duplicate, which is
    * exactly what the unrolled two-fold oracle checks. Embeddings ride the
    * JSONL wire as float arrays (shortest-repr JSON round-trips IEEE
    * floats exactly).
    *
    * Output: (vec_id, batch, accepted) for every input vector — stored
    * corpus rows are batch 0 and always accepted.
    */
  def stagedSemanticDedupRoundtrip(spark: SparkSession, vecs: DataFrame,
      idCol: String, vecCol: String, labelCol: String, tau: Double,
      dims: Int, workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = vecs.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      col(labelCol).as("label"))
    val corpus = src.where(col("vec_id") % 3 === 0)
    val cents = graft.operators.Similarity.centroidsFromLong(
      graft.operators.Similarity.labelCentroids(corpus, "embedding", "label"))
    // the pre-existing stored corpus every fold starts from
    val corpusDir = ss.dir("corpus")
    graft.operators.Similarity.ivfAssign(corpus, "embedding", "vec_id", cents)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(corpusDir)

    def batchOf(n: Int): DataFrame =
      src.where(col("vec_id") % 3 === n).select(col("vec_id"), col("embedding"))
    ss.stage(batchOf(1)) // fold batch 1 against the stored corpus
    val wire = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // fold batch 2 against corpus ∪ accepted(1)
    val fin = ss.fold(ss.read(wire), () => ss.stage(batchOf(2))) { (batch, prev, save) =>
      readOnce(batch)(save(Folds.semanticDedupAccept(batch,
        prev.orElse(Some(spark.read.parquet(corpusDir))), cents, tau, dims)))
    }.select(col("vec_id"))
    src.select(col("vec_id"), (col("vec_id") % 3).cast("int").as("batch"))
      .join(fin.withColumn("acc_", lit(true)), Seq("vec_id"), "left")
      .withColumn("accepted", coalesce(col("acc_"), lit(false)))
      .select(col("vec_id"), col("batch"), col("accepted"))
      .orderBy(col("vec_id"))
  }

  /** Drive [[Folds.frequentPairCounts]], the market-basket fold; the
    * stream of folds must equal ONE full-corpus
    * [[graft.operators.MarketBasket.frequentPairs]] recompute (the
    * gate's oracle). Batches split on the basket key, so they are
    * basket-complete; minSupport and the metric divisions apply at read
    * time.
    */
  def stagedFrequentPairsRoundtrip(spark: SparkSession, items: DataFrame,
      basketCol: String, itemCol: String, minSupport: Long,
      workDir: String): DataFrame = {
    // staged-harness contract: both keys must be LONG (the wire schema
    // below parses them as such — a string item would silently null out)
    // and the input non-empty (the split midpoint needs a mean). The
    // general-schema form is MarketBasket.frequentPairs; this harness
    // exists to prove the FOLD equals it.
    require(Seq(basketCol, itemCol).forall(c =>
      items.schema(c).dataType == org.apache.spark.sql.types.LongType),
      s"stagedFrequentPairsRoundtrip: $basketCol/$itemCol must be LONG")
    // a ~300k-row pair join + the store write per batch: this gate's
    // shuffle volume wants more partitions than the other staged gates
    // (p8 beat p4 here)
    val ss = new StagedStream(spark, workDir, parts = 8)

    // null keys dropped up front — mirrors the batch operator's
    // inner-join semantics, so the fold and the recompute see one corpus
    val src = items.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .where(col("bk").isNotNull && col("it").isNotNull)
    val mid = ss.keyMid(src, "bk")
    // one file per staging: a multi-file staging can be listed mid-commit
    // and split over two micro-batches, which splits a basket (its
    // cross-batch pairs lost, itself counted twice)
    ss.stage(src.where(col("bk") < mid)) // batch 0: seed the count store
    val wire = StructType(Seq(
      StructField("bk", LongType),
      StructField("it", LongType)))
    val st = ss.fold(ss.read(wire), // batch 1+: incremental folds
        () => ss.stage(src.where(col("bk") >= mid))) { (batch, prev, save) =>
      readOnce(batch)(save(Folds.frequentPairCounts(batch, prev)))
    }
    val nb = st.where(col("kind") === "n")
      .select(col("nb")).collect()(0).getLong(0)
    val ic = st.where(col("kind") === "i").select(col("it"), col("c"))
    st.where(col("kind") === "p").select(col("a"), col("b"), col("w"))
      .where(col("w") >= minSupport)
      .join(broadcast(ic.select(col("it").as("a"), col("c").as("ca_"))), "a")
      .join(broadcast(ic.select(col("it").as("b"), col("c").as("cb_"))), "b")
      .select(col("a"), col("b"), col("w"),
        (col("w").cast("double") / lit(nb)).as("support"),
        (col("w").cast("double") / col("ca_")).as("confidence"),
        // double product, not BIGINT — silent 64-bit wrap at scale
        // (same fix as MarketBasket.frequentPairs' lift)
        ((col("w").cast("double") * lit(nb)) /
          (col("ca_").cast("double") * col("cb_").cast("double")))
          .as("lift"))
  }

  /** Streaming CDC fold — MERGE as a stream: per micro-batch, the store
    * keeps ONLY the winning row per key, tombstones included
    * ([[graft.operators.Scd.cdcWinners]], associative), so the fold
    * equals the one-pass batch [[graft.operators.Scd.cdcApply]] verbatim
    * and the gate shares its oracle. The `op ≠ D` filter applies at read
    * time only.
    */
  def stagedCdcRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("event_id"), col("value"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"))
    val mid = ss.keyMid(src, "event_id")
    ss.stage(src.where(col("event_id") < mid), oneFile = false) // batch 0: seed the winner store
    val wire = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType),
      StructField("op", StringType)))
    val order = Seq("ts_us", "event_id")
    ss.fold(ss.read(wire), // batch 1+: associative winner folds
        () => ss.stage(src.where(col("event_id") >= mid), oneFile = false)) { (batch, prev, save) =>
      val bw = graft.operators.Scd.cdcWinners(batch, "user_id", order)
      save(prev.fold(bw)(p => graft.operators.Scd.cdcWinners(
        p.unionByName(bw), "user_id", order)))
    }
      .where(col("op") =!= "D")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        round(col("value"), 6).as("last_value"))
  }

  /** Drive [[Folds.hllRegisters]], the HyperLogLog fold.
    *
    * Returns the final audit (group, true_ndv, est, v_empty, rel_err)
    * over the full staged corpus; the fold must equal the one-pass batch
    * [[graft.operators.HyperLogLog.audit]] bit-for-bit (max-merge is
    * exact, not approximate), so the gate shares the batch oracle SQL
    * verbatim.
    */
  def stagedHllRoundtrip(spark: SparkSession, items: DataFrame,
      keyCol: String, groupCol: String, workDir: String): DataFrame = {
    require(items.schema(keyCol).dataType == LongType,
      s"stagedHllRoundtrip: $keyCol must be LONG (wire schema)")
    val ss = new StagedStream(spark, workDir)
    val src = items.select(col(keyCol).as("k"), col(groupCol).as("g"))
      .where(col("k").isNotNull)
    val mid = ss.keyMid(src, "k")
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the register store
    val wire = StructType(Seq(
      StructField("k", LongType), StructField("g", StringType)))
    val regs = ss.fold(ss.read(wire), // batch 1+: idempotent max folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev, save) =>
      save(Folds.hllRegisters(batch, prev))
    }
    val est = graft.operators.HyperLogLog.estimate(regs, Seq("g"))
    val exact = items.groupBy(col(groupCol).as("g"))
      .agg(countDistinct(col(keyCol)).as("true_ndv"))
    est.join(exact, "g")
      .select(col("g").as(groupCol), col("true_ndv"), col("est"),
        col("v_empty"),
        round((col("est") - col("true_ndv")) / col("true_ndv"), 4)
          .as("rel_err"))
  }

  /** Drive [[Folds.kmvSketch]], the KMV fold: the audit over the folded
    * sketch equals the one-pass batch [[graft.operators.Kmv.audit]]
    * bit-for-bit — the gate shares the batch oracle SQL verbatim.
    */
  def stagedKmvRoundtrip(spark: SparkSession, items: DataFrame,
      keyCol: String, groupCol: String, k: Int, workDir: String): DataFrame = {
    require(items.schema(keyCol).dataType == LongType,
      s"stagedKmvRoundtrip: $keyCol must be LONG (wire schema)")
    val ss = new StagedStream(spark, workDir)
    val src = items.select(col(keyCol).as("k"), col(groupCol).as("g"))
      .where(col("k").isNotNull)
    val mid = ss.keyMid(src, "k")
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the sketch store
    val wire = StructType(Seq(
      StructField("k", LongType), StructField("g", StringType)))
    val sk = ss.fold(ss.read(wire), // batch 1+: idempotent k-min folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev, save) =>
      save(Folds.kmvSketch(batch, prev, k))
    }
      .groupBy(col("g"))
      .agg(array_sort(collect_set(col("h"))).as("kmv"))
    val exact = items.groupBy(col(groupCol).as("g"))
      .agg(countDistinct(col(keyCol)).as("true_ndv"))
    sk.join(exact, "g")
      .select(col("g").as(groupCol), col("true_ndv"),
        graft.operators.Kmv.estCol(col("kmv"), k).as("est"),
        size(col("kmv")).cast("long").as("n_held"))
      .withColumn("rel_err",
        round((col("est") - col("true_ndv")) / col("true_ndv"), 4))
  }

  /** Drive [[Folds.lifetimes]], the Kaplan-Meier fold: the KM curve
    * (risk table + fixed-point product) computes at READ time over the
    * folded lifetimes, and the result equals the one-pass batch
    * [[graft.operators.Survival.kaplanMeier]] bit-for-bit (the gate
    * shares the batch oracle SQL verbatim).
    */
  def stagedSurvivalRoundtrip(spark: SparkSession, events: DataFrame,
      subjectCol: String, tsCol: String, workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col(subjectCol).cast("long").as("u"),
        date_format(to_date(col(tsCol)), "yyyy-MM-dd").as("dd"))
      .where(col("u").isNotNull)
    // split mid-stream so most subjects span BOTH batches: the fold must
    // merge a batch-0 first-seen with a batch-1 last-seen
    val mid = src.agg(expr("percentile_approx(unix_date(to_date(dd)), 0.5)"))
      .collect()(0).getAs[Number](0).longValue
    ss.stage(src.where(expr(s"unix_date(to_date(dd)) < $mid")),
      oneFile = false) // batch 0: seed first/last-seen store
    val wire = StructType(Seq(
      StructField("u", LongType), StructField("dd", StringType)))
    val store = ss.fold(ss.read(wire), // batch 1+: idempotent min/max folds
        () => ss.stage(src.where(expr(s"unix_date(to_date(dd)) >= $mid")),
          oneFile = false)) { (batch, prev, save) =>
      save(Folds.lifetimes(batch, prev))
    }
      .select(col("u"), to_date(col("first_d")).as("first_d"),
        to_date(col("last_d")).as("last_d"))
    // read-time lifetime derivation — identical to Survival.lifetimes
    val cutoff = store.agg(max(col("last_d"))).collect()(0).getDate(0)
    val life = store.select(col("u").as("subject"),
      datediff(col("last_d"), col("first_d")).cast("long").as("dur"),
      when(col("last_d") < lit(cutoff.toString), 1L).otherwise(0L).as("ev"))
    graft.operators.Survival.kaplanMeier(life, "dur", "ev")
  }

  /** Drive [[StreamingIngest.intervalJoinStream]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for the stream-stream join, mirroring
    * [[stagedAsofRoundtrip]]: both streams staged in two halves split at
    * the midpoint EVENT time with `processAllAvailable` between, so
    * cross-boundary pairs (a batch-2 right row matching a batch-1 left
    * row still held in join state) are exactly what the second batch must
    * produce. Because the split is by event time, arrival order equals
    * event-time order, every batch-1 row precedes the watermark horizon
    * when its partner arrives, and the final output must equal the BATCH
    * interval join of the same inputs — a plain SQL oracle.
    *
    * Both inputs need (key, ts, id); `workDir` is wiped first.
    */
  def stagedIntervalJoinRoundtrip(spark: SparkSession, left: DataFrame,
      right: DataFrame, workDir: String,
      horizon: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    val wire = StructType(Seq(
      StructField("key", LongType), StructField("ts", TimestampType),
      StructField("id", LongType)))
    // A stream-stream join commits FOUR state stores per shuffle
    // partition per micro-batch (two sides × two join-state stores); at
    // gate scale that fixed commit overhead dominates, so the stream
    // captures a small state partitioning at start (p2 measured best
    // here: 2 × 4 stores × 4 batches = 32 commits; ~20k state rows per
    // side split 2 ways stays trivially in memory)
    val ss = new StagedStream(spark, workDir, parts = 2)
    val l = left.select(wire.fieldNames.toSeq.map(col): _*)
    val r = right.select(wire.fieldNames.toSeq.map(col): _*)
    val (mid, maxTs) = ss.midAndMax(l.select(col("ts")).union(r.select(col("ts"))))
    // micro-batch 1: within-half pairs
    ss.stage(l.where(col("ts") < lit(mid)), "left")
    ss.stage(r.where(col("ts") < lit(mid)), "right")
    // Outer results (unmatched left rows + nulls) emit only once the
    // watermark proves no future right row can match. Two sentinels on
    // BOTH sides (key −1, far past max + delay + horizon) flush them:
    // Spark advances the watermark at the END of a batch, so the batch
    // after the first sentinel is the one that emits and the second
    // sentinel forces it to run. Sentinel 1 rides the second-half
    // staging (one fewer micro-batch: watermarks act on LATER batches, so
    // it can't make its own batch's rows late); sentinels filter out of
    // the returned table and their own pair (same key, same instant)
    // never leaves here.
    val outer = joinType == "left_outer"
    def sentinel(offsetMs: Long): Unit = {
      val sdf = spark.createDataFrame(Seq((-1L,
        new java.sql.Timestamp(maxTs.getTime + offsetMs), -1L)))
        .toDF("key", "ts", "id")
      ss.stage(sdf, "left"); ss.stage(sdf, "right")
    }
    val secondHalf = () => { // micro-batch 2+: cross-boundary pairs
      ss.stage(l.where(col("ts") >= lit(mid)), "left")
      ss.stage(r.where(col("ts") >= lit(mid)), "right")
      if (outer) sentinel(3L * 3600 * 1000)
    }
    // outer: the batch that emits the expired outer rows
    val flush = if (outer) Seq(() => sentinel(4L * 3600 * 1000)) else Nil
    ss.toMemory(
      intervalJoinStream(ss.read(wire, "left"), ss.read(wire, "right"),
        horizon, joinType = joinType),
      OutputMode.Append, secondHalf +: flush: _*)
      .where(col("key") >= 0)
  }
}
