package graft.streaming

import graft.model.MemoryModel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming ingest (SURVEY §2.10): the reference's operational shape — an
  * unbounded sequence of tool-call events with per-session ordering state —
  * expressed as Structured Streaming.
  *
  * The reference assigns `sequence_order` by reading back the session's
  * last memory before every insert (storage.py:113-143, server.py:96-103):
  * one Qdrant round-trip per event, arrival-order semantics. Here the same
  * state lives either
  *  - in [[sequencedTws]]'s `transformWithState` per-session state (one
  *    shuffle per micro-batch, state store holds (nextSeq, lastId) per
  *    session — bounded, keyed, checkpointed), or
  *  - in the store itself via [[ingestBatch]] (foreachBatch: window over
  *    the batch + join against the stored per-session max — idempotent on
  *    memory_id, exactly-once on replays with the same batch).
  *
  * Event-time operators for the extension surface: [[hourlyRollup]]
  * (watermarked tumbling window) and [[sessionWindows]] (built-in
  * `session_window` — the idiomatic Spark-first form of 30-min-inactivity
  * sessionization).
  */
object StreamingIngest {

  /** A tool-call event on the stream (arrival order within a micro-batch is
    * normalized to (ts, memoryId) — the reference's arrival-order semantics
    * made deterministic). */
  final case class ToolCall(
      memoryId: String, sessionId: String, tool: String,
      ts: java.sql.Timestamp, value: Double)

  final case class SequencedCall(
      memoryId: String, sessionId: String, tool: String,
      ts: java.sql.Timestamp, value: Double,
      sequenceOrder: Int, precedingMemoryId: Option[String])

  final case class SeqState(nextSeq: Int, lastId: Option[String])

  /** Per-session sequence assignment with keyed state — the streaming
    * twin of [[MemoryModel.sessionize]] — on Spark 4's `transformWithState`,
    * the arbitrary-state API that supersedes `flatMapGroupsWithState`:
    * typed, NAMED state variables with per-variable encoders and TTL
    * (vs one opaque state blob), timers as first-class citizens, and a
    * RocksDB-backed store (the harness pins the provider — TWS requires
    * it). Per-session gapless sequence, arrival order normalized to
    * (ts, memoryId); state per session is two fields, so the store scales
    * with live sessions, not history. The engine surface exercised:
    * init-time state registration via `getHandle.getValueState`,
    * `exists()/get()/update()` row handling, and state carried across
    * micro-batches by the TWS operator.
    */
  class TwsSequencer extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, ToolCall, SequencedCall] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SeqState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SeqState]("seq",
        org.apache.spark.sql.Encoders.product[SeqState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[ToolCall],
        tv: TimerValues): Iterator[SequencedCall] = {
      var s = if (st.exists()) st.get() else SeqState(1, None)
      // µs-precision sort key (getTime is ms-truncated; the staged wire
      // format carries micros), ties by id — matches the oracle's
      // ORDER BY ts, memory_id exactly
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      val out = rows.toSeq.sortBy(c => (us(c.ts), c.memoryId)).map { c =>
        val r = SequencedCall(c.memoryId, key, c.tool, c.ts, c.value,
          s.nextSeq, s.lastId)
        s = SeqState(s.nextSeq + 1, Some(c.memoryId))
        r
      }
      st.update(s)
      out.iterator
    }
  }

  def sequencedTws(calls: Dataset[ToolCall]): Dataset[SequencedCall] = {
    import calls.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    calls.groupByKey(_.sessionId)
      .transformWithState(new TwsSequencer, TimeMode.None(),
        OutputMode.Append())
  }

  /** Drive [[sequencedTws]] end-to-end over staged JSONL — the
    * CORRECTNESS-gate harness for the transformWithState path, mirroring
    * [[stagedIngestRoundtrip]]'s two event-time-split stagings so the
    * named ValueState must carry (nextSeq, lastId) across the micro-batch
    * boundary. TWS requires the RocksDB state store provider; the
    * harness pins it for the stream's lifetime and restores the session
    * default after (provider choice is captured at query start).
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
    val parsed = ss.read(wire).as[ToolCall]
    ss.toMemory(
      if (typed) typeCountsTws(parsed).toDF() else sequencedTws(parsed).toDF(),
      OutputMode.Append,
      // micro-batch 2: ValueState continues them
      () => ss.stage(calls.where(col("ts") >= lit(mid))))
  }

  /** Wire row / state row / output row for the timer-driven TWS
    * sessionizer. Session sums are carried as exact CENTS (the
    * decimal(18,2) quantization the session oracles already use), so the
    * fold is integer and the one double conversion happens at emit. */
  final case class UserEvent(userId: Long, ts: java.sql.Timestamp, value: Double)
  final case class TwsSessionState(startUs: Long, endUs: Long, n: Long, cents: Long)
  final case class SessionOut(userId: Long, sessionStart: java.sql.Timestamp,
      nEvents: Long, sumValue: Double)

  /** Inactivity sessionization on `transformWithState` EVENT-TIME TIMERS
    * — the half of the TWS surface [[TwsSequencer]] doesn't touch: a
    * session closed by a LATER event emits inline, but the LAST open
    * session per key can only close when the watermark proves no more
    * events can join it — that is exactly a `registerTimer(end + gap)`
    * whose expiry callback emits and clears. Each batch re-arms the
    * timer (delete stale, register at the new horizon), the
    * `handleExpiredTimer` path is the only place the final sessions can
    * come from, and the built-in `session_window` gate's oracle checks
    * this implementation verbatim — two engines, two APIs, one
    * contract. Gap is CLOSED at the boundary (Δ ≤ gap continues — the
    * session_window semantic).
    */
  class TwsSessionizer(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[TwsSessionState] = _
    @transient private var tmr: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[TwsSessionState]("sess",
        org.apache.spark.sql.Encoders.product[TwsSessionState], TTLConfig.NONE)
      tmr = getHandle.getValueState[Long]("tmr",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    private def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // Spark's double→decimal(18,2) cast: shortest-repr BigDecimal,
    // HALF_UP at scale 2 — replicated so the integer cents fold equals
    // the engine cast the oracle mirrors
    private def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v)
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact
    private def emit(key: Long, s: TwsSessionState): SessionOut = {
      val secs = Math.floorDiv(s.startUs, 1000000L)
      val t = new java.sql.Timestamp(secs * 1000L)
      t.setNanos((Math.floorMod(s.startUs, 1000000L) * 1000L).toInt)
      SessionOut(key, t, s.n,
        java.math.BigDecimal.valueOf(s.cents, 2).doubleValue)
    }
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      var cur = if (st.exists()) Option(st.get()) else None
      val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
      rows.toSeq.sortBy(e => us(e.ts)).foreach { e =>
        val t = us(e.ts)
        cur match {
          case Some(s) if t - s.endUs <= gapUs =>
            cur = Some(TwsSessionState(s.startUs, Math.max(s.endUs, t),
              s.n + 1, s.cents + cents(e.value)))
          case Some(s) =>
            closed += emit(key, s)
            cur = Some(TwsSessionState(t, t, 1L, cents(e.value)))
          case None =>
            cur = Some(TwsSessionState(t, t, 1L, cents(e.value)))
        }
      }
      cur.foreach { s =>
        st.update(s)
        if (tmr.exists()) getHandle.deleteTimer(tmr.get())
        val fireMs = (s.endUs + gapUs) / 1000L + 1L // strictly past end+gap
        getHandle.registerTimer(fireMs)
        tmr.update(fireMs)
      }
      closed.iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val s = st.get()
        st.clear(); tmr.clear()
        Iterator.single(emit(key, s))
      } else Iterator.empty
  }

  def sessionsTws(events: Dataset[UserEvent],
      gapUs: Long = 1800L * 1000000L,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.toDF()
      .withWatermark("ts", watermark).as[UserEvent]
      .groupByKey(_.userId)
      .transformWithState(new TwsSessionizer(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Drive [[sessionsTws]] end-to-end over staged JSONL — the
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

  /** foreachBatch body: append a micro-batch to the parquet store,
    * continuing each session's sequence from the stored maximum (A1) and
    * chaining preceding_memory_id across the batch boundary (J1).
    *
    * Exactly-once on replays: foreachBatch delivers at-least-once, so a
    * replayed batch is first anti-joined against the stored memory_ids of
    * its own sessions — already-written rows drop out, and the survivors
    * continue from the stored per-session max (which already accounts for
    * the first delivery), keeping sequence_order gapless.
    *
    * Expects canonical columns (memory_id, session_id, tool, timestamp,
    * ...). Both store reads (the per-session tail aggregate and the
    * memory_id anti-join side) are restricted to the batch's sessions — at
    * scale, with the store laid out by session/date, they are
    * partition-pruned scans, not full passes.
    */
  def ingestBatch(batch: DataFrame, storePath: String): Unit = {
    val spark = batch.sparkSession
    val exists = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(storePath))
    // once the store exists the batch feeds both the session filter and
    // the replay anti-join: read once, its JSONL is parsed once, not twice
    readOnce(batch) {
      val (tails, fresh) =
        if (!exists) {
          val emptyTails = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(
              StructField("session_id", StringType),
              StructField("last_memory_id", StringType),
              StructField("next_seq", IntegerType))))
          (emptyTails, batch)
        } else {
          // the batch's sessions as a literal set: one job over the
          // persisted batch, after which the plan scans the batch once
          // (a semi-join side scans it in every branch that reads the
          // store — 13 jobs per micro-batch against 9)
          val sessions = batch.select("session_id").distinct()
            .collect().map(_.getString(0))
          val stored = spark.read.parquet(storePath)
            .where(col("session_id").isin(sessions: _*))
          val t = MemoryModel.lastMemoryPerSession(stored)
            .select(col("session_id"), col("last_memory_id"),
              col("next_seq").cast("int").as("next_seq"))
          // replay dedup: drop rows whose memory_id is already stored
          val f = batch.join(stored.select("memory_id"), Seq("memory_id"), "left_anti")
          (t, f)
        }

      val w = Window.partitionBy("session_id").orderBy(col("timestamp"), col("memory_id"))
      val out = fresh
        .withColumn("rn", row_number().over(w))
        .withColumn("batch_prev", lag(col("memory_id"), 1).over(w))
        .join(broadcast(tails), Seq("session_id"), "left")
        .withColumn("sequence_order",
          col("rn") - 1 + coalesce(col("next_seq"), lit(1)))
        .withColumn("preceding_memory_id",
          coalesce(col("batch_prev"), col("last_memory_id")))
        .drop("rn", "batch_prev", "next_seq", "last_memory_id")
      out.write.mode("append").parquet(storePath)
    }
  }

  /** Run `body` with `batch` persisted, so a plan that scans it more than
    * once reads and parses it once; a caller's own cache is left alone. */
  private[streaming] def readOnce[T](batch: DataFrame)(body: => T): T = {
    val owned = batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (owned) batch.persist()
    try body
    finally if (owned) batch.unpersist()
  }

  /** Start the file-source JSONL ingest (the reference's `tail -f` follow
    * mode, log_viewer.py:151-172, as a real stream): readStream.text over a
    * directory of JSONL tool-call lines → parse → foreachBatch append with
    * sequence continuation.
    */
  def startJsonlIngest(spark: SparkSession, inDir: String, storePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = StructType(Seq(
      StructField("memory_id", StringType),
      StructField("session_id", StringType),
      StructField("tool", StringType),
      StructField("timestamp", TimestampType),
      StructField("value", DoubleType),
      StructField("props", StringType))) // tool-call payload; absent → null
    val parsed = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(inDir)
      .select(from_json(col("value"), schema).as("j"))
      .select(col("j.*"))
    parsed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        ingestBatch(batch.toDF(), storePath)
      }
      .start()
  }

  /** Drive [[startJsonlIngest]] end-to-end over staged JSONL and return the
    * resulting store — the CORRECTNESS-gate harness for the streaming path
    * (everything before the final read is a side effect; the returned
    * DataFrame is a plain batch scan of the parquet the stream wrote).
    *
    * The source rows are split into two stagings at the midpoint timestamp,
    * with `processAllAvailable` between them, so the store is built across
    * ≥2 micro-batches with sequence state continued from the stored
    * per-session max. Batch 1 is then REPLAYED through [[ingestBatch]]
    * (foreachBatch is at-least-once) — the replay-dedup anti-join must
    * no-op, or ids duplicate and sequences gap.
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
    ss.stage(batch1) // micro-batch 1: fresh store
    ss.run(startJsonlIngest(spark, ss.dir("in"), store, ss.dir("ckpt")),
      // micro-batch 2: continues stored sequences
      () => ss.stage(calls.where(col("timestamp") >= lit(mid))),
      // replayed delivery: must drop out entirely
      () => ingestBatch(batch1, store))
    spark.read.parquet(store)
  }

  /** A fact-stream row waiting for as-of enrichment (left side). */
  final case class Tick(key: String, ts: java.sql.Timestamp, tickId: String)

  /** A reference-data update (right side of the as-of). */
  final case class RefUpdate(key: String, ts: java.sql.Timestamp, refValue: Double)

  /** Internal union envelope: both streams keyed and time-ordered together. */
  final case class AsofEvent(key: String, tsMs: Long, isUpdate: Boolean,
      id: String, v: Double)

  /** One enriched tick: the latest update at-or-before its event time
    * (None when no update was retained that early). */
  final case class AsofMatch(key: String, tickId: String, tsMs: Long,
      matchedTsMs: Option[Long], matchedValue: Option[Double])

  /** Per-key retained updates, ascending (tsMs, value); size-capped. */
  final case class AsofState(updates: List[(Long, Double)])

  /** Streaming as-of enrichment — the unbounded twin of
    * [[graft.operators.AsofJoin.asofLe]]: join each fact tick to the most
    * recent reference update at or before its event time (prices/configs/
    * rates changing mid-stream).
    *
    * Shape: union the two streams into one keyed envelope, then ONE
    * `flatMapGroupsWithState` — per key the state is the bounded, sorted
    * update history (two fields per update), so like [[sequencedTws]] it
    * scales with live keys, not stream history. Within a micro-batch,
    * events apply in event-time order with updates before ticks at equal
    * timestamps (inclusive `<=` semantics, matching the batch operator and
    * DuckDB ASOF). ACROSS micro-batches the semantics are arrival-order,
    * same as the reference's sequencer: an update that ARRIVES after a
    * tick was already emitted never retro-corrects it. State keeps the
    * `maxUpdatesPerKey` most recent updates — ticks probing earlier than
    * the retained horizon get None; production sizes the cap from the
    * watermark delay × update rate.
    */
  def asofEnrichStream(ticks: Dataset[Tick], updates: Dataset[RefUpdate],
      maxUpdatesPerKey: Int = 1024): Dataset[AsofMatch] = {
    require(maxUpdatesPerKey >= 1)
    import ticks.sparkSession.implicits._
    val unioned = updates
      .map(u => AsofEvent(u.key, u.ts.getTime, isUpdate = true, "", u.refValue))
      .union(ticks.map(t => AsofEvent(t.key, t.ts.getTime, isUpdate = false,
        t.tickId, 0.0)))
    unioned
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          var ups = state.getOption.getOrElse(AsofState(Nil)).updates
          val out = scala.collection.mutable.ListBuffer.empty[AsofMatch]
          // updates sort before ticks at the same timestamp → inclusive <=
          it.toSeq.sortBy(e => (e.tsMs, !e.isUpdate, e.id)).foreach { e =>
            if (e.isUpdate) {
              val (before, after) = ups.span(_._1 <= e.tsMs)
              ups = (before :+ (e.tsMs -> e.v)) ++ after
              if (ups.length > maxUpdatesPerKey)
                ups = ups.drop(ups.length - maxUpdatesPerKey)
            } else {
              val m = ups.takeWhile(_._1 <= e.tsMs).lastOption
              out += AsofMatch(key, e.id, e.tsMs, m.map(_._1), m.map(_._2))
            }
          }
          state.update(AsofState(ups))
          out.iterator
      }
  }

  /** Persisted row of the TWS as-of history list (tuple encoders are not
    * product-typed; a named row is). */
  final case class UpdEntry(tsMs: Long, v: Double)

  /** Output row of [[TwsTypeCounter]]: the running per-(session, tool)
    * occurrence number at each call. */
  final case class TypedSeq(memoryId: String, sessionId: String,
      tool: String, toolSeq: Long)

  /** Per-session running count PER TOOL on transformWithState MAP STATE
    * — the fourth and last TWS state primitive (ValueState: X226,
    * timers: X227, ListState: X230): the state is a keyed sub-map the
    * store reads/writes PER ENTRY (`containsKey`/`getValue`/
    * `updateValue`), so one hot tool's counter update never
    * deserializes the session's whole histogram — the point of MapState
    * over a ValueState[Map]. Emits each call's running occurrence
    * number for its tool; the oracle is a plain per-(session, tool)
    * ROW_NUMBER, so a lost/duplicated map entry fails the hash.
    */
  class TwsTypeCounter
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, ToolCall, TypedSeq] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
    @transient private var cnt: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getMapState[String, Long]("cnt",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[ToolCall],
        tv: TimerValues): Iterator[TypedSeq] = {
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      rows.toSeq.sortBy(c => (us(c.ts), c.memoryId)).map { c =>
        val n = (if (cnt.containsKey(c.tool)) cnt.getValue(c.tool) else 0L) + 1L
        cnt.updateValue(c.tool, n)
        TypedSeq(c.memoryId, key, c.tool, n)
      }.iterator
    }
  }

  def typeCountsTws(calls: Dataset[ToolCall]): Dataset[TypedSeq] = {
    import calls.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    calls.groupByKey(_.sessionId)
      .transformWithState(new TwsTypeCounter, TimeMode.None(),
        OutputMode.Append())
  }

  /** [[asofEnrichStream]]'s fold on transformWithState LIST STATE — the
    * third TWS state shape after [[TwsSequencer]]'s ValueState and
    * [[TwsSessionizer]]'s timers: the per-key update history is a NAMED
    * ListState (element-encoded rows the store appends/replaces
    * natively) instead of one opaque state blob re-serialized per batch
    * — at a million keys × 1024 retained updates, that is the
    * difference between rewriting 8 KB per key per batch and the
    * store managing elements. Fold logic is [[asofEnrichStream]]'s
    * verbatim (same sort, same inclusive-≤ probe, same size cap), so
    * the same ASOF LEFT JOIN oracle checks both APIs.
    */
  class TwsAsofEnricher(maxUpdatesPerKey: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, AsofEvent, AsofMatch] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
    @transient private var hist: ListState[UpdEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[UpdEntry]("hist",
        org.apache.spark.sql.Encoders.product[UpdEntry], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[AsofEvent],
        tv: TimerValues): Iterator[AsofMatch] = {
      var ups: List[(Long, Double)] =
        if (hist.exists()) hist.get().map(e => (e.tsMs, e.v)).toList else Nil
      val out = scala.collection.mutable.ListBuffer.empty[AsofMatch]
      rows.toSeq.sortBy(e => (e.tsMs, !e.isUpdate, e.id)).foreach { e =>
        if (e.isUpdate) {
          val (before, after) = ups.span(_._1 <= e.tsMs)
          ups = (before :+ (e.tsMs -> e.v)) ++ after
          if (ups.length > maxUpdatesPerKey)
            ups = ups.drop(ups.length - maxUpdatesPerKey)
        } else {
          val m = ups.takeWhile(_._1 <= e.tsMs).lastOption
          out += AsofMatch(key, e.id, e.tsMs, m.map(_._1), m.map(_._2))
        }
      }
      hist.put(ups.map(u => UpdEntry(u._1, u._2)).toArray)
      out.iterator
    }
  }

  def asofEnrichTws(ticks: Dataset[Tick], updates: Dataset[RefUpdate],
      maxUpdatesPerKey: Int = 1024): Dataset[AsofMatch] = {
    require(maxUpdatesPerKey >= 1)
    import ticks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    updates
      .map(u => AsofEvent(u.key, u.ts.getTime, isUpdate = true, "", u.refValue))
      .union(ticks.map(t => AsofEvent(t.key, t.ts.getTime, isUpdate = false,
        t.tickId, 0.0)))
      .groupByKey(_.key)
      .transformWithState(new TwsAsofEnricher(maxUpdatesPerKey),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drive [[asofEnrichStream]] end-to-end over staged JSONL and return the
    * enriched output — the CORRECTNESS-gate harness for the streaming as-of
    * path, mirroring [[stagedIngestRoundtrip]]: both streams are staged in
    * two halves split at the midpoint EVENT time, with `processAllAvailable`
    * between stagings, so the output is built across ≥2 micro-batches with
    * per-key update history carried in state across the batch boundary.
    * With `tws = true` the same harness drives [[asofEnrichTws]] instead
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

  /** Drive [[hourlyRollup]] end-to-end over staged JSONL — the
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

  /** Drive [[sessionWindows]] end-to-end over staged JSONL — the
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

  /** Drive [[dedupStream]] end-to-end over staged JSONL — the
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

  /** Streaming twin of exact dedup ([[graft.operators.Dedup.exactClusters]]
    * keyed on id): drop re-deliveries of the same id arriving within the
    * watermark horizon. `dropDuplicatesWithinWatermark` keeps state only
    * for the horizon — bounded, unlike plain dropDuplicates whose state
    * grows with history — which is the only dedup shape that survives an
    * unbounded 100 TB stream.
    */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Watermarked event-time hourly rollup (streaming twin of the
    * events_hourly_rollup batch query). */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Inactivity-gap session windows via the built-in `session_window` —
    * merge-able session state handled by Spark's state store. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

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
      case (batch, None) =>
        graft.operators.Scd.buildScd2(batch, "user_id", "ts", "event_id", stateCols)
      case (batch, Some(prev)) =>
        graft.operators.Scd.applyScd2(prev, batch,
          "user_id", "ts", "event_id", stateCols)
    }
  }

  /** Incremental BM25 corpus-statistics maintenance — the streaming twin
    * of [[graft.operators.Bm25.corpusStats]] and the missing half of
    * hybrid search's continuous-upsert story (the reference re-embeds and
    * upserts per call; its sparse ranking's corpus stats drift with every
    * insert, storage.py:194-199). Each micro-batch of documents folds its
    * deltas — per-term document-frequency counts, plus (doc count, token
    * count) totals — into a versioned stats store:
    *
    *   df_v+1(t)  = df_v(t) + |{d ∈ batch : t ∈ d}|   (union + re-sum)
    *   totals_v+1 = totals_v + (|batch|, Σ_batch |d|)
    *
    * scoring then derives idf/avgdl from the CURRENT store without ever
    * rescanning the corpus.
    *
    * Physical shape at 100 TB: the df table is VOCABULARY-scale, orders
    * of magnitude below the corpus, so the per-batch merge (one
    * vocab-key groupBy over prev ∪ delta) and store rewrite move bytes,
    * not data; batch deltas are one explode + combiner-heavy count over
    * the micro-batch only; totals are a single row. Nothing is collected
    * to the driver. Write-new-then-read-latest versioning as in
    * [[stagedScd2Roundtrip]] (overwriting a directory a batch reads is
    * the classic self-overwrite corruption).
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
    val mid = src.agg(avg(col("doc_id"))).collect()(0).getDouble(0)
    ss.stage(src.where(col("doc_id") < mid)) // batch 0: seed the stats store
    val wire = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    // one store per version: df rows carry their term, the single totals
    // row a null term (tokens are never null)
    val nl = lit(null).cast("long")
    val st = ss.fold(ss.read(wire), // batch 1+: incremental folds
        () => ss.stage(src.where(col("doc_id") >= mid))) { (batch, prev) =>
      val toks = batch.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks_"))
      val dfDelta = toks
        .select(explode(array_distinct(col("toks_"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val totDelta = toks.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks_"))), lit(0L)).as("sum_dl"))
      val (dfNext, totNext) = prev match {
        case None => (dfDelta, totDelta)
        case Some(p) =>
          (p.where(col("term").isNotNull).select(col("term"), col("df"))
            .unionByName(dfDelta)
            .groupBy(col("term")).agg(sum(col("df")).as("df")),
            p.where(col("term").isNull).select(col("n_docs"), col("sum_dl"))
              .unionByName(totDelta)
              .agg(sum(col("n_docs")).as("n_docs"),
                sum(col("sum_dl")).as("sum_dl")))
      }
      dfNext.select(col("term"), col("df"), nl.as("n_docs"), nl.as("sum_dl"))
        .unionByName(totNext.select(lit(null).cast("string").as("term"),
          nl.as("df"), col("n_docs"), col("sum_dl")))
    }
    st.where(col("term").isNotNull).select(col("term"), col("df"))
      .crossJoin(st.where(col("term").isNull).select(col("n_docs"), col("sum_dl")))
  }

  /** Streaming count-min sketch fold — the sketch family's streaming
    * member, and the reason CMS earns its place in a pipeline at all: the
    * sketch is ADDITIVE (a cell is an integer sum under a pinned hash), so
    * per-micro-batch cell deltas sum into a versioned depth×width store
    * with NO re-read of history, and the fold is exactly equal to the
    * one-pass batch sketch — bit-for-bit, not approximately (contrast
    * HLL++ merges, whose register semantics are engine-defined).
    *
    * Physical shape at 100 TB: the store is depth×width cells (KBs), so
    * each fold shuffles one micro-batch's deltas plus a broadcast-sized
    * table; estimates at read time broadcast the final store. State never
    * grows with the stream — the whole point of sketching a stream.
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
    val midRow = src.agg(avg(col("k"))).collect()(0)
    require(!midRow.isNullAt(0), "stagedCmsRoundtrip: empty input")
    val mid = midRow.getDouble(0)
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the cell store
    val sketch = ss.fold(ss.read(StructType(Seq(StructField("k", LongType)))),
        // batch 1+: additive folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev) =>
      val delta = graft.operators.CountMin.build(batch, "k", depth, width)
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("d"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt")))
    }
    val exact = items.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("true_cnt"))
    graft.operators.CountMin.estimate(sketch, items, keyCol, depth, width)
      .join(exact, "key")
      .select(col("key"), col("true_cnt"), col("est"),
        (col("est") - col("true_cnt")).as("overcount"))
  }

  /** Streaming A/B z-test fold: the four test counts (per-arm events and
    * errors) are ADDITIVE across micro-batches, so the fold keeps a
    * 2-row (arm, n, x) versioned store summed per batch with NO history
    * re-read — the experimentation-dashboard shape: state is arm-grain
    * (bytes), whatever the stream volume. The z statistic from the
    * folded counts must equal the one-pass batch test bit-for-bit, so
    * the gate reuses `events_ab_ztest`'s oracle verbatim. Arms are the
    * same deterministic user-hash split as the batch gate.
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
        () => ss.stage(half(1), oneFile = false)) { (batch, prev) => // batch 1+: additive folds
      val delta = batch.select(
          pmod(graft.functions.HashFunctions.hash64(concat(
            col("user_id").cast("string"), lit("#ab"))), lit(2)).as("arm"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("bad"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("bad")).as("x"))
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("arm"))
        .agg(sum(col("n")).as("n"), sum(col("x")).as("x")))
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

  /** Incremental maintenance of a DISTINCT-view: the (user, day)
    * presence relation is a SET, so the fold is union + dedup per batch
    * (groupBy the key — NO history re-scan of events, only the compact
    * presence store), and the 7-day rolling-actives curve computed at
    * READ time over the folded store must equal the batch
    * `events_rolling_actives` gate row-for-row — its oracle is shared
    * verbatim. The materialized-view-maintenance shape: state is the
    * view's own grain (users × active days), never the event stream.
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
        () => ss.stage(half(1), oneFile = false)) { (batch, prev) => // batch 1+: set-union folds
      val delta = batch.select(col("user_id"), col("day")).distinct()
      prev.fold(delta)(_.unionByName(delta).distinct())
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

  /** Streaming fold of the peak-concurrency boundary relation: session
    * ±1 deltas NET additively per timestamp, so the fold keeps a
    * (t, delta, starts) versioned store summed per batch — a FOURTH
    * fold flavor next to counts (CMS), sets (WAU) and test stats (z):
    * here the STORE is additive while the statistic (running max of the
    * ordered cumulative) is computed at read time over boundary grain.
    * Batches must be USER-complete (a user's events arrive together —
    * the staged driver splits on user_id) since sessions are per-user.
    * Folded result must equal the batch gate bit-for-bit; oracle shared
    * verbatim.
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
    val gap = 30L * 60 * 1000000L
    val run = ss.fold(ss.read(wire, filesPerTrigger = 1),
        () => ss.stage(half(1))) { (batch, prev) => // batch 1+: additive folds
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val sessions = batch
        .withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("brk", when(col("prev").isNull
          || col("us") - col("prev") > gap, 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("st"), max(col("us")).as("en"))
      val delta = sessions.select(col("st").as("t"), lit(1L).as("d"),
          lit(1L).as("starts"))
        .unionByName(sessions.select(col("en").as("t"),
          lit(-1L).as("d"), lit(0L).as("starts")))
        .groupBy(col("t"))
        .agg(sum(col("d")).as("d"), sum(col("starts")).as("starts"))
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("t"))
        .agg(sum(col("d")).as("d"), sum(col("starts")).as("starts")))
    }
      .withColumn("conc", sum(col("d")).over(
        Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("mx", max(col("conc")).over(Window.partitionBy()))
    run.agg(
      sum(col("starts")).cast("long").as("n_sessions"),
      max(col("conc")).cast("long").as("peak_concurrency"),
      min(when(col("conc") === col("mx"), col("t"))).as("peak_at_us"))
  }

  /** Streaming substring-dedup fold: k-gram COUNTS are additive across
    * micro-batches (the CMS property, exact rather than sketched), so the
    * fold keeps a versioned (gram-hash, count) store summed per batch with
    * NO history re-read, plus an append-only position log. Duplication is
    * decided at READ time — a gram that needs two batches to reach count 2
    * is found exactly (contrast the semantic fold, which is inherently
    * order-dependent) — so the final spans must equal the one-pass batch
    * [[graft.operators.Dedup.substringSpans]] verbatim, and the gate
    * reuses the batch oracle SQL unchanged.
    *
    * Batches must be DOC-COMPLETE (a document's grams arrive together —
    * what any document feed delivers); the staged driver splits on the
    * doc id. At 100 TB the gram store is hash-partitioned parquet and
    * each fold is one combiner-heavy sum of batch deltas + store.
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
        () => ss.stage(src.where(col("doc_id") % 2 === 1))) { (batch, prev) =>
      val pos = graft.operators.Dedup.shinglePositions(batch, "text", "doc_id", k)
      pos.write.mode("append").parquet(posDir)
      val delta = pos.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("h")).agg(sum(col("cnt")).as("cnt")))
    }
    val dupPos = spark.read.parquet(posDir)
      .join(grams.where(col("cnt") >= 2).select(col("h")), "h")
      .select(col("doc_id"), col("p"))
    graft.operators.Dedup.spansFromDupPositions(dupPos, "doc_id", k)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Streaming semantic-dedup fold (the streaming shape of
    * dedup_semantic_incremental): embeddings arrive in micro-batches;
    * each batch is assigned into FIXED cells (centroids trained on the
    * pre-existing stored corpus — the model artifact a production store
    * already has), compared cross-side against the CURRENT accepted
    * store within its cell, and only vectors with no stored neighbor at
    * cosine ≥ τ are appended. The fold is genuinely sequential: a vector
    * accepted from batch 1 can reject a batch-2 near-duplicate, which is
    * exactly what the unrolled two-fold oracle checks.
    *
    * Policy (documented contract): cross-side only — within-batch
    * near-duplicates are BOTH accepted (the incremental-family
    * convention; a within-batch pre-pass is the batch operator's job).
    * Embeddings ride the JSONL wire as float arrays (shortest-repr JSON
    * round-trips IEEE floats exactly); scores are rounded to 6 decimals
    * before the threshold, so wire precision never decides acceptance.
    *
    * At 100 TB: the store is cell-partitioned parquet; each fold shuffles
    * one micro-batch against only the cells that batch touches (cell
    * pruning on the store read), and state = the accepted corpus itself —
    * no separate streaming state store grows.
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
    val fin = ss.fold(ss.read(wire), () => ss.stage(batchOf(2))) { (batch, prev) =>
      val assigned = graft.operators.Similarity.ivfAssign(
        batch, "embedding", "vec_id", cents)
        .select(col("cell"), col("vec_id"), col("embedding"))
      val stored = prev.getOrElse(spark.read.parquet(corpusDir))
      val dupIds = assigned.alias("n")
        .join(stored.alias("c"), col("n.cell") === col("c.cell"))
        .where(round(graft.functions.VectorFunctions.cosine(
          col("n.embedding"), col("c.embedding"), dims), 6) >= tau)
        .select(col("n.vec_id")).distinct()
      stored.unionByName(
        assigned.join(dupIds, Seq("vec_id"), "left_anti")
          .select(col("cell"), col("vec_id"), col("embedding")))
    }.select(col("vec_id"))
    src.select(col("vec_id"), (col("vec_id") % 3).cast("int").as("batch"))
      .join(fin.withColumn("acc_", lit(true)), Seq("vec_id"), "left")
      .withColumn("accepted", coalesce(col("acc_"), lit(false)))
      .select(col("vec_id"), col("batch"), col("accepted"))
      .orderBy(col("vec_id"))
  }

  /** Streaming market-basket fold: per-micro-batch (pair count, item
    * count, basket count) deltas summed into a versioned store; the
    * stream of folds must equal ONE full-corpus
    * [[graft.operators.MarketBasket.frequentPairs]] recompute (the
    * gate's oracle).
    *
    * Additivity contract: micro-batches are BASKET-COMPLETE — a basket
    * arrives in one batch (what a CDC feed keyed on the basket id
    * delivers). A basket split across batches would drop its cross-batch
    * pairs; the fold cannot see them. The staged driver splits on the
    * basket key for exactly this reason.
    *
    * minSupport and the metric divisions apply at READ time, never at
    * fold time — thresholding the store would lose sub-threshold mass
    * that later batches legitimately push over the line, and folding a
    * ratio is meaningless. The store holds only additive integers.
    *
    * At 100 TB the store versions are partitioned parquet like the BM25
    * stats store; each fold shuffles one micro-batch's deltas plus the
    * store's pair table (combiner-heavy sum on both sides).
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
    // foreachBatch plans each batch with the live session conf: a ~300k-row
    // pair join + the store write through 32 shuffle partitions spends
    // more on task/file overhead than on work, and this gate's real
    // shuffle volume wants a larger pin than the other staged gates (r12
    // A/B: p8 beat p4 here), so it reads its own conf key
    val ss = new StagedStream(spark, workDir, "graft.stream.parts.fp")

    // null keys dropped up front — mirrors the batch operator's
    // inner-join semantics, so the fold and the recompute see one corpus
    val src = items.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .where(col("bk").isNotNull && col("it").isNotNull)
    val midRow = src.agg(avg(col("bk"))).collect()(0)
    require(!midRow.isNullAt(0), "stagedFrequentPairsRoundtrip: empty input")
    val mid = midRow.getDouble(0)
    // one file per staging: a multi-file staging can be listed mid-commit
    // and split over two micro-batches, which splits a basket (its
    // cross-batch pairs lost, itself counted twice)
    ss.stage(src.where(col("bk") < mid)) // batch 0: seed the count store
    val wire = StructType(Seq(
      StructField("bk", LongType),
      StructField("it", LongType)))
    val nl = lit(null).cast("long")
    // the three logical stores (pairs / items / n) live in ONE
    // kind-tagged parquet per version: each micro-batch pays one write
    // action and one store read instead of three of each — at gate scale
    // the per-action fixed cost (job launch + commit + file listing) is
    // the bill, not the bytes (r12 stash A/B, together with the p8 pin
    // above: warm min 8.2 -> 6.2 s). By-name union, not positional: the
    // three branches hand-align 7 columns that all happen to be long
    // today — a reorder or type change in one branch must fail loudly,
    // not cross-wire kinds
    def kinded(p: DataFrame, i: DataFrame, n: DataFrame): DataFrame =
      p.select(lit("p").as("kind"), col("a"), col("b"), col("w"),
          nl.as("it"), nl.as("c"), nl.as("nb"))
        .unionByName(i.select(lit("i").as("kind"), nl.as("a"), nl.as("b"),
          nl.as("w"), col("it"), col("c"), nl.as("nb")))
        .unionByName(n.select(lit("n").as("kind"), nl.as("a"), nl.as("b"),
          nl.as("w"), nl.as("it"), nl.as("c"), col("nb")))
    val st = ss.fold(ss.read(wire), // batch 1+: incremental folds
        () => ss.stage(src.where(col("bk") >= mid))) { (batch, prev) =>
      val bi = batch.select(col("bk"), col("it")).distinct()
      val pairDelta = bi.select(col("bk"), col("it").as("a"))
        .join(bi.select(col("bk"), col("it").as("b")), "bk")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val itemDelta = bi.groupBy(col("it")).agg(count(lit(1)).as("c"))
      val nDelta = bi.agg(count_distinct(col("bk")).as("nb"))
      prev match {
        case None => kinded(pairDelta, itemDelta, nDelta)
        case Some(st) =>
          kinded(
            st.where(col("kind") === "p").select(col("a"), col("b"), col("w"))
              .unionByName(pairDelta)
              .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w")),
            st.where(col("kind") === "i").select(col("it"), col("c"))
              .unionByName(itemDelta)
              .groupBy(col("it")).agg(sum(col("c")).as("c")),
            st.where(col("kind") === "n").select(col("nb"))
              .unionByName(nDelta)
              .agg(sum(col("nb")).as("nb")))
      }
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

  /** Watermark-lateness pre-flight: for each candidate watermark
    * horizon, how many events a watermarked streaming job WOULD drop —
    * computed from the batch history before committing to a horizon.
    * An event is late under horizon W iff the high-water mark among
    * earlier ARRIVALS exceeds its event time by more than W; with
    * arrival order pinned to a stored column (ingest offset in
    * production; event_id in the gate) the answer is a deterministic
    * running max, not a property of any particular run.
    *
    * The audit is the watermark-sizing instrument: too short and the
    * drop share is the data you silently lose, too long and state
    * grows — this emits the drop side of that curve exactly.
    *
    * Physical shape: ONE ordered running-max window (single-partition —
    * acceptable for a pre-flight; at 100 TB run it per ingest shard,
    * where arrival order is actually defined, and sum the shards) + a
    * broadcast horizon table. All-integer microsecond arithmetic.
    * Output: (watermark, horizon_ms, n_late, n_total, late_share).
    */
  def latenessAudit(events: DataFrame, tsCol: String, arrivalCol: String,
      watermarks: Seq[(String, Long)]): DataFrame = {
    require(watermarks.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.orderBy(col("arr_"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events
      .select(unix_micros(col(tsCol)).as("ts_us"), col(arrivalCol).as("arr_"))
      .withColumn("hw_us", max(col("ts_us")).over(w))
    val wm = watermarks.toDF("watermark", "horizon_ms")
    base.crossJoin(broadcast(wm))
      .groupBy(col("watermark"), col("horizon_ms"))
      .agg(sum(when(col("hw_us") - col("ts_us") > col("horizon_ms") * 1000L,
          1L).otherwise(0L)).as("n_late"),
        count(lit(1)).as("n_total"))
      .select(col("watermark"), col("horizon_ms"), col("n_late"),
        col("n_total"),
        round(col("n_late").cast("double") / col("n_total").cast("double"), 6)
          .as("late_share"))
  }

  /** Streaming CDC fold — MERGE as a stream: per micro-batch, the store
    * keeps ONLY the winning row per key (argmax by the total sequence
    * order, which is ASSOCIATIVE: winners(winners(A) ∪ winners(B)) =
    * winners(A ∪ B), so the fold equals the one-pass batch
    * [[graft.operators.Scd.cdcApply]] verbatim and the gate shares its
    * oracle). Tombstones are retained in the store — drop them and a
    * late lower-sequence update resurrects a deleted key; the `op ≠ D`
    * filter applies at read time only. State = one row per key ever
    * seen, the minimum any correct CDC consumer can hold.
    */
  def stagedCdcRoundtrip(spark: SparkSession, events: DataFrame,
      workDir: String): DataFrame = {
    val ss = new StagedStream(spark, workDir)
    val src = events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
      col("event_id"), col("value"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"))
    val mid = src.agg(avg(col("event_id"))).collect()(0).getDouble(0)
    ss.stage(src.where(col("event_id") < mid), oneFile = false) // batch 0: seed the winner store
    val wire = StructType(Seq(
      StructField("user_id", LongType), StructField("ts_us", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType),
      StructField("op", StringType)))
    val order = Seq("ts_us", "event_id")
    ss.fold(ss.read(wire), // batch 1+: associative winner folds
        () => ss.stage(src.where(col("event_id") >= mid), oneFile = false)) { (batch, prev) =>
      val bw = graft.operators.Scd.cdcWinners(batch, "user_id", order)
      prev.fold(bw)(p => graft.operators.Scd.cdcWinners(
        p.unionByName(bw), "user_id", order))
    }
      .where(col("op") =!= "D")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        round(col("value"), 6).as("last_value"))
  }

  /** Streaming HyperLogLog fold — the NDV sketch's streaming member.
    * Registers merge by MAX, which is idempotent as well as commutative
    * and associative, so the fold is REPLAY-IDEMPOTENT: a re-delivered
    * micro-batch cannot change the store (strictly stronger than the CMS
    * fold, whose additive cells lean on foreachBatch's exactly-once batch
    * ids). The versioned store holds (group, bucket, reg) — m longs per
    * group — and each fold is one combiner-heavy max of batch deltas
    * against it; no history re-read, state never grows with the stream.
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
    val midRow = src.agg(avg(col("k"))).collect()(0)
    require(!midRow.isNullAt(0), "stagedHllRoundtrip: empty input")
    val mid = midRow.getDouble(0)
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the register store
    val wire = StructType(Seq(
      StructField("k", LongType), StructField("g", StringType)))
    val regs = ss.fold(ss.read(wire), // batch 1+: idempotent max folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev) =>
      val delta = graft.operators.HyperLogLog.build(batch, "k", Seq("g"))
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("g"), col("bucket"))
        .agg(max(col("reg")).as("reg")))
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

  /** Streaming KMV fold — the set-operation NDV sketch's streaming
    * member. The store holds the sketch EXPLODED as (group, hash) rows,
    * ≤k per group; each fold unions the batch delta, dedups, and re-takes
    * the k smallest per group. Like HLL's max-merge (and unlike CMS's
    * additive fold), distinct-union-take-k is IDEMPOTENT as well as
    * commutative/associative, so a re-delivered micro-batch cannot
    * corrupt the store; and because the sketch is an order statistic,
    * the fold equals the one-pass batch [[graft.operators.Kmv.audit]]
    * bit-for-bit — the gate shares the batch oracle SQL verbatim.
    */
  def stagedKmvRoundtrip(spark: SparkSession, items: DataFrame,
      keyCol: String, groupCol: String, k: Int, workDir: String): DataFrame = {
    require(items.schema(keyCol).dataType == LongType,
      s"stagedKmvRoundtrip: $keyCol must be LONG (wire schema)")
    val ss = new StagedStream(spark, workDir)
    val src = items.select(col(keyCol).as("k"), col(groupCol).as("g"))
      .where(col("k").isNotNull)
    val midRow = src.agg(avg(col("k"))).collect()(0)
    require(!midRow.isNullAt(0), "stagedKmvRoundtrip: empty input")
    val mid = midRow.getDouble(0)
    ss.stage(src.where(col("k") < mid), oneFile = false) // batch 0: seed the sketch store
    val wire = StructType(Seq(
      StructField("k", LongType), StructField("g", StringType)))
    val sk = ss.fold(ss.read(wire), // batch 1+: idempotent k-min folds
        () => ss.stage(src.where(col("k") >= mid), oneFile = false)) { (batch, prev) =>
      val delta = graft.operators.Kmv.build(batch, "k", "g", k)
        .select(col("g"), explode(col("kmv")).as("h"))
      prev.fold(delta)(_.unionByName(delta).distinct())
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("g")).orderBy(col("h"))))
        .where(col("rn") <= k).drop("rn")
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

  /** Streaming Kaplan-Meier fold: the survival curve's streaming member.
    * The per-subject lifetime table is a pure (min first-seen, max
    * last-seen) fold — min/max merges are IDEMPOTENT like HLL's
    * registers and KMV's k-min sets, so a re-delivered micro-batch
    * cannot corrupt the store; state = one (subject, first_d, last_d)
    * row per subject regardless of event volume. The KM curve itself
    * (risk table + fixed-point product) computes at READ time over the
    * folded lifetimes, so the stream holds no curve state at all — and
    * the result equals the one-pass batch
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
          oneFile = false)) { (batch, prev) =>
      val delta = batch.groupBy(col("u"))
        .agg(min(col("dd")).as("first_d"), max(col("dd")).as("last_d"))
      prev.fold(delta)(_.unionByName(delta))
        .groupBy(col("u"))
        .agg(min(col("first_d")).as("first_d"),
          max(col("last_d")).as("last_d"))
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

  /** Stream-stream inner INTERVAL join — the one first-class Structured
    * Streaming surface the engine had not yet exercised: BOTH sides are
    * unbounded, both carry watermarks, and Spark keys state on each side,
    * matching left rows against right rows within
    * [l.ts, l.ts + horizon] per key as either side arrives. This is the
    * attribution shape (impression→click, request→response, order→ship):
    * neither side is a static dimension, so [[asofEnrichStream]]'s
    * keyed-state enrich doesn't apply — the engine must hold BOTH
    * in-flight windows.
    *
    * State is bounded by the watermark: a left row is droppable once the
    * right watermark passes l.ts + horizon (no future right row can
    * match), a right row once the left watermark passes r.ts — Spark
    * derives both bounds from the join condition, so state scales with
    * the in-flight horizon, not the stream. `delay` must be ≥ the
    * out-of-orderness the source really has; matches are never wrong,
    * only (with a too-small delay) dropped — the drop side is exactly
    * what [[latenessAudit]] measures.
    *
    * Inputs need (key, ts, id); output one row per qualifying pair.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      horizon: String = "30 minutes",
      delay: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer")
    val l = left.select(col("key"), col("ts"), col("id"))
      .withWatermark("ts", delay).alias("l")
    val r = right.select(col("key"), col("ts"), col("id"))
      .withWatermark("ts", delay).alias("r")
    l.join(r, expr(
      s"""l.key = r.key AND r.ts >= l.ts
         |AND r.ts <= l.ts + interval $horizon""".stripMargin), joinType)
      .select(col("l.key").as("key"),
        col("l.id").as("l_id"), col("l.ts").as("l_ts"),
        col("r.id").as("r_id"), col("r.ts").as("r_ts"))
  }

  /** Drive [[intervalJoinStream]] end-to-end over staged JSONL — the
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
    // side split 2 ways stays trivially in memory — hence this gate's
    // own conf key)
    val ss = new StagedStream(spark, workDir, "graft.stream.parts.ivj")
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
