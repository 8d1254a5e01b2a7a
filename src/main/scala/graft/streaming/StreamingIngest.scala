package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Streaming ingest (SURVEY §2.10): the reference's operational shape — an
  * unbounded sequence of tool-call events with per-session ordering state —
  * expressed as Structured Streaming.
  *
  * The reference assigns `sequence_order` by reading back the session's
  * last memory before every insert (storage.py:113-143, server.py:96-103):
  * one Qdrant round-trip per event, arrival-order semantics. Here that
  * state lives in [[TwsSequencer]]'s `transformWithState` per-session
  * state — (nextSeq, lastId) plus the session's seen ids, keyed and
  * checkpointed — so follow-mode ingest ([[startJsonlIngest]]) never
  * reads the store back: a micro-batch costs one shuffle of the batch,
  * whatever the store holds.
  *
  * Event-time operators for the extension surface: [[hourlyRollup]]
  * (watermarked tumbling window) and [[sessionWindows]] (built-in
  * `session_window` — the idiomatic Spark-first form of 30-min-inactivity
  * sessionization).
  */
object StreamingIngest {

  /** A tool-call event on the stream (arrival order within a micro-batch is
    * normalized to (ts, memoryId) — the reference's arrival-order semantics
    * made deterministic). `props` is the call's payload, carried through. */
  final case class ToolCall(
      memoryId: String, sessionId: String, tool: String,
      ts: java.sql.Timestamp, value: Option[Double],
      props: Option[String] = None)

  final case class SequencedCall(
      memoryId: String, sessionId: String, tool: String,
      ts: java.sql.Timestamp, value: Option[Double], props: Option[String],
      sequenceOrder: Int, precedingMemoryId: Option[String])

  final case class SeqState(nextSeq: Int, lastId: Option[String])

  /** µs since the epoch: `getTime` is ms-truncated, and JSONL timestamps
    * carry micros. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The order of a session's calls within a micro-batch: a null `ts`
    * first (Spark's ascending order), then µs, then id — the oracle's
    * ORDER BY ts, memory_id. */
  private def callOrder(c: ToolCall): (Option[Long], String) =
    (Option(c.ts).map(micros), c.memoryId)

  /** Per-session sequence assignment with keyed state — the streaming
    * twin of [[graft.model.MemoryModel.sessionize]] — on Spark 4's
    * `transformWithState`, the arbitrary-state API that supersedes
    * `flatMapGroupsWithState`: typed, NAMED state variables with
    * per-variable encoders and TTL (vs one opaque state blob), timers as
    * first-class citizens, and a RocksDB-backed store ([[withRocksDbStateStore]] — TWS requires it).
    * Per-session gapless sequence, arrival order normalized to
    * [[callOrder]].
    *
    * State per session: a `ValueState` (nextSeq, lastId), and a
    * `MapState` of the session's ids already sequenced. A call whose id
    * the session has seen — re-sent by a producer in the same or a later
    * file — is dropped, so the sequence stays gapless and no id is
    * stored twice. The seen set has no TTL: an expiring set would let a
    * late re-send through. It grows with the session's ids, as the store
    * does (SCALE_NOTES).
    */
  class TwsSequencer extends StatefulProcessor[String, ToolCall, SequencedCall] {
    @transient private var st: ValueState[SeqState] = _
    @transient private var seen: MapState[String, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SeqState]("seq",
        Encoders.product[SeqState], TTLConfig.NONE)
      seen = getHandle.getMapState[String, Boolean]("seen",
        Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[ToolCall],
        tv: TimerValues): Iterator[SequencedCall] = {
      var s = if (st.exists()) st.get() else SeqState(1, None)
      val out = rows.toSeq.sortBy(callOrder)
        .flatMap { c =>
          if (seen.containsKey(c.memoryId)) None
          else {
            seen.updateValue(c.memoryId, true)
            val r = SequencedCall(c.memoryId, key, c.tool, c.ts, c.value,
              c.props, s.nextSeq, s.lastId)
            s = SeqState(s.nextSeq + 1, Some(c.memoryId))
            Some(r)
          }
        }
      st.update(s)
      out.iterator
    }
  }

  def sequencedTws(calls: Dataset[ToolCall]): Dataset[SequencedCall] = {
    import calls.sparkSession.implicits._
    calls.groupByKey(_.sessionId)
      .transformWithState(new TwsSequencer, TimeMode.None(), OutputMode.Append())
  }

  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` — a streaming query's `.start()` — with the RocksDB state
    * store provider pinned in the session conf, then restore the
    * caller's setting. transformWithState requires that provider. A query
    * clones the session conf when it is constructed inside `.start()`,
    * and a restarted query takes the provider from its checkpoint, so a
    * pin around the start covers the query's whole life.
    */
  private[streaming] def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T =
    withConf(spark, Seq(RocksDbProvider))(body)

  /** Run `body` with `pins` set in the session conf, then restore each
    * key's previous value (or unset it). */
  private[streaming] def withConf[T](spark: SparkSession, pins: Seq[(String, String)])(body: => T): T = {
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None) => spark.conf.unset(k)
    }
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
      extends StatefulProcessor[Long, UserEvent, SessionOut] {
    @transient private var st: ValueState[TwsSessionState] = _
    @transient private var tmr: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[TwsSessionState]("sess",
        Encoders.product[TwsSessionState], TTLConfig.NONE)
      tmr = getHandle.getValueState[Long]("tmr",
        Encoders.scalaLong, TTLConfig.NONE)
    }
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
      rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
        val t = micros(e.ts)
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
    events.toDF()
      .withWatermark("ts", watermark).as[UserEvent]
      .groupByKey(_.userId)
      .transformWithState(new TwsSessionizer(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Start the file-source JSONL ingest (the reference's `tail -f` follow
    * mode, log_viewer.py:151-172, as a real stream): readStream.text over a
    * directory of JSONL tool-call lines → parse → [[sequencedTws]] →
    * foreachBatch write. The store is never read back: each session's
    * tail and seen ids live in the TWS state, checkpointed with the query,
    * so a micro-batch costs one shuffle of its own rows.
    *
    * The write is idempotent by micro-batch id ([[writeBatch]]): batch
    * `id`'s files are named `batch-<id>-part-…`, and a batch Spark re-runs
    * (foreachBatch is at-least-once) first deletes its own earlier files.
    * A re-run reads the same files against the same state version, so it
    * writes the same rows. An id a producer re-sends in a later file is
    * dropped by the seen-id state.
    *
    * The state lives in `checkpoint`, so a store continues only under the
    * checkpoint that wrote it; starting a fresh checkpoint over an existing
    * store fails rather than restarting its sequences. A checkpoint on the
    * local file system is written through Spark's FileSystem-based
    * checkpoint manager: the default FileContext-based one runs a `chmod`
    * process for every checkpoint file it creates and a `readlink`
    * process for every rename on a local path, about 90 processes per
    * micro-batch (offsets, commits and the state store's files), where
    * the FileSystem API creates and renames in-process. Lines without a
    * memory_id or session_id carry nothing to sequence and are dropped.
    * Store columns: memory_id, session_id, tool, timestamp, value, props,
    * sequence_order, preceding_memory_id.
    */
  def startJsonlIngest(spark: SparkSession, inDir: String, storePath: String,
      checkpoint: String): StreamingQuery = {
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val store = new Path(storePath)
    val checkpointFs = new Path(checkpoint).getFileSystem(hadoopConf)
    require(!store.getFileSystem(hadoopConf).exists(store) ||
      checkpointFs.exists(new Path(checkpoint, "offsets")),
      s"startJsonlIngest: $storePath was written under another checkpoint than $checkpoint")
    val schema = StructType(Seq(
      StructField("memory_id", StringType),
      StructField("session_id", StringType),
      StructField("tool", StringType),
      StructField("timestamp", TimestampType),
      StructField("value", DoubleType),
      StructField("props", StringType))) // tool-call payload; absent → null
    val calls = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(inDir)
      .select(from_json(col("value"), schema).as("j"))
      .where(col("j.memory_id").isNotNull && col("j.session_id").isNotNull)
      .select(col("j.memory_id").as("memoryId"), col("j.session_id").as("sessionId"),
        col("j.tool"), col("j.timestamp").as("ts"), col("j.value"), col("j.props"))
      .as[ToolCall]
    val sequenced = sequencedTws(calls).select(
      col("memoryId").as("memory_id"), col("sessionId").as("session_id"),
      col("tool"), col("ts").as("timestamp"), col("value"), col("props"),
      col("sequenceOrder").as("sequence_order"),
      col("precedingMemoryId").as("preceding_memory_id"))
    val checkpointManager = "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    val localPins = if (checkpointFs.getScheme == "file") Seq(checkpointManager) else Nil
    withConf(spark, RocksDbProvider +: localPins) {
      sequenced.writeStream
        .option("checkpointLocation", checkpoint)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, id: Long) => writeBatch(batch, storePath, id) }
        .start()
    }
  }

  /** Write micro-batch `id` into the flat parquet store `storePath` as
    * files named `batch-<id>-part-…`, replacing any files an earlier run
    * of the same batch left. The batch is written to the hidden directory
    * `_batch-<id>` (readers skip `_` names) and its part files are then
    * renamed into the store. */
  private def writeBatch(batch: DataFrame, storePath: String, id: Long): Unit = {
    val root = new Path(storePath)
    val fs = root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val prefix = s"batch-$id-"
    Option(fs.globStatus(new Path(root, prefix + "*"))).toSeq.flatten
      .foreach(f => fs.delete(f.getPath, false))
    val staging = new Path(root, "_" + prefix.init)
    batch.write.mode("overwrite").parquet(staging.toString)
    fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
      .foreach(p => require(fs.rename(p, new Path(root, prefix + p.getName)),
        s"startJsonlIngest: could not move $p into $storePath"))
    fs.delete(staging, true)
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
    asofEvents(ticks, updates)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          val (ups, out) = asofFold(key,
            state.getOption.getOrElse(AsofState(Nil)).updates, it, maxUpdatesPerKey)
          state.update(AsofState(ups))
          out.iterator
      }
  }

  /** Both as-of inputs as one envelope stream. */
  private def asofEvents(ticks: Dataset[Tick],
      updates: Dataset[RefUpdate]): Dataset[AsofEvent] = {
    import ticks.sparkSession.implicits._
    updates
      .map(u => AsofEvent(u.key, u.ts.getTime, isUpdate = true, "", u.refValue))
      .union(ticks.map(t => AsofEvent(t.key, t.ts.getTime, isUpdate = false,
        t.tickId, 0.0)))
  }

  /** One key's micro-batch of the as-of fold, for both state APIs: apply
    * `events` to the retained history `ups` in event-time order, updates
    * before ticks at the same timestamp (inclusive `<=`), keeping the
    * `maxUpdatesPerKey` latest updates. Returns the new history and the
    * batch's matches. */
  private def asofFold(key: String, ups0: List[(Long, Double)],
      events: Iterator[AsofEvent],
      maxUpdatesPerKey: Int): (List[(Long, Double)], List[AsofMatch]) = {
    var ups = ups0
    val out = scala.collection.mutable.ListBuffer.empty[AsofMatch]
    events.toSeq.sortBy(e => (e.tsMs, !e.isUpdate, e.id)).foreach { e =>
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
    (ups, out.toList)
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
  class TwsTypeCounter extends StatefulProcessor[String, ToolCall, TypedSeq] {
    @transient private var cnt: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getMapState[String, Long]("cnt",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[ToolCall],
        tv: TimerValues): Iterator[TypedSeq] = {
      rows.toSeq.sortBy(callOrder).map { c =>
        val n = (if (cnt.containsKey(c.tool)) cnt.getValue(c.tool) else 0L) + 1L
        cnt.updateValue(c.tool, n)
        TypedSeq(c.memoryId, key, c.tool, n)
      }.iterator
    }
  }

  def typeCountsTws(calls: Dataset[ToolCall]): Dataset[TypedSeq] = {
    import calls.sparkSession.implicits._
    calls.groupByKey(_.sessionId)
      .transformWithState(new TwsTypeCounter, TimeMode.None(), OutputMode.Append())
  }

  /** [[asofEnrichStream]]'s fold on transformWithState LIST STATE — the
    * third TWS state shape after [[TwsSequencer]]'s ValueState and
    * [[TwsSessionizer]]'s timers: the per-key update history is a NAMED
    * ListState (element-encoded rows the store appends/replaces
    * natively) instead of one opaque state blob re-serialized per batch
    * — at a million keys × 1024 retained updates, that is the
    * difference between rewriting 8 KB per key per batch and the
    * store managing elements. Both call one fold ([[asofFold]]), so the
    * same ASOF LEFT JOIN oracle checks both APIs.
    */
  class TwsAsofEnricher(maxUpdatesPerKey: Int)
      extends StatefulProcessor[String, AsofEvent, AsofMatch] {
    @transient private var hist: ListState[UpdEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[UpdEntry]("hist",
        Encoders.product[UpdEntry], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[AsofEvent],
        tv: TimerValues): Iterator[AsofMatch] = {
      val (ups, out) = asofFold(key,
        if (hist.exists()) hist.get().map(e => (e.tsMs, e.v)).toList else Nil,
        rows, maxUpdatesPerKey)
      // a key with ticks but no update yet has no history, and the store
      // rejects an empty list
      if (ups.nonEmpty) hist.put(ups.map(u => UpdEntry(u._1, u._2)).toArray)
      out.iterator
    }
  }

  def asofEnrichTws(ticks: Dataset[Tick], updates: Dataset[RefUpdate],
      maxUpdatesPerKey: Int = 1024): Dataset[AsofMatch] = {
    require(maxUpdatesPerKey >= 1)
    import ticks.sparkSession.implicits._
    asofEvents(ticks, updates)
      .groupByKey(_.key)
      .transformWithState(new TwsAsofEnricher(maxUpdatesPerKey),
        TimeMode.None(), OutputMode.Append())
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
}
