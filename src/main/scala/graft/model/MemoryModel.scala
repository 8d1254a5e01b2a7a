package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The canonical memory store (SURVEY.md §1.4): one row per tool invocation.
  *
  * The reference writes one Qdrant point per tool call with a fixed payload
  * envelope + dynamic parameters/frames (reference: fegis/storage.py:154-191).
  * Here the envelope is a fixed schema over a DataFrame; the testdata
  * `events` table plays the role of the raw tool-call log
  * (event_id→memory_id, user_id→session_id, event_type→tool).
  *
  * Sessionization (sequence_order, preceding_memory_id) is the reference's
  * one stateful ingest step (storage.py:113-143 + server.py:96-103 —
  * a per-session read-back before every insert). At scale that per-row
  * round-trip becomes ONE window shuffle, partitioned by session — each
  * session's rows land on one executor, counters assigned locally.
  */
object MemoryModel {

  /** The one session order behind [[fromEvents]] and [[attachSequence]]:
    * event time, then the numeric id, then the id string. The numeric key
    * orders the testdata's integer ids as numbers; for ids that are not
    * numeric (the reference's UUIDv4 memory ids, storage.py:171) it is
    * null — `try_cast`, since an ANSI `cast` throws on them — and the
    * string key breaks timestamp ties the same way [[sessionize]] does. */
  private val sessionOrder = Window.partitionBy("session_id")
    .orderBy(col("timestamp"), col("memory_id").try_cast("long"), col("memory_id"))

  /** events → memories: the FULL payload envelope + sessionization
    * (reference: storage.py:154-191 `memory_payload`).
    *
    * - `sequence_order`: 1-based position within session ordered by event
    *   time (reference A2, storage.py:136-139)
    * - `preceding_memory_id`: previous memory in the same session
    *   (reference J1, storage.py:181) — `lag` over the same window, so both
    *   derive from a single shuffle.
    * - `content`: the reference's fallback document text
    *   "Tool: {name}\n{json}" (storage.py:158-160), with `props` playing
    *   the dumped-frames JSON.
    * - `context`: parameters.get("Context", "") — the testdata carries no
    *   Context parameter, so the reference's default "" (storage.py:156).
    * - `parameters` / `frames`: the dynamic JSON payloads with the
    *   envelope keys filtered out (storage.py:162-171); `props` is the
    *   event log's only dynamic payload → frames, parameters = "{}".
    * - `meta`: the canonical 5-field struct (storage.py:184-190).
    *   `agent_id` is config-scoped in the reference (one per deployment);
    *   here a per-session surrogate so meta filtering is exercised on
    *   real data. `archetype_title` capitalizes the tool name (the
    *   reference reads archetype.get("title")).
    */
  def fromEvents(events: DataFrame): DataFrame =
    envelope(events)
      .withColumn("sequence_order", row_number().over(sessionOrder))
      .withColumn("preceding_memory_id", lag(col("memory_id"), 1).over(sessionOrder))
      .select("memory_id", "session_id", "tool", "timestamp", "title", "context",
        "content", "sequence_order", "preceding_memory_id", "parameters",
        "frames", "meta", "value", "props")

  /** The payload envelope of [[fromEvents]] WITHOUT the sessionization
    * window — a pure per-row projection, no shuffle. This is the input a
    * pruning query (top-k search) should score over: the window columns
    * are only needed for the handful of winning rows, and
    * [[attachSequence]] fills them in afterwards over just the touched
    * sessions. At 100 TB the difference is a full-store shuffle vs a
    * per-query session lookup.
    */
  def envelope(events: DataFrame): DataFrame =
    events
      .withColumn("memory_id", col("event_id").cast("string"))
      .withColumn("session_id", col("user_id").cast("string"))
      .withColumn("tool", col("event_type"))
      .withColumn("timestamp", col("ts"))
      .withColumn("title", concat(col("event_type"), lit(" Invocation")))
      .withColumn("context", lit(""))
      .withColumn("content",
        concat(lit("Tool: "), col("event_type"), lit("\n"), col("props")))
      .withColumn("parameters", lit("{}"))
      .withColumn("frames", col("props"))
      .withColumn("meta", struct(
        concat(lit("agent-"), col("user_id").cast("string")).as("agent_id"),
        lit("1.0").as("schema_version"),
        lit("0.1.0").as("fegis_version"),
        concat(upper(substring(col("event_type"), 1, 1)),
          expr("substring(event_type, 2)")).as("archetype_title"),
        lit("1.0.0").as("archetype_version")))
      .select("memory_id", "session_id", "tool", "timestamp", "title", "context",
        "content", "parameters", "frames", "meta", "value", "props")

  /** Scoped sessionization for a pruned hit set — the SERVING-path twin of
    * [[fromEvents]]'s ingest window: recompute (sequence_order,
    * preceding_memory_id) over ONLY the sessions that contain a hit and
    * left-join them onto the hits by memory_id.
    *
    * Correctness: both window columns depend only on same-session rows,
    * and the scoped pass keeps EVERY row of each touched session, so the
    * numbers equal the global window's — bit-for-bit (the same
    * [[sessionOrder]] as [[fromEvents]]).
    *
    * Physical shape at 100 TB: a top-k query's hits touch ≤k sessions, so
    * the session list broadcasts, the envelope re-scan is a semi-join
    * (column-pruned to id/session/timestamp; partition- or file-prunable
    * when the store is laid out by session), and the window shuffles only
    * those sessions' rows — versus shuffling the ENTIRE store through the
    * ingest window to rank 10 rows. The sf0.1 gate keeps hash-parity with
    * the global-window oracle precisely because the two forms are equal.
    */
  def attachSequence(envelope: DataFrame, hits: DataFrame): DataFrame =
    attachSequenceManaged(envelope, hits)._1

  /** [[attachSequence]] plus the release handle for the hit-set cache.
    * `hits` feeds BOTH the session-scope broadcast and the final join —
    * without the persist the expensive pruning subtree (full-scan score +
    * top-k) would compute twice, once per branch. The cache is bounded by
    * the caller's limit (≤k rows), so holding it is the cheap side of the
    * trade at any scale. */
  def attachSequenceManaged(envelope: DataFrame,
      hits: DataFrame): (DataFrame, () => Unit) = {
    val h = hits.persist()
    val sess = h.select(col("session_id")).distinct()
    val scoped = envelope.select("memory_id", "session_id", "timestamp")
      .join(broadcast(sess), Seq("session_id"), "left_semi")
    val seq = scoped
      .withColumn("sequence_order", row_number().over(sessionOrder))
      .withColumn("preceding_memory_id", lag(col("memory_id"), 1).over(sessionOrder))
      .select(col("memory_id").as("sq_id_"), col("sequence_order"),
        col("preceding_memory_id"))
    h.join(broadcast(seq), h("memory_id") === col("sq_id_"), "left")
      .drop("sq_id_") -> (() => { h.unpersist(false); () })
  }

  /** Generic sessionization over canonical columns (memory_id, session_id,
    * timestamp): assign 1-based sequence_order and preceding_memory_id in
    * one window shuffle. Used by the ingest path after validation.
    */
  def sessionize(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("session_id").orderBy(col("timestamp"), col("memory_id"))
    df.withColumn("sequence_order", row_number().over(w))
      .withColumn("preceding_memory_id", lag(col("memory_id"), 1).over(w))
  }

  /** Last memory per session (reference A1, storage.py:113-143): the
    * filtered+ordered scroll `order_by sequence_order desc limit 1`,
    * generalized to all sessions in one pass — `max_by` gives a single
    * partial-aggregating shuffle (no per-session query loop).
    */
  def lastMemoryPerSession(memories: DataFrame): DataFrame =
    memories
      .groupBy(col("session_id"))
      .agg(
        expr("max_by(memory_id, sequence_order)").as("last_memory_id"),
        (max(col("sequence_order")) + 1).as("next_seq"))

  /** Provenance self-join (reference J1): resolve each memory's preceding
    * memory row. Both sides share the memories lineage; at scale this is a
    * shuffle join on memory_id — or free if the store is bucketed by
    * memory_id.
    */
  def withProvenance(memories: DataFrame): DataFrame = {
    val prev = memories.select(
      col("memory_id").as("p_memory_id"),
      col("tool").as("preceding_tool"),
      col("timestamp").as("preceding_timestamp"))
    memories.join(prev, memories("preceding_memory_id") === prev("p_memory_id"), "left")
      .drop("p_memory_id")
  }

  /** Bounded-depth ancestor paths along the provenance chain: for every
    * memory, the " <- "-joined trail of up to `maxDepth` preceding ids
    * plus the depth actually reached — the lineage view behind "how did
    * this memory come to be" (the reference surfaces only the single
    * parent edge; this is its transitive extension).
    *
    * Physical shape: `maxDepth` left self-joins on the id key — each a
    * key-equi join (bucketable by memory_id at rest, zero-exchange with
    * [[graft.sink.StoreLayout.writeBucketed]] stores), depth STATICALLY
    * bounded so the plan is k joins, not an unbounded recursion holding
    * frontier state. Full-depth connectivity goes through
    * [[graft.operators.Components]]; this is the per-row path artifact.
    *
    * Dangling references: a `preceding_memory_id` that resolves to no
    * stored memory terminates the trail WITHOUT appearing in the path —
    * the same verdict a recursive CTE's inner join gives, so operator and
    * oracle agree on corrupt-provenance corpora too.
    */
  def provenancePaths(memories: DataFrame, maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 1)
    val mem = memories.select(col("memory_id"), col("preceding_memory_id"))
    var df = mem.select(col("memory_id"),
      col("preceding_memory_id").as("cur"),
      col("memory_id").as("path"),
      lit(0).as("depth"))
    for (_ <- 1 to maxDepth) {
      // extend ONLY when the parent row exists (cur2_ matched): a dangling
      // preceding_memory_id ends the trail exactly like the oracle's
      // recursive inner join — the referenced id is not part of the path
      df = df.join(mem.select(col("memory_id").as("cur2_"),
          col("preceding_memory_id").as("next_")),
        col("cur") === col("cur2_"), "left")
        .withColumn("path", when(col("cur2_").isNotNull,
          concat(col("path"), lit(" <- "), col("cur"))).otherwise(col("path")))
        .withColumn("depth", when(col("cur2_").isNotNull, col("depth") + 1)
          .otherwise(col("depth")))
        .withColumn("cur", when(col("cur2_").isNotNull, col("next_"))
          .otherwise(lit(null).cast("string")))
        .drop("cur2_", "next_")
    }
    df.select(col("memory_id"), col("depth"), col("path"))
  }
}
