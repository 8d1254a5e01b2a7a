package graft

import graft.functions.Embedder
import graft.search.Search
import graft.streaming.StagedRoundtrips
import org.apache.spark.sql.functions._

/** Structured Streaming folds and joins (`stream_*`). */
private[graft] object StreamGates {
  import GateHelpers._

  val gates: Seq[Gate] = Seq(

    // Streaming twin of mine_frequent_pairs: per-micro-batch count
    // deltas folded into a versioned store (basket-complete batches),
    // support threshold + metric divisions at read time. Must equal the
    // one-pass batch recompute row-for-row. Gate-scale slice (even
    // baskets; basket-complete, so the fold contract is untouched) —
    // the full-corpus pair join is already covered by
    // mine_frequent_pairs; this gate's job is the cross-batch fold.
    Gate("stream_frequent_pairs", (s, d) => {
      StagedRoundtrips.stagedFrequentPairsRoundtrip(s,
        Tables.lineitem(s, d)
          .where(col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2,
        scratch("fpstream", d))
        .orderBy(col("a"), col("b"))
    },
      // the stream of folds must reproduce the one-pass batch recompute —
      // same oracle text as mine_frequent_pairs
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem WHERE l_orderkey % 2 = 0),
        |n AS (SELECT COUNT(DISTINCT bk) AS nb FROM bi),
        |ic AS (SELECT it, COUNT(*) AS c FROM bi GROUP BY 1),
        |p AS (SELECT l.it AS a, r.it AS b, COUNT(*) AS w
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT a, b, CAST(w AS BIGINT) AS w,
        |  CAST(w AS DOUBLE) / nb AS support,
        |  CAST(w AS DOUBLE) / ca.c AS confidence,
        |  (CAST(w AS DOUBLE) * nb) / (ca.c * cb.c) AS lift
        |FROM p JOIN ic ca ON p.a = ca.it JOIN ic cb ON p.b = cb.it
        |  CROSS JOIN n
        |ORDER BY a, b""".stripMargin),

    // Streaming substring-dedup fold: additive gram counts + append-only
    // position log; dup decided at read time, so cross-batch duplicates
    // (count 1+1) are found exactly and the fold must equal the batch
    // recompute — the oracle is dedup_substring_spans' SQL verbatim.
    Gate("stream_substring_spans", (s, d) => {
      StagedRoundtrips.stagedSubstringSpansRoundtrip(s,
        docs(s, d), "text", "doc_id", k = 8,
        scratch("substream", d))
    },
      // the stream of folds must reproduce the one-pass batch recompute —
      // same oracle text as dedup_substring_spans
      s"""$substringSpanCte
         |SELECT doc_id, MIN(p) AS span_start, MAX(p) + 7 AS span_end,
         |  MAX(p) + 7 - MIN(p) + 1 AS n_dup_tokens
         |FROM sp GROUP BY doc_id, span
         |ORDER BY doc_id, span_start""".stripMargin),

    // Streaming semantic-dedup fold: batches accepted against the
    // current store, sequentially — a batch-1 acceptance can reject a
    // batch-2 near-dup. The oracle unrolls both folds.
    Gate("stream_semantic_dedup", (s, d) => {
      StagedRoundtrips.stagedSemanticDedupRoundtrip(s,
        Tables.embeddings(s, d), "vec_id", "embedding", "label",
        tau = 0.3, dims = 64,
        scratch("semstream", d))
    },
      // corpus-trained centroids (even ids only), cross-side cell join
      // unrolled two-fold replay: acc1 = corpus ∪ (batch1 minus dups-vs-
      // corpus), acc2 adds batch2 minus dups-vs-acc1 — same fixed corpus
      // centroids, same sim-DESC/cell-DESC assignment tie-break
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings WHERE vec_id % 3 = 0),
        |cent0 AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY label, pos),
        |cent AS (
        |  SELECT CAST(label AS INTEGER) AS cell, list(c ORDER BY pos) AS cv
        |  FROM cent0 GROUP BY label),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |acc0 AS (SELECT * FROM a WHERE vec_id % 3 = 0),
        |b1 AS (SELECT * FROM a WHERE vec_id % 3 = 1),
        |dup1 AS (SELECT DISTINCT n.vec_id FROM b1 n JOIN acc0 c ON n.cell = c.cell
        |  WHERE ROUND(list_cosine_similarity(n.v, c.v), 6) >= 0.3),
        |acc1 AS (SELECT * FROM acc0 UNION ALL
        |  SELECT * FROM b1 WHERE vec_id NOT IN (SELECT vec_id FROM dup1)),
        |b2 AS (SELECT * FROM a WHERE vec_id % 3 = 2),
        |dup2 AS (SELECT DISTINCT n.vec_id FROM b2 n JOIN acc1 c ON n.cell = c.cell
        |  WHERE ROUND(list_cosine_similarity(n.v, c.v), 6) >= 0.3),
        |acc2 AS (SELECT vec_id FROM acc1 UNION ALL
        |  SELECT vec_id FROM b2 WHERE vec_id NOT IN (SELECT vec_id FROM dup2))
        |SELECT e.vec_id, CAST(e.vec_id % 3 AS INT) AS batch,
        |  (e.vec_id IN (SELECT vec_id FROM acc2)) AS accepted
        |FROM e ORDER BY e.vec_id""".stripMargin),

    // Streaming CMS fold: additive per-batch cell deltas must land the
    // fold bit-identical to profile_cms_audit's one-pass batch sketch —
    // the additivity that makes CMS the stream sketch (state = depth ×
    // width cells forever, whatever the stream length).
    Gate("stream_cms_audit", (s, d) => {
      StagedRoundtrips.stagedCmsRoundtrip(s,
        Tables.events(s, d), "user_id", depth = 4, width = 64,
        scratch("cmsstream", d))
        .orderBy(col("key"))
    },
    // the fold must equal the one-pass batch sketch exactly, so the
    // streaming gate shares profile_cms_audit's oracle verbatim
    {
      val h = sqlHash64("CAST(s.d AS VARCHAR) || ':' || k")
      s"""WITH ds AS (SELECT unnest([0,1,2,3]) AS d),
         |src AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
         |cells AS (
         |  SELECT s.d, (($h % 64) + 64) % 64 AS bucket, COUNT(*) AS cnt
         |  FROM src, ds s GROUP BY 1, 2),
         |keys AS (SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS k FROM events),
         |kc AS (
         |  SELECT keys.user_id, s.d, (($h % 64) + 64) % 64 AS bucket
         |  FROM keys, ds s),
         |est AS (
         |  SELECT kc.user_id, MIN(c.cnt) AS est
         |  FROM kc JOIN cells c USING (d, bucket) GROUP BY 1),
         |exact AS (SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY 1)
         |SELECT e.user_id AS key, x.true_cnt, e.est,
         |  e.est - x.true_cnt AS overcount
         |FROM est e JOIN exact x USING (user_id) ORDER BY key""".stripMargin
    }),

    // Watermark-sizing pre-flight: exact drop counts a watermarked job
    // WOULD incur at three candidate horizons, from the batch history —
    // the drop side of the state-vs-loss curve before committing to one.
    Gate("stream_lateness_audit", (s, d) => {
      streaming.StreamingIngest.latenessAudit(Tables.events(s, d),
        "ts", "event_id",
        Seq(("5m", 300000L), ("1h", 3600000L), ("6h", 21600000L)))
        .orderBy(col("horizon_ms"))
    },
      // same arrival-ordered running max, integer microsecond compares
      """WITH b AS (SELECT epoch_us(ts) AS ts_us, event_id FROM events),
        |r AS (SELECT ts_us, MAX(ts_us) OVER (ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) AS hw_us FROM b),
        |w(watermark, horizon_ms) AS (VALUES
        |  ('5m', 300000), ('1h', 3600000), ('6h', 21600000))
        |SELECT watermark, CAST(horizon_ms AS BIGINT) AS horizon_ms,
        |  CAST(SUM(CASE WHEN hw_us - ts_us > horizon_ms * CAST(1000 AS BIGINT)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  COUNT(*) AS n_total,
        |  ROUND(CAST(SUM(CASE WHEN hw_us - ts_us > horizon_ms * CAST(1000 AS BIGINT)
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS late_share
        |FROM r, w GROUP BY 1, 2 ORDER BY horizon_ms""".stripMargin),

    // Streaming CDC fold: winner-per-key store folded per micro-batch
    // with tombstones retained; argmax-by-sequence is associative, so
    // the fold == the one-pass batch MERGE and shares its oracle.
    Gate("stream_cdc_apply", (s, d) => {
      StagedRoundtrips.stagedCdcRoundtrip(s, Tables.events(s, d),
        scratch("cdcstream", d))
        .orderBy(col("user_id"))
    },
      // the fold is associative (argmax winners), so the streaming gate
      // shares the batch MERGE oracle verbatim
      cdcApplySql),

    // Streaming HLL fold: per-batch register deltas max-merge into the
    // versioned store — idempotent as well as additive, so replays can't
    // corrupt it (the property CMS lacks). Fold == one-pass batch audit
    // bit-for-bit; shares profile_hll_audit's oracle verbatim.
    Gate("stream_hll_audit", (s, d) => {
      StagedRoundtrips.stagedHllRoundtrip(s,
        Tables.events(s, d), "event_id", "event_type",
        scratch("hllstream", d))
        .orderBy(col("event_type"))
    },
      // max-merge is exact, so the streaming fold shares the batch oracle
      hllAuditSql),

    // Streaming KMV fold: store = the sketch exploded to (group, hash)
    // rows ≤k per group; fold = distinct-union-take-k, which is
    // IDEMPOTENT (replay-safe like HLL's max, stronger than CMS's adds)
    // and an exact order statistic — so the fold equals the one-pass
    // batch audit bit-for-bit and shares its oracle verbatim.
    Gate("stream_kmv_audit", (s, d) => {
      StagedRoundtrips.stagedKmvRoundtrip(s,
        Tables.events(s, d), "user_id", "event_type", k = 64,
        scratch("kmvstream", d))
        .orderBy(col("event_type"))
    },
      kmvAuditSql),

    // Streaming Kaplan-Meier: the lifetime table is a pure min/max
    // first/last-seen fold — idempotent (replay-safe) and exact, state
    // one row per subject; the curve computes at READ time over the
    // folded lifetimes, so the fold equals the one-pass batch KM
    // bit-for-bit and shares its oracle verbatim.
    Gate("stream_survival_km", (s, d) => {
      StagedRoundtrips.stagedSurvivalRoundtrip(s,
        Tables.events(s, d), "user_id", "ts",
        scratch("survstream", d))
        .orderBy(col("t"))
    },
      survivalKmSql),

    // Streaming SCD2: a real file stream foreachBatch-folds each
    // micro-batch into the versioned dimension store; the final store
    // must equal the full rebuild (same oracle as store_scd2).
    Gate("stream_scd2", (s, d) => {
      val e = Tables.events(s, d).where(col("user_id") % 17 === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      StagedRoundtrips.stagedScd2Roundtrip(s, e,
        scratch("scd2stream", d))
        .orderBy(col("user_id"), col("version"))
    },
      // the stream of per-batch folds must also land on the full rebuild
      scd2Sql),

    // Incremental BM25 statistics: a real file stream foreachBatch-folds
    // each micro-batch's (df, N, Σdl) deltas into a versioned stats
    // store; the final store must equal ONE full-corpus recompute (the
    // oracle SQL) — the streaming complement of hybrid search's sparse
    // ranking, matching how the reference continuously upserts.
    Gate("stream_bm25_stats", (s, d) => {
      StagedRoundtrips.stagedBm25StatsRoundtrip(
        s, docs(s, d).select(col("doc_id"), lower(col("text")).as("text")),
        scratch("bm25stream", d))
        .orderBy(col("term"))
    },
      // the incremental df/totals folds must equal ONE full-corpus pass:
      // per-term doc frequency over distinct in-doc tokens, doc/token
      // totals cross-joined flat
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |tot AS (SELECT COUNT(*) AS n_docs,
         |  CAST(SUM(len(toks)) AS BIGINT) AS sum_dl FROM tok),
         |t AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok),
         |dfs AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term)
         |SELECT term, df, n_docs, sum_dl FROM dfs, tot
         |ORDER BY term""".stripMargin),

    // §2.10 streaming gate: the REAL startJsonlIngest stream builds the
    // store across ≥2 micro-batches plus one replayed batch, then the
    // store itself is oracle-checked — gapless per-session sequence_order
    // and correct preceding ids prove state continuity across batch
    // boundaries and replay idempotence (at-least-once foreachBatch).
    // Streaming exact dedup across a real micro-batch boundary: batch 2
    // re-delivers batch 1's last hour verbatim; state (bounded by the
    // watermark horizon) must drop every replay, so the sink equals the
    // distinct original events.
    Gate("stream_dedup", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val work = scratch("stream_dedup", d)
      StagedRoundtrips.stagedDedupRoundtrip(s, src, work)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    },
      // every replay must be dropped, so the streamed dedup equals the
      // distinct original events — the oracle needs no dedup logic
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin),

    // S10 follow mode (log_viewer.py:151-172): readStream.text twin of
    // log_parse_roundtrip — pre-existing file in batch 0, tailed lines in
    // batch 1; the fold of per-batch parses must equal the one-shot batch
    // parse (read_file ≡ tail_file over the reference's shared parser).
    Gate("stream_log_follow", (s, d) => {
      val src = Tables.events(s, d).select(col("event_id"), col("event_type"))
      val work = scratch("stream_log_follow", d)
      StagedRoundtrips.stagedLogFollowRoundtrip(s, src, work)
        .orderBy(col("id"))
    },
      // follow-mode fold ≡ one-shot parse of all lines: the oracle is the
      // line-construction contract inverted (direction from the id parity
      // that built the wire line, id/tool from the json payload)
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'client' ELSE 'server' END
        |    AS direction,
        |  event_id AS id, event_type AS tool
        |FROM events ORDER BY id""".stripMargin),

    Gate("stream_ingest_sequenced", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 5 === 0)
        .select(col("event_id").cast("string").as("memory_id"),
          col("user_id").cast("string").as("session_id"),
          col("event_type").as("tool"),
          col("ts").as("timestamp"),
          col("value"))
      val work = scratch("stream_gate", d)
      StagedRoundtrips.stagedIngestRoundtrip(s, src, work)
        .select(col("memory_id"), col("session_id"), col("tool"),
          col("sequence_order"), col("preceding_memory_id"))
        .orderBy(col("memory_id").cast("long"))
    },
      // the streamed store must equal ONE global sessionization of the
      // source subset (the stagings split by event time, so per-session
      // batch-1 rows all precede batch-2 rows)
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |    CAST(user_id AS VARCHAR) AS session_id,
        |    event_type AS tool, ts
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT memory_id, session_id, tool,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS sequence_order,
        |  LAG(memory_id) OVER w AS preceding_memory_id
        |FROM src
        |WINDOW w AS (PARTITION BY session_id ORDER BY ts, memory_id)
        |ORDER BY CAST(memory_id AS BIGINT)""".stripMargin),

    // TWS MAP-STATE gate: per-session running count PER TOOL — the
    // fourth and last TWS state primitive; the store reads/writes one
    // sub-map ENTRY per update (a hot tool never deserializes the whole
    // histogram). Oracle = per-(session, tool) ROW_NUMBER, so a lost or
    // duplicated map entry fails the hash.
    Gate("stream_tws_type_counts", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 4 === 0)
        .select(col("event_id").cast("string").as("memoryId"),
          col("user_id").cast("string").as("sessionId"),
          col("event_type").as("tool"),
          col("ts"), col("value"))
      val work = scratch("stream_twsmap", d)
      StagedRoundtrips.stagedTwsSequencedRoundtrip(s, src, work, typed = true)
        .select(col("memoryId").as("memory_id"),
          col("sessionId").as("session_id"), col("tool"),
          col("toolSeq").as("tool_seq"))
        .orderBy(col("memory_id").cast("long"))
    },
      // per-(session, tool) running occurrence number = plain ROW_NUMBER
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |    CAST(user_id AS VARCHAR) AS session_id,
        |    event_type AS tool, ts
        |  FROM events WHERE event_id % 4 = 0)
        |SELECT memory_id, session_id, tool,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY session_id, tool
        |    ORDER BY ts, memory_id) AS BIGINT) AS tool_seq
        |FROM src
        |ORDER BY CAST(memory_id AS BIGINT)""".stripMargin),

    // TWS LIST-STATE gate: the streaming as-of contract verbatim, but
    // the per-key update history lives in a NAMED ListState the RocksDB
    // store appends/replaces element-wise — the third TWS state shape
    // after ValueState and timers. Same fold, same oracle SQL.
    Gate("stream_tws_asof", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("tsm", date_trunc("MILLISECOND", col("ts")))
      val ticks = ev.where(col("event_id") % 2 === 0)
        .select(col("user_id").cast("string").as("key"),
          col("tsm").as("ts"), col("event_id").cast("string").as("tickId"))
      val updates = ev.where(col("event_id") % 2 === 1)
        .groupBy(col("user_id").cast("string").as("key"), col("tsm").as("ts"))
        .agg(max(col("value")).as("refValue"))
      val work = scratch("stream_twsasof", d)
      StagedRoundtrips.stagedAsofRoundtrip(s, ticks, updates, work, tws = true)
        .select(col("key"), col("tickId").as("tick_id"),
          col("tsMs").as("ts_ms"), col("matchedTsMs").as("matched_ts_ms"),
          col("matchedValue").as("matched_value"))
        .orderBy(col("tick_id").cast("long"))
    },
      // the stream_asof_enrich contract verbatim; only the state API differs
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    date_trunc('milliseconds', ts) AS ts,
        |    CAST(event_id AS VARCHAR) AS tick_id
        |  FROM events WHERE event_id % 2 = 0),
        |u AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    date_trunc('milliseconds', ts) AS ts, MAX(value) AS value
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2)
        |SELECT t.key, t.tick_id, CAST(epoch_ms(t.ts) AS BIGINT) AS ts_ms,
        |  CAST(epoch_ms(u.ts) AS BIGINT) AS matched_ts_ms,
        |  u.value AS matched_value
        |FROM t ASOF LEFT JOIN u ON t.key = u.key AND u.ts <= t.ts
        |ORDER BY CAST(t.tick_id AS BIGINT)""".stripMargin),

    // TWS EVENT-TIME TIMERS gate: the same inactivity-session contract
    // as stream_session_windows (same slice, same oracle SQL), but the
    // final open sessions can ONLY emit through registerTimer(end+gap)
    // expiry — the timer half of the transformWithState surface, with
    // sessions closed by later events emitting inline. Two engines, two
    // APIs (built-in session_window vs hand-rolled timer state), one
    // verbatim contract.
    Gate("stream_tws_sessions", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 3 === 0)
        .select(col("user_id").as("userId"), col("ts"), col("value"))
      val work = scratch("stream_twssess", d)
      StagedRoundtrips.stagedTwsSessionRoundtrip(s, src, work)
        .select(col("userId").as("user_id"),
          date_format(col("sessionStart"),
            "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          col("nEvents").as("n_events"), col("sumValue").as("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // the stream_session_windows contract verbatim — same slice, same
      // gap rule, same decimal(18,2) sums; only the engine API differs
      """WITH src AS (SELECT * FROM events WHERE event_id % 3 = 0),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sno
        |  FROM flagged)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sno
        |ORDER BY user_id, session_start""".stripMargin),

    // Spark 4 transformWithState gate: the SAME per-session sequencing
    // contract as stream_ingest_sequenced, run through the NEW
    // arbitrary-state API (named ValueState + RocksDB provider) instead
    // of foreachBatch store folds — state must carry (nextSeq, lastId)
    // across the event-time-split micro-batch boundary. Same window
    // oracle shape over a different event slice.
    Gate("stream_tws_sequenced", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 7 === 0)
        .select(col("event_id").cast("string").as("memoryId"),
          col("user_id").cast("string").as("sessionId"),
          col("event_type").as("tool"),
          col("ts"), col("value"))
      val work = scratch("stream_tws", d)
      StagedRoundtrips.stagedTwsSequencedRoundtrip(s, src, work)
        .select(col("memoryId").as("memory_id"),
          col("sessionId").as("session_id"), col("tool"),
          col("sequenceOrder").as("sequence_order"),
          col("precedingMemoryId").as("preceding_memory_id"))
        .orderBy(col("memory_id").cast("long"))
    },
      // same gapless-sequence window contract, the TWS slice (id % 7)
      """WITH src AS (
        |  SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |    CAST(user_id AS VARCHAR) AS session_id,
        |    event_type AS tool, ts
        |  FROM events WHERE event_id % 7 = 0)
        |SELECT memory_id, session_id, tool,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS sequence_order,
        |  LAG(memory_id) OVER w AS preceding_memory_id
        |FROM src
        |WINDOW w AS (PARTITION BY session_id ORDER BY ts, memory_id)
        |ORDER BY CAST(memory_id AS BIGINT)""".stripMargin),

    // The reference's operational loop CLOSED: stream-ingest into the
    // store (2 micro-batches + a replayed delivery), then run the KNN
    // text search OVER THE STREAMED STORE — result must equal the batch
    // pipeline's search (the oracle recomputes sessionize → embed →
    // cosine → top-k over the same event subset in SQL). Continuous
    // upsert + query is exactly how the reference runs (storage.py
    // upsert + strategies.py search); here each half is a gated plan.
    Gate("stream_search_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 5 === 0)
        .select(col("event_id").cast("string").as("memory_id"),
          col("user_id").cast("string").as("session_id"),
          col("event_type").as("tool"),
          col("ts").as("timestamp"),
          col("value"), col("props"))
      val work = scratch("stream_search", d)
      val store = StagedRoundtrips.stagedIngestRoundtrip(s, src, work)
      val mem = store
        .withColumn("content",
          concat(lit("Tool: "), col("tool"), lit("\n"), col("props")))
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
        .withColumn("memory_id_num", col("memory_id").cast("long"))
      Search.basicByText(mem, "embedding", SearchQueryText, SearchDims,
        limit = 10, scoreThreshold = 0.4, tieBreak = "memory_id_num")
        .select(col("memory_id"), col("tool"), col("sequence_order"),
          col("score"))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      // the streamed store's search == the batch pipeline's search over
      // the same event subset: one WHERE pushed into the sessionize CTE
      (memVecCte(SearchDims, "WHERE event_id % 5 = 0") +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, tool, sequence_order,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10)
        |SELECT memory_id, tool, sequence_order, score FROM topk
        |WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    // Streaming event-time rollup gate: the X27 streaming twin driven for
    // real — the micro-batch boundary cuts through live hours, so the
    // boundary windows' counts must merge across batch state. Complete-
    // mode sink => final table equals the batch rollup (same oracle).
    Gate("stream_hourly_rollup", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"))
      val work = scratch("stream_rollup", d)
      StagedRoundtrips.stagedRollupRoundtrip(s, src, work)
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
      // the streamed rollup must equal the batch rollup of the same events
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming inactivity-session gate (X28's streaming twin, APPEND
    // mode): sessions emit only after the watermark passes their close —
    // sentinel events flush them; micro-batch boundaries cut through
    // live sessions so merged state is what's checked.
    Gate("stream_session_windows", (s, d) => {
      val src = Tables.events(s, d)
        .where(col("event_id") % 3 === 0) // bounded gate slice, like X34's
        .select(col("ts"), col("user_id"), col("value"))
      val work = scratch("stream_sess", d)
      StagedRoundtrips.stagedSessionRoundtrip(s, src, work)
        .select(col("user_id"),
          date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
      // session_window.start = first event of each inactivity-gap island;
      // the streamed sessions must equal the batch gaps-and-islands
      """WITH src AS (SELECT * FROM events WHERE event_id % 3 = 0),
        |flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sno
        |  FROM flagged)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sessions GROUP BY user_id, sno
        |ORDER BY user_id, session_start""".stripMargin),

    // Streaming as-of enrich gate: a REAL two-stream run (file-staged,
    // ≥2 micro-batches, keyed update-history state across the boundary),
    // oracle-checked against DuckDB ASOF LEFT JOIN. Timestamps are
    // ms-truncated up front (the stream envelope carries epoch millis) and
    // updates deduped per (key, ms) — two same-key same-ms updates have no
    // defined ASOF winner in either engine.
    Gate("stream_asof_enrich", (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("tsm", date_trunc("MILLISECOND", col("ts")))
      val ticks = ev.where(col("event_id") % 2 === 0)
        .select(col("user_id").cast("string").as("key"),
          col("tsm").as("ts"), col("event_id").cast("string").as("tickId"))
      val updates = ev.where(col("event_id") % 2 === 1)
        .groupBy(col("user_id").cast("string").as("key"), col("tsm").as("ts"))
        .agg(max(col("value")).as("refValue"))
      val work = scratch("stream_asof", d)
      StagedRoundtrips.stagedAsofRoundtrip(s, ticks, updates, work)
        .select(col("key"), col("tickId").as("tick_id"),
          col("tsMs").as("ts_ms"), col("matchedTsMs").as("matched_ts_ms"),
          col("matchedValue").as("matched_value"))
        .orderBy(col("tick_id").cast("long"))
    },
      // the streamed enrichment must equal the BATCH as-of join (the
      // stagings split by event time, so arrival order = event-time order)
      """WITH t AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    date_trunc('milliseconds', ts) AS ts,
        |    CAST(event_id AS VARCHAR) AS tick_id
        |  FROM events WHERE event_id % 2 = 0),
        |u AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    date_trunc('milliseconds', ts) AS ts, MAX(value) AS value
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2)
        |SELECT t.key, t.tick_id, CAST(epoch_ms(t.ts) AS BIGINT) AS ts_ms,
        |  CAST(epoch_ms(u.ts) AS BIGINT) AS matched_ts_ms,
        |  u.value AS matched_value
        |FROM t ASOF LEFT JOIN u ON t.key = u.key AND u.ts <= t.ts
        |ORDER BY CAST(t.tick_id AS BIGINT)""".stripMargin),

    // Stream-STREAM interval join gate: views and clicks both arrive as
    // real file-staged streams (≥2 micro-batches, watermarked state on
    // BOTH sides), clicks attributed to same-user views within 30 min.
    // The event-time split makes arrival order = event-time order, so
    // the appended matches must equal the batch interval join — a plain
    // SQL oracle. Cross-boundary pairs (batch-2 click, batch-1 view
    // still in join state) are exactly what batch 2 must emit.
    Gate("stream_interval_join", (s, d) => {
      val ev = Tables.events(s, d)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("id"))
      val work = scratch("stream_ivj", d)
      StagedRoundtrips.stagedIntervalJoinRoundtrip(
        s, side("view"), side("click"), work)
        .select(col("key").as("user_id"), col("l_id").as("view_id"),
          date_format(col("l_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
          col("r_id").as("click_id"),
          date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy(col("view_id"), col("click_id"))
    },
      // the streamed two-sided join must equal the batch interval join
      // (event-time split ⇒ arrival order = event-time order)
      """SELECT v.user_id, v.event_id AS view_id,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        |  AND v.event_type = 'view' AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, click_id""".stripMargin),

    // LEFT-OUTER twin of stream_interval_join: unattributed views MUST
    // surface (the "which impressions never converted" half of
    // attribution), and in a stream they can only surface once the
    // watermark proves no future click can match — sentinel stagings
    // flush that expiry. Oracle = the batch LEFT interval join.
    Gate("stream_interval_join_outer", (s, d) => {
      val ev = Tables.events(s, d)
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("id"))
      val work = scratch("stream_ivjo", d)
      StagedRoundtrips.stagedIntervalJoinRoundtrip(
        s, side("view"), side("click"), work, joinType = "left_outer")
        .select(col("key").as("user_id"), col("l_id").as("view_id"),
          date_format(col("l_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
          col("r_id").as("click_id"),
          date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy(col("view_id"), col("click_id"))
    },
      // unmatched views surface with NULL click columns; the click-side
      // type filter rides the ON clause (a WHERE would drop the nulls)
      """SELECT v.user_id, v.event_id AS view_id,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
        |  c.event_id AS click_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM events v LEFT JOIN events c
        |  ON v.user_id = c.user_id AND c.event_type = 'click'
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        |WHERE v.event_type = 'view'
        |ORDER BY view_id, click_id""".stripMargin),

    // Streaming fold of the A/B z-test (X300's counts are additive —
    // the CMS property): per-micro-batch (arm, n, x) deltas sum into a
    // 2-row versioned store, state stays arm-grain bytes forever, and
    // the folded z must equal the one-pass batch test bit-for-bit — the
    // gate shares events_ab_ztest's oracle verbatim.
    Gate("stream_ab_ztest", (s, d) => {
      StagedRoundtrips.stagedAbZtestRoundtrip(s, Tables.events(s, d),
        scratch("stream_abz", d))
    },
    // additive fold == one-pass batch test, so the streaming gate shares
    // the batch oracle verbatim
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
         |  FROM events),
         |agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN arm = 0 THEN bad ELSE 0 END) AS BIGINT)
         |      AS x1,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN arm = 1 THEN bad ELSE 0 END) AS BIGINT)
         |      AS x2
         |  FROM ev)
         |SELECT n1, x1, n2, x2,
         |  ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         |    / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 / n1 + 1.0 / n2)), 6) AS z,
         |  ABS(ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
         |    / SQRT((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
         |      * (1.0 / n1 + 1.0 / n2)), 6)) > 1.959964 AS significant
         |FROM agg""".stripMargin
    }),

    // Incremental distinct-view maintenance: the (user, day) presence
    // SET folds by union+dedup per micro-batch (state = the view's own
    // grain, never the event stream), and the 7-day WAU curve computed
    // at read time over the folded store must equal the batch
    // events_rolling_actives gate row-for-row — shared oracle.
    Gate("stream_rolling_actives_fold", (s, d) => {
      StagedRoundtrips.stagedRollingActivesRoundtrip(s,
        Tables.events(s, d),
        scratch("stream_wau", d))
    },
      // folded distinct view == batch view, oracle shared verbatim
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |sp AS (SELECT DISTINCT day AS d FROM ud)
        |SELECT strftime(sp.d, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT ud.user_id) AS active_users
        |FROM ud JOIN sp ON date_diff('day', ud.day, sp.d) BETWEEN 0 AND 6
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming fold of the peak-concurrency boundary relation — the
    // fourth fold flavor (store additive, statistic computed at read
    // over boundary grain); must equal the batch gate bit-for-bit,
    // oracle shared verbatim.
    Gate("stream_peak_concurrency", (s, d) => {
      StagedRoundtrips.stagedPeakConcurrencyRoundtrip(s,
        Tables.events(s, d),
        scratch("stream_conc", d))
    },
      // folded boundary store == batch sweep, oracle shared verbatim
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |br AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1
        |      ELSE 0 END AS brk
        |  FROM (SELECT user_id, us,
        |      LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
        |    FROM ev)),
        |sid AS (
        |  SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM br),
        |sessions AS (
        |  SELECT user_id, sid, MIN(us) AS st, MAX(us) AS en
        |  FROM sid GROUP BY 1, 2),
        |bounds AS (
        |  SELECT t, CAST(SUM(delta) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS starts
        |  FROM (
        |    SELECT st AS t, 1 AS delta FROM sessions
        |    UNION ALL SELECT en, -1 FROM sessions)
        |  GROUP BY 1),
        |run AS (
        |  SELECT t, starts,
        |    SUM(d) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM bounds),
        |r2 AS (SELECT t, starts, conc, MAX(conc) OVER () AS mx FROM run)
        |SELECT CAST(SUM(starts) AS BIGINT) AS n_sessions,
        |  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
        |  CAST(MIN(CASE WHEN conc = mx THEN t END) AS BIGINT) AS peak_at_us
        |FROM r2""".stripMargin),
  )
}
