package graft

import graft.functions.{Embedder, TextFunctions, VectorFunctions}
import graft.model.MemoryModel
import graft.operators.{Dedup, TextAnalysis}
import graft.search.{Filters, Search, SearchRequest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The memory model, archetype catalog, sources, log parsing and composed pipelines (`mem_*`, `catalog_*`, `source_*`, `log_*`, `pipeline_*`). */
private[graft] object MemoryGates {
  import Filters.{FilterSpec, SV, NV, AV, RV}
  import GateHelpers._
  import SparkEntry.FixtureArchetypeYaml

  /** UNsessionized envelope — for top-k search gates that attach the
    * window columns per-hit afterwards (MemoryModel.attachSequence)
    * instead of shuffling the whole store through the ingest window. */
  private def envelopeMem(s: SparkSession, dir: String): DataFrame =
    MemoryModel.envelope(Tables.events(s, dir))
      .withColumn("memory_id_num", col("memory_id").cast("long"))

  /** Pinned `now` for relative_time in the view gates (both engines). */
  private val ViewNow = "2024-01-31 00:30:00"

  /** Shared by the CSV and ORC roundtrip gates — a lossless format
    * roundtrip must equal the plain source projection. */
  private lazy val sourceRoundtripSql: String =
    """SELECT event_id, event_type, user_id, ROUND(value, 6) AS value_r,
      |  props, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      |FROM events ORDER BY event_id""".stripMargin

  /** Seconds-since `ts` at the pinned view `now` (truncating like Spark's
    * unix_timestamp). */
  private def sqlViewSecs: String =
    s"""CAST(floor(epoch(TIMESTAMP '$ViewNow')) AS BIGINT)
       |    - CAST(floor(epoch(ts)) AS BIGINT)""".stripMargin

  /** DuckDB twin of the contentPreview staging (extract_summary port) over
    * CTE `src`'s `content` column: appends pv0..pv3 CTEs, the last carrying
    * `content_preview` alongside src's columns. */
  private def sqlPreviewCtes(src: String): String =
    s"""pv0 AS (SELECT *, trim(regexp_replace(content, '\\s+', ' ', 'g')) AS norm_ FROM $src),
       |pv1 AS (SELECT *, list_filter(list_transform(string_split_regex(norm_, '[.!?]+'),
       |  x -> trim(x)), x -> x <> '') AS sen_ FROM pv0),
       |pv2 AS (SELECT *, array_to_string(sen_[1:2], '. ') || '.' AS sum_ FROM pv1),
       |pv3 AS (SELECT *, CASE WHEN len(norm_) <= 150 THEN norm_
       |  WHEN len(sen_) = 0 THEN (CASE WHEN len(norm_) <= 100 THEN norm_
       |    ELSE substr(norm_, 1, 97) || '...' END)
       |  WHEN len(sum_) <= 150 THEN sum_
       |  ELSE substr(sum_, 1, 147) || '...' END AS content_preview FROM pv2)""".stripMargin

  /** DuckDB twin of the `full` view's JSON-serialized meta struct (same
    * field order as [[MemoryModel.fromEvents]]'s struct → to_json). */
  private val sqlMetaJson: String =
    """'{"agent_id":"' || m_agent_id ||
      |  '","schema_version":"1.0","fegis_version":"0.1.0","archetype_title":"' ||
      |  m_archetype_title || '","archetype_version":"1.0.0"}'""".stripMargin

  val gates: Seq[Gate] = Seq(

    // S10: MCP-log-line parse roundtrip (the reference's log_viewer source
    // re-expressed as a scan). The small scan is spread across the
    // session's parallelism like docs() — the parse stage is CPU-bound and
    // would otherwise run on the 1-2 partitions a few-MB file plans.
    Gate("log_parse_roundtrip", (s, d) => {
      val lines = Tables.events(s, d)
        .repartition(s.sparkContext.defaultParallelism)
        .select(concat(
          lit("Message from client: {\"id\": "), col("event_id"),
          lit(", \"tool\": \""), col("event_type"), lit("\"}")).as("line"))
      lines
        // the "Message from <role>: " prefix is fixed, so the first ": "
        // always terminates it — locate+substring instead of a per-row
        // regex backtrack (the regex was 40% of this query's time)
        .where(col("line").startsWith("Message from "))
        .withColumn("payload",
          expr("substring(line, locate(': ', line) + 2)"))
        // one from_json parse per row — get_json_object would re-parse the
        // payload once per extracted field
        .withColumn("j", from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL("id LONG, tool STRING")))
        .select(col("j.id").as("id"), col("j.tool").as("tool"))
        .orderBy(col("id"))
    },
      """WITH lines AS (
        |  SELECT 'Message from client: {"id": ' || event_id ||
        |    ', "tool": "' || event_type || '"}' AS line FROM events),
        |p AS (
        |  SELECT regexp_extract(line, 'Message from (client|server): (.*)', 2) AS payload
        |  FROM lines)
        |SELECT CAST(json_extract_string(payload, '$.id') AS BIGINT) AS id,
        |  json_extract_string(payload, '$.tool') AS tool
        |FROM p ORDER BY id""".stripMargin),

    // ---- Memory-store engine surface (SURVEY §2 on the events log) ----

    // A1/A2/J1: sessionization — ONE window shuffle replaces the
    // reference's per-insert Qdrant read-back (storage.py:113-143).
    Gate("mem_sessionize", (s, d) => {
      memories(s, d)
        .select("memory_id", "session_id", "tool", "sequence_order",
          "preceding_memory_id")
        .orderBy(col("memory_id").cast("long"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |  CAST(user_id AS VARCHAR) AS session_id, event_type AS tool,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS sequence_order,
        |  LAG(CAST(event_id AS VARCHAR)) OVER w AS preceding_memory_id
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    Gate("mem_last_per_session", (s, d) => {
      MemoryModel.lastMemoryPerSession(memories(s, d))
        .select(col("session_id"), col("last_memory_id"),
          col("next_seq").cast("long").as("next_seq"))
        .orderBy(col("session_id").cast("long"))
    },
      """SELECT CAST(user_id AS VARCHAR) AS session_id,
        |  CAST(event_id AS VARCHAR) AS last_memory_id, cnt + 1 AS next_seq
        |FROM (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // J1 provenance self-join.
    Gate("mem_provenance", (s, d) => {
      MemoryModel.withProvenance(memories(s, d))
        .select("memory_id", "preceding_memory_id", "preceding_tool")
        .orderBy(col("memory_id").cast("long"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |  LAG(CAST(event_id AS VARCHAR)) OVER w AS preceding_memory_id,
        |  LAG(event_type) OVER w AS preceding_tool
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),

    // Bounded-depth lineage paths along the provenance chain: 4 static
    // key-equi self-joins, never an unbounded recursion.
    Gate("mem_provenance_path", (s, d) => {
      MemoryModel.provenancePaths(memories(s, d), maxDepth = 4)
        .orderBy(col("memory_id").cast("long"))
    },
      // recursive twin of the 4 static self-joins: terminal row per memory
      """WITH RECURSIVE mem AS (
        |  SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |    LAG(CAST(event_id AS VARCHAR))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pre
        |  FROM events),
        |walk AS (
        |  SELECT memory_id, pre AS cur, memory_id AS path, 0 AS depth FROM mem
        |  UNION ALL
        |  SELECT w.memory_id, m.pre, w.path || ' <- ' || w.cur, w.depth + 1
        |  FROM walk w JOIN mem m ON w.cur = m.memory_id
        |  WHERE w.depth < 4)
        |SELECT memory_id, CAST(depth AS INT) AS depth, path FROM walk
        |QUALIFY row_number() OVER (PARTITION BY memory_id ORDER BY depth DESC) = 1
        |ORDER BY CAST(memory_id AS BIGINT)""".stripMargin),

    // F1-F8: the full filter algebra AND-combined, compiled to one
    // pushed-down predicate.
    Gate("mem_filter_algebra", (s, d) => {
      memories(s, d)
        .where(Filters.compileAll(Seq(
          FilterSpec("tool", "any_of", AV(Seq("click", "view"))),
          FilterSpec("timestamp", "after", SV("2024-01-10T00:00:00")),
          FilterSpec("timestamp", "before", SV("2024-01-25T00:00:00")),
          FilterSpec("value", "between", RV(NV(5.0), NV(40.0))),
          FilterSpec("session_id", "is_not", SV("42")),
          // tokenized MatchText: token "6" matches {"k": 6} ONLY — the
          // substring form would also pull in 16, 60..69, etc.
          FilterSpec("props", "contains", SV("6")),
          FilterSpec("props", "contains_substring", SV("\"k\"")))))
        // timestamps leave results as strings: parquet ns-vs-µs physical
        // types would otherwise break hash-compare despite equal values
        .select(col("memory_id"), col("tool"), col("value"),
          date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("props"))
        .orderBy(col("memory_id").cast("long"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS memory_id, event_type AS tool,
        |  value, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, props
        |FROM events
        |WHERE event_type IN ('click', 'view')
        |  AND ts > TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-25 00:00:00'
        |  AND value BETWEEN 5.0 AND 40.0
        |  AND CAST(user_id AS VARCHAR) <> '42'
        |  AND list_contains(regexp_extract_all(lower(props), '[a-z0-9]+'), '6')
        |  AND contains(lower(props), lower('"k"'))
        |ORDER BY event_id""".stripMargin),

    // P4/P10: dot-path access through the model's own canonical meta
    // struct (storage.py:184-190) + API-name mapping (agent_id and
    // archetype_title resolve to meta.* via Filters.fieldMap).
    Gate("mem_filter_meta", (s, d) => {
      memories(s, d).where(Filters.compileAll(Seq(
          FilterSpec("agent_id", "is", SV("agent-7")),
          FilterSpec("archetype_title", "is", SV("Click")))))
        .select(col("memory_id"), col("tool"),
          col("meta.agent_id").as("agent_id"),
          col("meta.archetype_title").as("archetype_title"))
        .orderBy(col("memory_id").cast("long"))
    },
      """WITH mem AS (
        |  SELECT CAST(event_id AS VARCHAR) AS memory_id, event_id,
        |    event_type AS tool,
        |    'agent-' || CAST(user_id AS VARCHAR) AS agent_id,
        |    upper(substr(event_type, 1, 1)) || substr(event_type, 2) AS archetype_title
        |  FROM events)
        |SELECT memory_id, tool, agent_id, archetype_title FROM mem
        |WHERE agent_id = 'agent-7' AND archetype_title = 'Click'
        |ORDER BY event_id""".stripMargin),

    // S7/T3: point lookup, constant score.
    Gate("mem_by_id", (s, d) => {
      Search.byId(memories(s, d), "memory_id", Seq("17", "230", "4099"))
        .select("memory_id", "session_id", "tool", "sequence_order", "score")
        .orderBy(col("memory_id").cast("long"))
    },
      """SELECT CAST(event_id AS VARCHAR) AS memory_id,
        |  CAST(user_id AS VARCHAR) AS session_id, event_type AS tool,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS sequence_order,
        |  CAST(1.0 AS DOUBLE) AS score
        |FROM events QUALIFY CAST(event_id AS VARCHAR) IN ('17', '230', '4099')
        |ORDER BY event_id""".stripMargin),

    // ---- SearchMemory full pipeline (S8/T1/P7 over the memory store,
    // surrogate embeddings — ingest-side and query-side share the same
    // embedder, like the reference shares its fastembed model) ----
    Gate("mem_embed", (s, d) => {
      // through the BATCHED TextEmbedder seam (production embed path) —
      // the oracle recomputes the vectors in SQL, so this gate proves
      // Column form, JVM seam, and external SQL agree bit-for-bit; odd
      // batch size on purpose (boundaries must not change results)
      val mem = graft.functions.TextEmbedder.embedText(
        memories(s, d), "content", "embedding", SearchDims, batchSize = 7)
      mem.select(col("memory_id"),
        round(element_at(col("embedding"), 1), 6).as("e0"),
        round(element_at(col("embedding"), 2), 6).as("e1"),
        round(VectorFunctions.l2Norm(col("embedding"), SearchDims), 6).as("norm"))
        .orderBy(col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      """
        |SELECT memory_id, ROUND(embedding[1], 6) AS e0, ROUND(embedding[2], 6) AS e1,
        |  ROUND(sqrt(list_sum(list_transform(embedding, x -> x*x))), 6) AS norm
        |FROM vec ORDER BY event_id""".stripMargin)),

    // Serving-path shape (round-7 #2): score + top-k over the UNwindowed
    // envelope (no shuffle — TakeOrderedAndProject straight over the
    // scan), then attach sequence_order for the ≤10 winners by
    // re-sessionizing ONLY their sessions. At 100 TB the old shape
    // shuffled the whole store through the ingest window to rank 10 rows.
    Gate("mem_search_basic", (s, d) => {
      val env = envelopeMem(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      val hits = Search.basicByText(env, "embedding", SearchQueryText,
        SearchDims, limit = 10, scoreThreshold = 0.4,
        tieBreak = "memory_id_num")
      MemoryModel.attachSequence(env, hits)
        .select(col("memory_id"), col("tool"), col("title"),
          col("sequence_order"), col("score"))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, tool, title, sequence_order,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10)
        |SELECT memory_id, tool, title, sequence_order, score FROM topk
        |WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    Gate("mem_search_filtered", (s, d) => {
      val mem = memories(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      Search.basicByText(mem, "embedding", SearchQueryText, SearchDims,
        limit = 10, scoreThreshold = 0.4,
        filters = Seq(
          FilterSpec("tool", "any_of", AV(Seq("click", "purchase"))),
          FilterSpec("timestamp", "after", SV("2024-01-05T00:00:00")),
          FilterSpec("value", "between", RV(NV(5.0), NV(80.0)))),
        tieBreak = "memory_id_num")
        .select(col("memory_id"), col("tool"), col("value"), col("score"))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, tool, value,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv
        |  WHERE tool IN ('click', 'purchase')
        |    AND ts > TIMESTAMP '2024-01-05 00:00:00'
        |    AND value BETWEEN 5.0 AND 80.0),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10)
        |SELECT memory_id, tool, value, score FROM topk
        |WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    Gate("mem_search_rrf", (s, d) => {
      val mem = memories(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      val qv = Embedder.embed(lit(SearchQueryText), SearchDims)
      val qToks = TextFunctions.tokens(lower(lit(SearchQueryText)))
      val scored = mem
        .withColumn("dense", VectorFunctions.cosine(col("embedding"), qv, SearchDims))
        .withColumn("kw",
          size(array_intersect(TextFunctions.tokens(lower(col("content"))), qToks)))
      Search.rrfFuse(scored, col("dense"), col("kw").cast("double"),
        col("memory_id").cast("long"))
        .withColumn("score", round(col("score"), 9))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
        .limit(10)
        .select(col("memory_id"), col("tool"), col("score"))
    },
      (memVecCte(SearchDims) +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, tool,
        |    list_cosine_similarity(embedding, qvec) AS dense,
        |    CAST(len(list_intersect(
        |      list_filter(string_split_regex(lower(content), '\s+'), t -> t <> ''),
        |      ['tool:', 'purchase'])) AS DOUBLE) AS kw
        |  FROM vec, qv),
        |ranked AS (
        |  SELECT memory_id, event_id, tool,
        |    ROW_NUMBER() OVER (ORDER BY dense DESC, event_id) AS dr,
        |    ROW_NUMBER() OVER (ORDER BY kw DESC, event_id) AS kr
        |  FROM scored)
        |SELECT memory_id, tool,
        |  ROUND(CAST(1.0 AS DOUBLE)/(60+dr) + CAST(1.0 AS DOUBLE)/(60+kr), 9) AS score
        |FROM ranked ORDER BY score DESC, event_id LIMIT 10""".stripMargin)),

    // Candidate-pruned RRF: each ranking contributes only its top-100 list
    // (per-partition top-100 heaps merged on the driver in one job, then a
    // broadcast join back) —
    // the fusion shape that survives 100 TB, vs mem_search_rrf's exact
    // global-rank form.
    Gate("mem_search_rrf_pruned", (s, d) => {
      val mem = memories(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      val qv = Embedder.embed(lit(SearchQueryText), SearchDims)
      val qToks = TextFunctions.tokens(lower(lit(SearchQueryText)))
      val scored = mem
        .withColumn("dense", VectorFunctions.cosine(col("embedding"), qv, SearchDims))
        .withColumn("kw",
          size(array_intersect(TextFunctions.tokens(lower(col("content"))), qToks)))
      // fused scores come back id-only (≤2m rows); the reattach join is
      // broadcast + column-pruned, so the embed pipeline runs ONCE
      val fused = Search.rrfFuseTopMScores(scored, col("dense"),
        col("kw").cast("double"), col("memory_id").cast("long"), m = 100)
      mem.select(col("memory_id"), col("tool"))
        .join(broadcast(fused), col("memory_id").cast("long") === fused("tb"))
        .withColumn("score", round(col("score"), 9))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
        .limit(10)
        .select(col("memory_id"), col("tool"), col("score"))
    },
      (memVecCte(SearchDims) +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, tool,
        |    list_cosine_similarity(embedding, qvec) AS dense,
        |    CAST(len(list_intersect(
        |      list_filter(string_split_regex(lower(content), '\s+'), t -> t <> ''),
        |      ['tool:', 'purchase'])) AS DOUBLE) AS kw
        |  FROM vec, qv),
        |ranked AS (
        |  SELECT memory_id, event_id, tool,
        |    ROW_NUMBER() OVER (ORDER BY dense DESC, event_id) AS dr,
        |    ROW_NUMBER() OVER (ORDER BY kw DESC, event_id) AS kr
        |  FROM scored)
        |SELECT memory_id, tool,
        |  ROUND((CASE WHEN dr <= 100 THEN CAST(1.0 AS DOUBLE)/(60+dr) ELSE 0 END)
        |      + (CASE WHEN kr <= 100 THEN CAST(1.0 AS DOUBLE)/(60+kr) ELSE 0 END), 9) AS score
        |FROM ranked ORDER BY score DESC, event_id LIMIT 10""".stripMargin)),

    // O5 hybrid fusion with a REAL sparse ranker: dense cosine + Okapi
    // BM25 over the memory store's content, fused with pruned top-M RRF
    // (the reference's fastembed hybrid ranks dense + sparse-BM25 and
    // fuses with RRF opaquely; here every stage is an explicit plan).
    // PRODUCTION PATH: the store is MATERIALIZED via the X33 layout
    // (partitionBy tool, sorted by memory_id) with embeddings computed
    // once at write time — exactly the reference's embed-at-upsert
    // (storage.py:194-199) — and every downstream pass reads the parquet
    // store column-pruned: BM25 stats/df/tf read only content(+id), the
    // fusion projection only (id, embedding), the payload reattach only
    // (id, tool). No session cache stands in for storage any more;
    // PlanShapeSpec pins the reattach scan's pruned ReadSchema.
    Gate("mem_search_hybrid_bm25", (s, d) => {
      val path = scratch("hybrid_store", d)
      graft.sink.StoreLayout.writeOptimized(
        memories(s, d)
          .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
          .select(col("memory_id"), col("tool"), col("content"), col("embedding")),
        path, partitionCols = Seq("tool"), sortCols = Seq("memory_id"),
        filesPerPartition = 8)
      val store = graft.sink.StoreLayout.read(s, path)
      val qv = Embedder.embed(lit(SearchQueryText), SearchDims)
      val bm = operators.Bm25.score(
        store.select(col("memory_id"), col("content")),
        "content", "memory_id", SearchQueryText, k1 = Bm25K1, b = Bm25B)
        .withColumnRenamed("score", "kw_score")
      val scored = store.select(col("memory_id"), col("embedding"))
        .join(bm, Seq("memory_id"), "left")
        .withColumn("kw", coalesce(col("kw_score"), lit(0.0)))
        .withColumn("dense",
          VectorFunctions.cosine(col("embedding"), qv, SearchDims))
      // id-only fused scores + broadcast reattach against the store
      val fused = Search.rrfFuseTopMScores(scored, col("dense"), col("kw"),
        col("memory_id").cast("long"), m = 100)
      store.select(col("memory_id"), col("tool"))
        .join(broadcast(fused), col("memory_id").cast("long") === fused("tb"))
        .withColumn("score", round(col("score"), 9))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
        .limit(10)
        .select(col("memory_id"), col("tool"), col("score"))
    },
    {
      val terms = operators.Bm25.queryTerms(SearchQueryText)
        .map(t => s"'$t'").mkString(", ")
      memVecCte(SearchDims) +
      s""",
        |tk AS (SELECT event_id,
        |  list_filter(string_split_regex(lower(content), '\\s+'), t -> t <> '') AS toks
        |  FROM vec),
        |st AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS tot FROM tk),
        |tf AS (
        |  SELECT event_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
        |    SELECT event_id, len(toks) AS dl, unnest(toks) AS term FROM tk)
        |  WHERE term IN ($terms) GROUP BY 1, 2, 3),
        |df AS (
        |  SELECT term, COUNT(*) AS df FROM (
        |    SELECT event_id, unnest(list_distinct(toks)) AS term FROM tk)
        |  WHERE term IN ($terms) GROUP BY 1),
        |idf AS (SELECT term,
        |  ROUND(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)), 6) AS idf
        |  FROM df),
        |avgdl AS (SELECT CAST(tot AS DOUBLE) / n AS a FROM st),
        |contrib AS (
        |  SELECT tf.event_id,
        |    ROUND(idf.idf * ((tf.tf * ${Bm25K1 + 1}) /
        |      (tf.tf + $Bm25K1 * (${1 - Bm25B} + ($Bm25B * tf.dl) / a.a))), 9) AS c
        |  FROM tf JOIN idf ON tf.term = idf.term, avgdl a),
        |kw AS (SELECT event_id, CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS kw
        |  FROM contrib GROUP BY 1),
        |scored AS (
        |  SELECT v.memory_id, v.event_id, v.tool,
        |    list_cosine_similarity(v.embedding, qv.qvec) AS dense,
        |    COALESCE(kw.kw, 0.0) AS kw
        |  FROM vec v LEFT JOIN kw ON kw.event_id = v.event_id, qv),
        |ranked AS (
        |  SELECT memory_id, event_id, tool,
        |    ROW_NUMBER() OVER (ORDER BY dense DESC, event_id) AS dr,
        |    ROW_NUMBER() OVER (ORDER BY kw DESC, event_id) AS kr
        |  FROM scored)
        |SELECT memory_id, tool,
        |  ROUND((CASE WHEN dr <= 100 THEN CAST(1.0 AS DOUBLE)/(60+dr) ELSE 0 END)
        |      + (CASE WHEN kr <= 100 THEN CAST(1.0 AS DOUBLE)/(60+kr) ELSE 0 END), 9) AS score
        |FROM ranked ORDER BY score DESC, event_id LIMIT 10""".stripMargin
    }),

    // P3 view projection over a search result — field-exact vs the
    // reference's RESULT_VIEWS summary list (formatters.py:33-43),
    // including the derived content_preview and relative_time. `now` is
    // pinned so relative_time is oracle-checkable.
    Gate("mem_search_view_summary", (s, d) => {
      val mem = memories(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      val hits = Search.basicByText(mem, "embedding", SearchQueryText, SearchDims,
        limit = 10, scoreThreshold = 0.4, tieBreak = "memory_id_num")
      Search.project(hits, "summary", now = to_timestamp(lit(ViewNow)))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      s""",
        |scored AS (
        |  SELECT memory_id, event_id, title, context, tool, session_id, content, ts,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10),
        |${sqlPreviewCtes("topk")},
        |rel AS (SELECT *, $sqlViewSecs AS secs_ FROM pv3)
        |SELECT memory_id, title, context, tool, score, content_preview,
        |  $sqlRelCase AS relative_time, session_id
        |FROM rel WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    // P3 remaining views, exercised through the FULL request envelope
    // (schema-validated SearchRequest → strategy dispatch → view
    // projection — reference handler.py:33-62). `graph` is the
    // reference's relationship view: preceding_memory_id and the
    // meta.agent_id / meta.archetype_title dot-fields ride through
    // (formatters.py:44-58); `full` carries the whole payload incl.
    // parameters/frames and the JSON-serialized meta dict.
    Gate("mem_search_view_compact", (s, d) => {
      val mem = memories(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      Search.searchMemory(mem, "embedding", SearchDims,
        SearchRequest(SearchQueryText, limit = 10, scoreThreshold = 0.4,
          detail = "compact"),
        tieBreak = "memory_id_num")
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      """,
        |scored AS (
        |  SELECT memory_id, event_id, title, tool, context, session_id,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10)
        |SELECT memory_id, title, tool, context, session_id, score
        |FROM topk WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    // graph/full views need sequence_order + preceding_memory_id — the
    // attach hook fills them in for the pruned hits (serving-path shape,
    // see mem_search_basic).
    Gate("mem_search_view_graph", (s, d) => {
      val env = envelopeMem(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      Search.searchMemory(env, "embedding", SearchDims,
        SearchRequest(SearchQueryText, limit = 10, scoreThreshold = 0.4,
          detail = "graph"),
        tieBreak = "memory_id_num", now = to_timestamp(lit(ViewNow)),
        attach = h => MemoryModel.attachSequence(env, h))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      s""",
        |scored AS (
        |  SELECT memory_id, event_id, title, preceding_memory_id, session_id,
        |    sequence_order, tool, ts, m_agent_id, m_archetype_title,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10),
        |rel AS (SELECT *, $sqlViewSecs AS secs_ FROM topk)
        |SELECT memory_id, title, preceding_memory_id, session_id,
        |  sequence_order, tool, $sqlRelCase AS relative_time,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS timestamp, score,
        |  m_agent_id AS "meta.agent_id",
        |  m_archetype_title AS "meta.archetype_title"
        |FROM rel WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    Gate("mem_search_view_full", (s, d) => {
      val env = envelopeMem(s, d)
        .withColumn("embedding", Embedder.embed(col("content"), SearchDims))
      Search.searchMemory(env, "embedding", SearchDims,
        SearchRequest(SearchQueryText, limit = 10, scoreThreshold = 0.4,
          detail = "full"),
        tieBreak = "memory_id_num",
        attach = h => MemoryModel.attachSequence(env, h))
        .orderBy(col("score").desc, col("memory_id").cast("long"))
    },
      (memVecCte(SearchDims) +
      s""",
        |scored AS (
        |  SELECT memory_id, event_id, title, content, context, tool, session_id,
        |    sequence_order, ts, preceding_memory_id, parameters, frames,
        |    m_agent_id, m_archetype_title,
        |    ROUND(list_cosine_similarity(embedding, qvec), 6) AS score
        |  FROM vec, qv),
        |topk AS (SELECT * FROM scored ORDER BY score DESC, event_id LIMIT 10)
        |SELECT memory_id, score, title, content, context, tool, session_id,
        |  sequence_order, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS timestamp,
        |  preceding_memory_id, parameters, frames,
        |  $sqlMetaJson AS meta
        |FROM topk WHERE score >= 0.4 ORDER BY score DESC, event_id""".stripMargin)),

    // Train/test leakage audit: near-dup pairs (the exact Jaccard
    // operator) classified by the splits their endpoints landed in — a
    // cross-split near-dup IS eval contamination the split hash cannot
    // see. The deploy-blocking number is the is_leak=true row count.
    Gate("pipeline_split_leakage", (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.ngramJaccardPairs(dd, "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, maxDf = 5)
      val splits = operators.Sampling.assignSplit(dd, "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.select(col("doc_id").as("a"), col("split").as("sa")), "a")
        .join(splits.select(col("doc_id").as("b"), col("split").as("sb")), "b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", col("split_a") =!= col("split_b"))
        .orderBy(col("split_a"), col("split_b"))
    },
    // the exact-Jaccard pair CTE verbatim + the sample_split hash CASE;
    // pair orientation normalized by split name so the counts are stable
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#split'")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |exh AS (SELECT doc_id, ${sqlHash64("shingle")} AS shk FROM ex0),
         |capped AS (
         |  SELECT doc_id, shk FROM (
         |    SELECT doc_id, shk, COUNT(*) OVER (PARTITION BY shk) AS df
         |    FROM exh) WHERE df <= 5),
         |ex AS (
         |  SELECT doc_id, shk, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
         |  FROM capped),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b,
         |    ROUND(CAST(COUNT(*) AS DOUBLE) /
         |      (any_value(l.n_sh) + any_value(r.n_sh) - COUNT(*)), 6) AS jaccard
         |  FROM ex l JOIN ex r ON l.shk = r.shk AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2 HAVING jaccard >= 0.5),
         |sp AS (SELECT doc_id, CASE
         |  WHEN $b % 1000000 < 800000 THEN 'train'
         |  WHEN $b % 1000000 < 900000 THEN 'val'
         |  ELSE 'test' END AS split FROM documents),
         |cls AS (SELECT LEAST(sa.split, sb.split) AS split_a,
         |    GREATEST(sa.split, sb.split) AS split_b
         |  FROM pairs JOIN sp sa ON pairs.a = sa.doc_id
         |  JOIN sp sb ON pairs.b = sb.doc_id)
         |SELECT split_a, split_b, COUNT(*) AS n_pairs,
         |  split_a <> split_b AS is_leak
         |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),

    // Capstone pipeline: canonical near-dup dedup feeding deterministic
    // splits — the two stages compose with one join, and the oracle
    // replays the whole chain end to end.
    Gate("pipeline_dedup_split", (s, d) => {
      val dd = docs(s, d)
      val keepers = Dedup.canonicalMap(dd, "text", "doc_id", "n_chars")
        .where(col("is_keeper")).select(col("doc_id"))
      operators.Sampling.assignSplit(dd.join(keepers, "doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    // the full chain replayed end to end: canonical keepers → the same
    // hash-bucket split rule as sample_split
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#split'")
      s"""WITH RECURSIVE $canonicalCtes,
         |keepers AS (
         |  SELECT c.id AS doc_id FROM comp c JOIN canon USING (component)
         |  WHERE c.id = canon.canonical_id)
         |SELECT doc_id, CASE
         |  WHEN $b % 1000000 < 800000 THEN 'train'
         |  WHEN $b % 1000000 < 900000 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM keepers ORDER BY doc_id""".stripMargin
    }),

    // Observation API: pipeline health counters (rows in, mass in)
    // riding the SAME pass as the filter — `observe` attaches aggregates
    // to the plan so a 100 TB curation job reports its funnel without a
    // second scan (the accumulator pattern, typed and declarative). The
    // gate materializes once, reads the observed metrics, and emits them
    // beside the kept-count; the oracle recomputes both sides from
    // scratch — observed metrics must equal a real aggregate.
    Gate("pipeline_observe", (s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val kept = Tables.lineitem(s, d)
        .observe(obs, count(lit(1)).as("rows_in"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("qty_in"))
        .where(col("l_discount") > 0.05)
        .count()
      val m = obs.get
      s.createDataFrame(Seq((
          m("rows_in").asInstanceOf[Long],
          m("qty_in").asInstanceOf[java.math.BigDecimal].doubleValue,
          kept)))
        .toDF("rows_in", "qty_in", "rows_kept")
        .select(col("rows_in"), col("qty_in"), col("rows_kept"),
          round(col("rows_kept").cast("double") /
            col("rows_in").cast("double"), 6).as("keep_share"))
    },
      // observed metrics must equal a from-scratch aggregate
      """SELECT COUNT(*) AS rows_in,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_in,
        |  COUNT(*) FILTER (l_discount > 0.05) AS rows_kept,
        |  ROUND(CAST(COUNT(*) FILTER (l_discount > 0.05) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS keep_share
        |FROM lineitem""".stripMargin),

    // CSV source roundtrip: schema'd read-back of a write that must
    // quote-escape the embedded-JSON props column (commas, quotes,
    // braces) and format microsecond timestamps — the interchange
    // format's fidelity gate.
    Gate("source_csv_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), col("props"), col("ts"))
      val path = scratch("csv", d)
      src.write.mode("overwrite").option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
      s.read.schema(src.schema).option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(path)
        .select(col("event_id"), col("event_type"), col("user_id"),
          round(col("value"), 6).as("value_r"), col("props"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .orderBy(col("event_id"))
    },
      // format roundtrips are lossless: content equals the plain source
      sourceRoundtripSql),

    // ORC source roundtrip: the columnar alternative ships in Spark;
    // same typed projection must come back bit-equal.
    Gate("source_orc_roundtrip", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"), col("props"), col("ts"))
      val path = scratch("orc", d)
      src.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select(col("event_id"), col("event_type"), col("user_id"),
          round(col("value"), 6).as("value_r"), col("props"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
        .orderBy(col("event_id"))
    },
      sourceRoundtripSql),

    // The full curation pipeline in one call — what a training-data team
    // actually runs: quality gate (corpus filter) ∩ near-dup canonical
    // keepers → class-balanced downsample → deterministic split → the
    // (split × lang) doc/token report a data card is written from. Every
    // stage is an existing audited operator; the oracle replays the whole
    // chain end to end, so THIS gate certifies the composition, not just
    // the parts. kept is checkpointed at its fan-out (balance counts +
    // rank + report all read it).
    Gate("pipeline_curation_report", (s, d) => {
      val dd = docs(s, d)
      val qpass = TextAnalysis.corpusFilter(dd, "text", "doc_id")
        .where(col("keep")).select(col("doc_id"))
      val keepers = Dedup.canonicalMap(dd, "text", "doc_id", "n_chars")
        .where(col("is_keeper")).select(col("doc_id"))
      val kept = dd.join(qpass, "doc_id").join(keepers, "doc_id")
        .localCheckpoint()
      val balanced = operators.Sampling.balanceClasses(kept, "doc_id", "lang")
      operators.Sampling.assignSplit(balanced, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .withColumn("toks", size(TextFunctions.tokens(col("text"))))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks").cast("long")).as("ws_tokens"))
        .orderBy(col("split"), col("lang"))
    },
    // the whole curation chain replayed: canonical keepers ∩ quality
    // pass → min-class balance (hash rank, '#bal') → hash split
    // ('#split') → (split × lang) doc/token report. `tok` is shared with
    // the canonical CTEs (same definition as text_corpus_filter's).
    {
      val grams2 =
        """CASE WHEN len(toks) < 2 THEN []
          |  ELSE list_transform(generate_series(1, len(toks)-1),
          |    i -> toks[i] || ' ' || toks[i+1]) END""".stripMargin
      val hbal = sqlHash64("CAST(doc_id AS VARCHAR) || '#bal'")
      val hsplit = sqlHash64("CAST(doc_id AS VARCHAR) || '#split'")
      s"""WITH RECURSIVE $canonicalCtes,
         |keepers AS (
         |  SELECT c.id AS doc_id FROM comp c JOIN canon USING (component)
         |  WHERE c.id = canon.canonical_id),
         |f AS (
         |  SELECT doc_id, length(text) AS n_chars_c,
         |    len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
         |    len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),
         |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stops
         |  FROM documents),
         |qr AS (
         |  SELECT doc_id, n_tokens,
         |    ROUND(punct / NULLIF(n_chars_c, 0), 4) AS punct_ratio,
         |    ROUND(stops / NULLIF(n_tokens, 0), 4) AS stopword_ratio
         |  FROM f),
         |g2 AS (SELECT doc_id, unnest($grams2) AS gram FROM tok),
         |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
         |a2 AS (SELECT doc_id,
         |    ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) AS top_gram_ratio
         |  FROM c2 GROUP BY 1),
         |qpass AS (
         |  SELECT qr.doc_id FROM qr LEFT JOIN a2 ON qr.doc_id = a2.doc_id
         |  WHERE NOT ((qr.n_tokens < 40)
         |    OR COALESCE(qr.stopword_ratio < 0.05, TRUE)
         |    OR COALESCE(qr.punct_ratio > 0.2, FALSE)
         |    OR COALESCE(a2.top_gram_ratio > 0.1, FALSE))),
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN keepers USING (doc_id) JOIN qpass USING (doc_id)),
         |cnt AS (SELECT lang, COUNT(*) AS n FROM kept GROUP BY 1),
         |cap AS (SELECT MIN(n) AS cap FROM cnt),
         |balr AS (
         |  SELECT doc_id, lang, text,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY (($hbal % 1000000) + 1000000) % 1000000, doc_id)
         |      AS rk
         |  FROM kept),
         |bal AS (SELECT doc_id, lang, text FROM balr, cap WHERE rk <= cap),
         |spl AS (
         |  SELECT lang, text, CASE
         |    WHEN $hsplit % 1000000 < 800000 THEN 'train'
         |    WHEN $hsplit % 1000000 < 900000 THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM bal)
         |SELECT split, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${sqlTokens("text")})) AS BIGINT) AS ws_tokens
         |FROM spl GROUP BY 1, 2 ORDER BY split, lang""".stripMargin
    }),

    // DPO-style preference pairs: within each language group, pair the
    // i-th best document (by quality score) with the i-th worst —
    // mirrored tie-breaks keep the halves disjoint for i ≤ n/2, an odd
    // middle element pairs with nobody, and equal-quality pairs are
    // dropped (no preference signal). Two windows over the same scored
    // relation; pair volume is n/2 per group by construction.
    Gate("pipeline_preference_pairs", (s, d) => {
      val q = TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select(col("doc_id"), col("lang"), col("quality_score"))
        .localCheckpoint() // best ranks, worst ranks and counts read it
      val best = q.withColumn("i", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("quality_score").desc, col("doc_id"))))
        .select(col("lang"), col("i"), col("doc_id").as("chosen_id"),
          col("quality_score").as("q_chosen"))
      val worst = q.withColumn("i", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("quality_score").asc, col("doc_id").desc)))
        .select(col("lang"), col("i"), col("doc_id").as("rejected_id"),
          col("quality_score").as("q_rejected"))
      val n = q.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      best.join(worst, Seq("lang", "i")).join(n, "lang")
        .where(col("i") <= expr("n div 2"))
        .where(col("q_chosen") > col("q_rejected"))
        .select(col("lang"), col("i").cast("long").as("pair_rank"),
          col("chosen_id"), col("rejected_id"), col("q_chosen"),
          col("q_rejected"))
        .orderBy(col("lang"), col("pair_rank"))
    },
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
        |    length(text) AS n_chars_c,
        |    len(list_filter(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
        |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stops
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang,
        |    ROUND(CAST((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN punct / NULLIF(n_chars_c, 0) < 0.2 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN stops > 0 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 4)
        |      AS quality_score
        |  FROM f),
        |best AS (
        |  SELECT lang, doc_id AS chosen_id, quality_score AS q_chosen,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY quality_score DESC, doc_id) AS i
        |  FROM q),
        |worst AS (
        |  SELECT lang, doc_id AS rejected_id, quality_score AS q_rejected,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY quality_score ASC, doc_id DESC) AS i
        |  FROM q),
        |n AS (SELECT lang, COUNT(*) AS n FROM q GROUP BY 1)
        |SELECT b.lang, CAST(b.i AS BIGINT) AS pair_rank, b.chosen_id,
        |  w.rejected_id, b.q_chosen, w.q_rejected
        |FROM best b JOIN worst w ON b.lang = w.lang AND b.i = w.i
        |JOIN n ON b.lang = n.lang
        |WHERE b.i <= n.n // 2 AND b.q_chosen > w.q_rejected
        |ORDER BY b.lang, pair_rank""".stripMargin),

    // JSONL ingest with corrupt-record quarantine — the PERMISSIVE-mode
    // contract every log pipeline leans on: bad lines must neither kill
    // the job nor silently vanish. Events render to JSON lines, a
    // deterministic 1/97 subset is truncated mid-object (unparseable by
    // construction), and the schema'd read-back must route exactly those
    // to _corrupt_record (nulls elsewhere) while the good rows survive
    // bit-equal. The gate reports the quarantine census + a checksum
    // over survivors; the oracle simulates the same corruption set.
    Gate("source_jsonl_corrupt", (s, d) => {
      val src = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("user_id"),
          col("value"))
      val path = scratch("jsonl", d)
      src.select(when(pmod(col("event_id"), lit(97)) === 0,
          substring(to_json(struct(col("event_id"), col("event_type"),
            col("user_id"), col("value"))), 1, 10))
        .otherwise(to_json(struct(col("event_id"), col("event_type"),
          col("user_id"), col("value")))).as("value"))
        .write.mode("overwrite").text(path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record").json(path)
        .agg(
          sum(when(col("_corrupt_record").isNull, 1).otherwise(0))
            .cast("long").as("n_good"),
          sum(when(col("_corrupt_record").isNotNull, 1).otherwise(0))
            .cast("long").as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull, col("event_id")))
            .as("sum_good_ids"),
          sum(when(col("_corrupt_record").isNull,
            round(col("value") * 1000000, 0).cast("long")))
            .as("sum_good_value_micro"))
    },
      """WITH ev AS (
        |  SELECT event_id, value,
        |    CASE WHEN ((event_id % 97) + 97) % 97 = 0 THEN 1 ELSE 0 END
        |      AS corrupt
        |  FROM events)
        |SELECT
        |  CAST(SUM(1 - corrupt) AS BIGINT) AS n_good,
        |  CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN corrupt = 0 THEN event_id END) AS BIGINT)
        |    AS sum_good_ids,
        |  CAST(SUM(CASE WHEN corrupt = 0
        |    THEN CAST(ROUND(value * 1000000, 0) AS BIGINT) END) AS BIGINT)
        |    AS sum_good_value_micro
        |FROM ev""".stripMargin),

    // Cursor-paginated scroll parity (reference S6's scroll, paginated
    // the way a real client walks it): three pages of 10 via keyset
    // predicates ((ts, id) > cursor — each page an independent
    // pushed-down query, the O(1)-per-page form), and the union must
    // equal the one-shot ordered top-30 row-for-row. The oracle slices
    // by ROW_NUMBER; the engine side actually walks the cursors.
    Gate("mem_scroll_cursor_parity", (s, d) => {
      val m = memories(s, d).select(col("memory_id").cast("long").as("mid"),
          col("session_id"), col("tool"),
          date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("ts"))
        .localCheckpoint() // three cursor pages read it
      var cursor: Option[(String, Long)] = None
      var exhausted = false
      val pages = (1 to 3).flatMap { p =>
        if (exhausted) None
        else {
          val base = cursor match {
            case None => m
            case Some((cts, cid)) => m.where(col("ts") > cts
              || (col("ts") === cts && col("mid") > cid))
          }
          val page = base.orderBy(col("ts"), col("mid")).limit(10)
            .withColumn("page", lit(p))
          // short store (<30 rows): an empty page ends the walk instead
          // of throwing — the oracle's ROW_NUMBER slice is short too
          page.select(col("ts"), col("mid"))
            .orderBy(col("ts").desc, col("mid").desc).collect().headOption
            match {
              case Some(last) =>
                cursor = Some((last.getString(0), last.getLong(1)))
                Some(page)
              case None =>
                exhausted = true; None
            }
        }
      }
      pages.reduce(_ unionByName _)
        .withColumn("pos", row_number().over(Window.partitionBy(col("page"))
          .orderBy(col("ts"), col("mid"))))
        .select(col("page").cast("long").as("page"),
          col("pos").cast("long").as("pos"), col("mid"), col("session_id"),
          col("tool"), col("ts"))
        .orderBy(col("page"), col("pos"))
    },
      """WITH m AS (
        |  SELECT CAST(event_id AS BIGINT) AS mid,
        |    CAST(user_id AS VARCHAR) AS session_id, event_type AS tool,
        |    strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
        |  FROM events),
        |r AS (SELECT m.*, ROW_NUMBER() OVER (ORDER BY ts, mid) AS rn
        |  FROM m)
        |SELECT CAST((rn - 1) // 10 + 1 AS BIGINT) AS page,
        |  CAST((rn - 1) % 10 + 1 AS BIGINT) AS pos, mid, session_id, tool,
        |  ts
        |FROM r WHERE rn <= 30 ORDER BY page, pos""".stripMargin),

    // The `tools/list` catalog surface (reference schema.py:86-132 via
    // server.py:153-175): render every fixture-archetype tool as its
    // JSON-Schema document. The oracle is the HAND-WRITTEN expected
    // documents (derived from the reference semantics, not from this
    // code), so the gate hash-checks the emitted contract byte-for-byte.
    // Driver-side metadata — the parallelize is only to ride the gate
    // harness; ToolSchemaJsonSpec property-checks validator agreement.
    Gate("catalog_tool_schemas", (s, _) => {
      import s.implicits._
      graft.catalog.ToolSchemaJson
        .renderAll(graft.catalog.ArchetypeCatalog.fromYaml(FixtureArchetypeYaml))
        .toDF("tool_name", "tool_schema_json")
        .orderBy(col("tool_name"))
    },
      // expected documents hand-derived from schema.py:86-132 semantics
      // (NOT generated by the renderer): standard fields lead, params in
      // binding order (unknown/empty bindings dropped), frames last,
      // required = sorted set, additionalProperties false, compact JSON
      """SELECT * FROM (VALUES
        |  ('Observe', '{"name":"Observe","description":"Record an observation","inputSchema":{"type":"object","properties":{"Title":{"type":"string","description":"A clear, descriptive title","x-required":true},"Content":{"type":"string","description":"The main content","x-required":true},"Context":{"type":"string","description":"Relevant context that informed this response","x-required":true},"Mood":{"type":"string","description":"Overall mood","examples":["calm","tense"],"x-required":true},"Depth":{"type":"string","description":"How deep to go","default":"moderate","x-required":true},"tags":{"type":"array","x-required":true},"weight":{"type":"integer"},"note":{"type":"string"}},"required":["Content","Context","Depth","Mood","Title","tags"],"additionalProperties":false}}'),
        |  ('Recall', '{"name":"Recall","description":"Tool: Recall","inputSchema":{"type":"object","properties":{"Title":{"type":"string","description":"A clear, descriptive title","x-required":true},"Content":{"type":"string","description":"The main content","x-required":true},"Context":{"type":"string","description":"Relevant context that informed this response","x-required":true}},"required":["Content","Context","Title"],"additionalProperties":false}}')
        |) AS t(tool_name, tool_schema_json) ORDER BY tool_name""".stripMargin),
  )
}
