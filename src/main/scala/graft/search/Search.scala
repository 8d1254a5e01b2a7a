package graft.search

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's SearchMemory strategies re-expressed as one Catalyst plan
  * each (reference: fegis/search/strategies.py + handler.py).
  *
  * Shapes:
  *  - basic: score every row by cosine to a broadcast query vector, top-k —
  *    Spark plans `TakeOrderedAndProject` (no global sort, per-partition
  *    heaps + driver merge of k rows). Exact KNN is a full scan; the scale
  *    path is [[lshSearch]] which prunes to one hash bucket first.
  *  - filtered: same with the compiled filter algebra applied BEFORE
  *    scoring — Catalyst pushes it into the parquet scan, mirroring
  *    Qdrant's filtered HNSW (strategies.py:286-291).
  *  - by-id: pruned point lookup, constant score 1.0
  *    (strategies.py:297-320).
  *  - score_threshold is applied AFTER ranking/fusion, matching the
  *    reference's post-RRF placement (handler.py:52-59).
  */
object Search {

  val DefaultLimit = 3
  val DefaultScoreThreshold = 0.4

  /** Exact cosine top-k. `queryVec` is a literal array — broadcast to every
    * task inside the codegen'd expression; no shuffle besides the final
    * k-row collect.
    */
  def basic(
      points: DataFrame,
      vecCol: String,
      queryVec: Seq[Float],
      limit: Int = DefaultLimit,
      scoreThreshold: Double = DefaultScoreThreshold,
      filters: Seq[Filters.FilterSpec] = Nil,
      tieBreak: String = "memory_id"): DataFrame = {
    val q = typedLit(queryVec)
    points
      .where(Filters.compileAll(filters))
      .withColumn("score", VectorFunctions.cosine(col(vecCol), q, queryVec.length))
      .orderBy(col("score").desc, col(tieBreak))
      .limit(limit)
      .where(col("score") >= scoreThreshold) // post-rank placement (handler.py:52)
  }

  /** Text-query variant of [[basic]]: embed the query text with the SAME
    * embedder the ingest path uses (the reference embeds queries with the
    * same model as documents, strategies.py:267-272) — via the pluggable
    * [[graft.functions.TextEmbedder]] seam, evaluated ONCE driver-side
    * (one query string, not a distributed pass) and planted as a literal
    * vector, so the per-row work is just the cosine. The default
    * surrogate is bit-identical to the ingest Column form; a real model
    * drops in through `embedder` on both sides together.
    *
    * EMBEDDING-PARITY CAVEAT: rankings are only meaningful when the
    * corpus vectors and the query vector come from the SAME embedder
    * (model, weights, config). A real model (the reference's
    * BAAI/bge-small-en) will rank differently than the surrogate — that
    * is the documented semantic gap of the zero-egress default, not a
    * defect of this operator. What IS pinned (SearchSpec): rankings are
    * invariant to the seam's batch boundaries — a corpus embedded at
    * batchSize=1 and at batchSize=N scores and ranks identically, so
    * batching is pure physics, never semantics.
    */
  def basicByText(
      points: DataFrame,
      vecCol: String,
      queryText: String,
      dims: Int,
      limit: Int = DefaultLimit,
      scoreThreshold: Double = DefaultScoreThreshold,
      filters: Seq[Filters.FilterSpec] = Nil,
      tieBreak: String = "memory_id",
      embedder: graft.functions.TextEmbedder = graft.functions.SurrogateTextEmbedder): DataFrame = {
    val qv = typedLit(embedder.embedBatch(Seq(queryText), dims).head.toSeq)
    points
      .where(Filters.compileAll(filters))
      .withColumn("score", round(VectorFunctions.cosine(col(vecCol), qv, dims), 6))
      .orderBy(col("score").desc, col(tieBreak))
      .limit(limit)
      .where(col("score") >= scoreThreshold) // post-rank placement (handler.py:52)
  }

  /** Point lookup by ids (reference: strategies.py:297-320). At scale this
    * is a bloom/min-max pruned scan, not a full pass.
    */
  def byId(points: DataFrame, idCol: String, ids: Seq[String]): DataFrame =
    points.where(col(idCol).isin(ids: _*)).withColumn("score", lit(1.0))

  /** The full SearchMemory request envelope (reference: handler.py:33-62 +
    * search_tool_schema.json): validate the request against the packaged
    * schema (see [[RequestSchema]]), dispatch to the strategy named by
    * `search_type`, apply the post-rank score threshold, and project the
    * `detail` view. This is the one entry point a reference user would
    * call; the strategy methods stay public for engine composition.
    *
    *  - basic / filtered: semantic scoring over (optionally) filtered
    *    points — the reference sends filters on BOTH paths
    *    (strategies.py:260-290), the two types differ only in intent.
    *  - by_memory_id: `query` IS the id; pruned lookup at score 1.0.
    */
  def searchMemory(
      points: DataFrame,
      vecCol: String,
      dims: Int,
      req: SearchRequest,
      idCol: String = "memory_id",
      tieBreak: String = "memory_id",
      now: Column = current_timestamp(),
      attach: DataFrame => DataFrame = identity): DataFrame = {
    req.validate
    val hits = req.searchType match {
      case "by_memory_id" =>
        byId(points, idCol, Seq(req.query.trim))
      case _ => // basic | filtered — same plan shape (strategies.py:260-290)
        basicByText(points, vecCol, req.query, dims,
          limit = req.limit, scoreThreshold = req.scoreThreshold,
          filters = req.filters, tieBreak = tieBreak)
    }
    // `attach` enriches the PRUNED hit set before the view projection —
    // the hook scoped sessionization rides in on (a view needing
    // sequence_order over an unsessionized store attaches it for ≤k rows
    // instead of windowing the whole store; MemoryModel.attachSequence).
    project(attach(hits), req.detail, now)
  }

  /** Reciprocal-rank fusion of a dense ranking and a keyword ranking
    * (the reference inherits RRF opaquely from fastembed's hybrid path,
    * handler.py:52; here it is explicit: score = Σ 1/(k + rankᵢ), k=60).
    *
    * Two window ranks over the same scan — Spark evaluates both in one
    * Window exchange when the partitioning matches. The ranking is GLOBAL
    * (a single-partition sort), so the exact form is only valid over a
    * bounded candidate pool: `maxCandidates` is enforced with a
    * limit-gated count (the gate job scans at most maxCandidates+1 rows),
    * and anything larger must go through [[rrfFuseTopMScores]] — the
    * fusion shape that survives unbounded inputs.
    */
  def rrfFuse(
      scored: DataFrame,
      denseScore: Column,
      keywordScore: Column,
      tieBreak: Column,
      k: Int = 60,
      maxCandidates: Int = 1 << 20): DataFrame = {
    // Bound gate: count the tie-break projection only — Catalyst prunes the
    // scoring columns (embed + cosine + keyword) out of this job entirely,
    // so the guard costs one id-column scan, not a second scoring pass.
    val n = scored.select(tieBreak).limit(maxCandidates + 1).count()
    require(n <= maxCandidates,
      s"rrfFuse ranks globally in a single partition and got more than " +
        s"$maxCandidates candidate rows — pre-prune the pool or use rrfFuseTopMScores")
    val wDense = Window.orderBy(denseScore.desc, tieBreak)
    val wKw = Window.orderBy(keywordScore.desc, tieBreak)
    scored
      .withColumn("dense_rank_", row_number().over(wDense))
      .withColumn("kw_rank_", row_number().over(wKw))
      .withColumn("score",
        lit(1.0) / (lit(k) + col("dense_rank_")) + lit(1.0) / (lit(k) + col("kw_rank_")))
      .drop("dense_rank_", "kw_rank_")
  }

  /** Candidate-pruned RRF — the scale path for hybrid fusion. Each ranking
    * contributes only its top-`m` list: score = Σ_{lists containing the row}
    * 1/(k + rank-in-list), 0 beyond the list — exactly how RRF is defined
    * over bounded retrieval lists (and how the reference behaves: fastembed
    * fuses the dense and sparse top-M lists, not the whole collection).
    * For a row present in a list, its list rank equals its global rank —
    * every row that outranks it is in the list too — so the pruning never
    * distorts the ranks it does report.
    *
    * Returns (tb, score) for the union of both lists ONLY. The expensive
    * scoring pipeline (embed + cosine at scale) materializes exactly once
    * — the persisted (tb, dense, kw) projection feeds both top-M collects,
    * each a `TakeOrderedAndProject` (per-partition heaps, no global sort)
    * — and everything after runs on ≤ 2m driver rows. A row outside both
    * lists scores 0 and can never outrank a list member, so any top-k
    * consumer with k ≤ m reattaches payload columns via a broadcast
    * id-join against the returned table instead of paying a second
    * scoring pass; the reattach scan is column-pruned to the id + payload
    * (the embedding pipeline never runs again).
    *
    * `tieBreak` must be a numeric (long-castable) UNIQUE id — a duplicated
    * id would collapse to one rank per list.
    */
  def rrfFuseTopMScores(
      scored: DataFrame,
      denseScore: Column,
      keywordScore: Column,
      tieBreak: Column,
      m: Int,
      k: Int = 60): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val proj = scored
      .select(tieBreak.cast("long").as("tb"),
        denseScore.cast("double").as("ds"),
        keywordScore.cast("double").as("ks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def rankList(score: String): Map[Long, Int] = {
      proj.orderBy(col(score).desc, col("tb")).limit(m).collect()
        .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }.toMap
    }
    val dr = rankList("ds")
    val kr = rankList("ks")
    proj.unpersist(blocking = false)
    (dr.keySet ++ kr.keySet).toSeq.sorted
      .map { tb =>
        (tb, dr.get(tb).map(r => 1.0 / (k + r)).getOrElse(0.0) +
          kr.get(tb).map(r => 1.0 / (k + r)).getOrElse(0.0))
      }
      .toDF("tb", "score")
  }

  /** The query's RHP bucket, computed driver-side from the same
    * hyperplanes the store side hashes with — the probe key for
    * [[lshSearch]] and for partition-pruned reads of a store written
    * `partitionBy("bucket")`.
    */
  def queryBucket(queryVec: Seq[Float], planes: Int, seed: Int): Long = {
    val signs = VectorFunctions.hyperplaneSigns(planes, queryVec.length, seed)
    signs.zipWithIndex.map { case (s, p) =>
      val proj = s.zip(queryVec).map { case (a, b) => a * b.toDouble }.sum
      if (proj >= 0) 1L << p else 0L
    }.sum
  }

  /** ANN via random-hyperplane LSH: prune to the query's bucket, then exact
    * cosine within it. At 100 TB the store is written partitioned by
    * `bucket` so this reads ~1/2^planes of the data (partition pruning —
    * the `search_lsh_pruned` gate drives that literal layout), instead of
    * the full scan [[basic]] does.
    */
  def lshSearch(
      points: DataFrame,
      vecCol: String,
      queryVec: Seq[Float],
      planes: Int,
      seed: Int,
      limit: Int = DefaultLimit,
      tieBreak: String = "memory_id"): DataFrame = {
    val dims = queryVec.length
    val withBucket = points.withColumn(
      "bucket", VectorFunctions.rhpBucket(col(vecCol), planes, seed, dims))
    withBucket
      .where(col("bucket") === queryBucket(queryVec, planes, seed))
      .withColumn("score",
        round(VectorFunctions.cosine(col(vecCol), typedLit(queryVec), dims), 6))
      .orderBy(col("score").desc, col(tieBreak))
      .limit(limit)
  }

  /** View projections (reference P3): the EXACT field sets and order of
    * the reference's RESULT_VIEWS (formatters.py:28-74), including the
    * derived fields its field processors compute (formatters.py:95-110):
    * `content_preview` (extract_summary over content) and `relative_time`
    * (bucketed age vs now). Pure `select` + scalar expressions, so column
    * pruning reaches the scan.
    */
  val views: Map[String, Seq[String]] = Map(
    "compact" -> Seq("memory_id", "title", "tool", "context", "session_id",
      "score"),
    "summary" -> Seq("memory_id", "title", "context", "tool", "score",
      "content_preview", "relative_time", "session_id"),
    "graph" -> Seq("memory_id", "title", "preceding_memory_id", "session_id",
      "sequence_order", "tool", "relative_time", "timestamp", "score",
      "meta.agent_id", "meta.archetype_title"),
    "full" -> Seq("memory_id", "score", "title", "content", "context", "tool",
      "session_id", "sequence_order", "timestamp", "preceding_memory_id",
      "parameters", "frames", "meta"))

  /** Serialization choices mirror the MCP response surface: timestamps are
    * ISO-8601 strings (the reference isoformat()s datetimes,
    * formatters.py:108-110 — fixed 6-digit micros here), `meta` in the
    * `full` view is the JSON-serialized payload dict, and a field the row
    * does not carry projects as NULL (the reference's dict.get(None)).
    * `now` anchors relative_time — parameterized so results are
    * deterministic and oracle-checkable; real callers use the default.
    */
  /** Canonical output type per view field — an absent field projects as a
    * NULL of this type, so the same view always has the same schema
    * whatever subset of the model the input carries. */
  private val fieldTypes: Map[String, String] =
    Map("score" -> "double", "sequence_order" -> "int").withDefaultValue("string")

  def project(df: DataFrame, view: String,
      now: Column = current_timestamp()): DataFrame = {
    val fields = views.getOrElse(view,
      throw new IllegalArgumentException(s"unknown view '$view'"))
    val present = df.columns.toSet
    // stage the preview derivation as real columns — the single-Column
    // form re-evaluates its interpreted HOFs per reference (no CSE)
    val staged =
      if (fields.contains("content_preview") && present("content"))
        graft.functions.TextFunctions.withContentPreview(df, "content", "preview_")
      else df
    def ifPresent(f: String, needed: String)(c: => Column): Column =
      if (present(needed)) c else lit(null).cast(fieldTypes(f))
    val cols = fields.map { f =>
      (f match {
        case "content_preview" => ifPresent(f, "content")(col("preview_"))
        case "relative_time" =>
          ifPresent(f, "timestamp")(
            graft.functions.TextFunctions.relativeTime(col("timestamp"), now))
        case "timestamp" =>
          ifPresent(f, "timestamp")(
            date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
        case "meta" => ifPresent(f, "meta")(to_json(col("meta")))
        case nested if nested.contains(".") =>
          ifPresent(f, nested.takeWhile(_ != '.'))(col(nested))
        case plain => ifPresent(f, plain)(col(plain))
      }).as(f)
    }
    staged.select(cols: _*)
  }
}
