package graft

import graft.functions.{HashFunctions, VectorFunctions}
import graft.operators.{Components, Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact, near and semantic deduplication (`dedup_*`). */
private[graft] object DedupGates {
  import GateHelpers._

  /** Shared by `dedup_decontaminate` and its bloom-prefiltered twin —
    * the bloom stage only prunes stage-2 input, never changes output. */
  private lazy val decontaminateSql: String = {
    val grams5 =
      """CASE WHEN len(toks) < 5 THEN []
        |  ELSE list_transform(generate_series(1, len(toks)-4),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]) END""".stripMargin
    s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct($grams5)) AS gram FROM tok),
       |bg AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0)
       |SELECT g.doc_id, bg.bench_id, COUNT(*) AS n_overlap
       |FROM g JOIN bg ON g.gram = bg.gram
       |GROUP BY 1, 2 HAVING COUNT(*) >= 3
       |ORDER BY g.doc_id, bg.bench_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(

    // ---- Dedup / text-analysis extensions ----

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // cluster the embedding space, then pairwise-compare ONLY within each
    // cluster — the quadratic stage is bounded by the largest cell, never
    // the corpus. Cells here are the supervised label centroids (the same
    // ivfAssign reuse as search_centroid_assign; unsupervised kmeans cells
    // drop in unchanged); components over the τ-threshold pair graph,
    // keeper = smallest id per component (= the component label itself).
    // `_fixed` REGRESSION TWIN, audit-only: the FIXED label-centroid cell
    // count makes occupancy — and the within-cell quadratic — grow
    // linearly with the corpus (SCALE_NOTES r10); reach for the
    // unsuffixed `dedup_semantic`, whose cells size from COUNT(*).
    Gate("dedup_semantic_fixed", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
      val l = assigned.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va_"))
      val r = assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb_"))
      val pairs = l.join(r, "cell").where(col("a") < col("b"))
        .where(round(VectorFunctions.cosine(
          col("va_"), col("vb_"), 64), 6) >= 0.3)
        .select(col("a"), col("b"))
      val comp = Components.connectedComponents(
        e.select(col("vec_id").as("id")), pairs)
      val sz = comp.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      comp.join(sz, "component")
        .select(col("id").as("vec_id"), col("component").as("canonical_id"),
          col("cluster_size"), (col("id") === col("component")).as("is_keeper"))
        .orderBy(col("vec_id"))
    },
      // SemDeDup oracle: the label-centroid cell CTE (as the assign gates),
      // within-cell τ-threshold pairs, the dedup_components recursive
      // closure, min-id canonical per component
      """WITH RECURSIVE x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings),
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
        |pairs AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id
        |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.3),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
        |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
        |comp AS (
        |  SELECT e.vec_id,
        |    least(e.vec_id, coalesce(m.mn, e.vec_id)) AS canonical_id
        |  FROM e LEFT JOIN mins m ON e.vec_id = m.src),
        |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT c.vec_id, c.canonical_id, s.cluster_size,
        |  (c.vec_id = c.canonical_id) AS is_keeper
        |FROM comp c JOIN sz s USING (canonical_id)
        |ORDER BY c.vec_id""".stripMargin),

    // THE default semantic-dedup gate (r11 VERDICT ask #1: the sized
    // form owns the unsuffixed name; the fixed-cell form above is the
    // `_fixed` regression twin): cells are planesFor-sized RHP buckets
    // instead of FIXED label centroids — cell count grows log2(n/target)
    // with the corpus, so occupancy (and with it the within-cell
    // quadratic pair stage) stays ~constant at any scale. This is the
    // r10 SCALE_NOTES cure (probe_semantic_sized, linear across two
    // decades). The oracle derives the SAME plane count from COUNT(*)
    // with the same integer rule, so both engines size from the corpus
    // rather than from an interpolated constant.
    Gate("dedup_semantic", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val pairs = Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
        minCosine = 0.3, planes = planes, seed = 7, dims = 64)
        .select(col("a"), col("b"))
      val comp = Components.connectedComponents(
        e.select(col("vec_id").as("id")), pairs)
      val sz = comp.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
      comp.join(sz, "component")
        .select(col("id").as("vec_id"), col("component").as("canonical_id"),
          col("cluster_size"), (col("id") === col("component")).as("is_keeper"))
        .orderBy(col("vec_id"))
    },
    // plane count derived IN SQL from COUNT(*) with planesFor's exact
    // rule in INTEGER arithmetic (smallest p with 128·2^p >= n via a
    // bit-shift probe — no LN/CEIL 1-ulp boundary flips; clamp [4, 62]); the
    // bucket expression emits 16 planes' sign rows (hyperplaneSigns is
    // prefix-stable in the plane count) masked down to the computed
    // planes — valid to n ≈ 128·2^16 vectors, far past any oracle sf;
    // the engine itself is unbounded
    {
      val signs = sqlSigns(planes = 16, dims = 64, seed = 7)
      val bucket = signs.zipWithIndex.map { case (sg, p) =>
        s"(CASE WHEN $p < pl.planes AND list_dot_product(v, $sg) >= 0" +
          s" THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH RECURSIVE nc AS (SELECT COUNT(*) AS n FROM embeddings),
         |pl AS (SELECT LEAST(GREATEST(CAST(pmin AS INT), 4), 62) AS planes
         |  FROM (SELECT MIN(p) AS pmin FROM generate_series(0, 62) AS t(p), nc
         |    WHERE (CAST(1 AS BIGINT) << p) >= (n + 127) // 128)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bucket FROM e, pl),
         |pairs AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.3),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (
         |  SELECT e.vec_id,
         |    least(e.vec_id, coalesce(m.mn, e.vec_id)) AS canonical_id
         |  FROM e LEFT JOIN mins m ON e.vec_id = m.src),
         |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size
         |  FROM comp GROUP BY 1)
         |SELECT c.vec_id, c.canonical_id, s.cluster_size,
         |  (c.vec_id = c.canonical_id) AS is_keeper
         |FROM comp c JOIN sz s USING (canonical_id)
         |ORDER BY c.vec_id""".stripMargin
    }),

    // Daily-ingest shape for the semantic family (dedup_incremental's
    // twin): centroids are trained on the STORED corpus only — the model
    // artifact a production store already has — and the new batch is
    // assigned into those cells and compared cross-side only. New-vs-new
    // and corpus-vs-corpus pairs never form; batch cost is |batch| ×
    // (cell occupancy), independent of corpus history.
    Gate("dedup_semantic_incremental", (s, d) => {
      val e = embs(s, d)
      val corpus = e.where(col("vec_id") % 2 === 0)
      val batch = e.where(col("vec_id") % 2 === 1)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(corpus, "embedding", "label"))
      val ac = Similarity.ivfAssign(corpus, "embedding", "vec_id", cents)
        .select(col("cell"), col("vec_id").as("corpus_id"),
          col("embedding").as("vc_"))
      val ab = Similarity.ivfAssign(batch, "embedding", "vec_id", cents)
        .select(col("cell"), col("vec_id").as("new_id"),
          col("embedding").as("vn_"))
      ab.join(ac, "cell")
        .withColumn("sim",
          round(VectorFunctions.cosine(col("vn_"), col("vc_"), 64), 6))
        .where(col("sim") >= 0.3)
        .select(col("new_id"), col("corpus_id"), col("sim"))
        .orderBy(col("new_id"), col("corpus_id"))
    },
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings WHERE vec_id % 2 = 0),
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
        |    FROM e CROSS JOIN cent c) WHERE rn = 1)
        |SELECT n.vec_id AS new_id, c.vec_id AS corpus_id,
        |  ROUND(list_cosine_similarity(n.v, c.v), 6) AS sim
        |FROM a n JOIN a c ON n.cell = c.cell
        |WHERE n.vec_id % 2 = 1 AND c.vec_id % 2 = 0
        |  AND ROUND(list_cosine_similarity(n.v, c.v), 6) >= 0.3
        |ORDER BY new_id, corpus_id""".stripMargin),

    // The honest cost of SemDeDup's cell bounding: pairs crossing a cell
    // boundary are never compared. This audit counts the τ-threshold pair
    // graph both ways — exact vs cell-bounded — and reports the edge
    // recall (the X137-X139 discipline: measure the tier before trusting
    // it). PANEL-BOUNDED (r11 VERDICT ask #2): both sides are restricted
    // to the 500 smallest-id vectors — the er_blocking_truth_audit
    // discipline, and the same deterministic sample tauForNeighbors
    // already draws — so the exact-truth cross-join is panel² (125k
    // pairs) BY CONSTRUCTION at any corpus size, never corpus². Cell
    // recall is pair-exchangeable, so a fixed panel estimates it; at
    // sf0.01 (≤500 vectors) the panel IS the corpus and the audit is
    // exact. Centroids still train on the full corpus (model-sized).
    Gate("dedup_semantic_recall", (s, d) => {
      val e = embs(s, d)
      val tau = 0.3
      val panel = e.orderBy(col("vec_id")).limit(500)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val exact = panel.select(col("vec_id").as("a"), col("embedding").as("va_"))
        .crossJoin(broadcast(
          panel.select(col("vec_id").as("b"), col("embedding").as("vb_"))))
        .where(col("a") < col("b"))
        .where(round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6) >= tau)
        .select(col("a"), col("b"))
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val assigned = Similarity.ivfAssign(panel, "embedding", "vec_id", cents)
      val l = assigned.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va_"))
      val r = assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb_"))
      val cellPairs = l.join(r, "cell").where(col("a") < col("b"))
        .where(round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6) >= tau)
        .select(col("a"), col("b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cellPairs.agg(count(lit(1)).as("n_cell")))
        .withColumn("recall",
          round(col("n_cell").cast("double") / col("n_exact"), 6))
    },
      // panel-bounded edge-recall: exact τ-graph vs the cell-bounded graph
      // over the 500 smallest-id vectors (at sf0.01 the panel is the whole
      // corpus, so the audit is exact there)
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings),
        |cent0 AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY label, pos),
        |cent AS (
        |  SELECT CAST(label AS INTEGER) AS cell, list(c ORDER BY pos) AS cv
        |  FROM cent0 GROUP BY label),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |samp AS MATERIALIZED (SELECT vec_id, v FROM e
        |  ORDER BY vec_id LIMIT 500),
        |exact AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM samp l JOIN samp r ON l.vec_id < r.vec_id
        |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.3),
        |a AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM samp e CROSS JOIN cent c) WHERE rn = 1),
        |cellp AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id
        |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.3)
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM cellp) AS n_cell,
        |  ROUND(CAST((SELECT COUNT(*) FROM cellp) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // The mitigation knob for that miss rate: multi-probe assignment.
    // Each vector lands in its top-2 cells, pairs meet if they share ANY
    // cell (distinct de-dupes the doubly-found). Pair-stage cost rises
    // ~4× per extra probe; the recall row quantifies what that buys —
    // the same recall-vs-cost curve discipline as search_pq_rerank_recall.
    Gate("dedup_semantic_recall_multi", (s, d) => {
      val e = embs(s, d)
      val tau = 0.3
      // same ≤500-smallest-id panel bound as dedup_semantic_recall: the
      // exact-truth side is panel², never corpus²
      val panel = e.orderBy(col("vec_id")).limit(500)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val exact = panel.select(col("vec_id").as("a"), col("embedding").as("va_"))
        .crossJoin(broadcast(
          panel.select(col("vec_id").as("b"), col("embedding").as("vb_"))))
        .where(col("a") < col("b"))
        .where(round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6) >= tau)
        .select(col("a"), col("b"))
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val cdf = {
        import s.implicits._
        broadcast(cents.toDF("cell", "cvec"))
      }
      val byVec = Window.partitionBy(col("vec_id"))
        .orderBy(round(VectorFunctions.cosine(col("embedding"), col("cvec"), 64), 6).desc,
          col("cell").desc)
      val assigned = panel.select(col("vec_id"), col("embedding"))
        .crossJoin(cdf)
        .withColumn("rn_", row_number().over(byVec))
        .where(col("rn_") <= 2)
        .select(col("cell"), col("vec_id"), col("embedding"))
      val l = assigned.select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va_"))
      val r = assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb_"))
      val cellPairs = l.join(r, "cell").where(col("a") < col("b"))
        .select(col("a"), col("b"), col("va_"), col("vb_")).distinct()
        .where(round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6) >= tau)
        .select(col("a"), col("b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cellPairs.agg(count(lit(1)).as("n_cell")))
        .withColumn("recall",
          round(col("n_cell").cast("double") / col("n_exact"), 6))
    },
      // top-2 cells per vector (rounded-sim rank as the engine), shared-cell
      // pairs de-duped before the τ filter; same 500-smallest-id panel bound
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings),
        |cent0 AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY label, pos),
        |cent AS (
        |  SELECT CAST(label AS INTEGER) AS cell, list(c ORDER BY pos) AS cv
        |  FROM cent0 GROUP BY label),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |samp AS MATERIALIZED (SELECT vec_id, v FROM e
        |  ORDER BY vec_id LIMIT 500),
        |exact AS (
        |  SELECT l.vec_id AS a, r.vec_id AS b
        |  FROM samp l JOIN samp r ON l.vec_id < r.vec_id
        |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.3),
        |a AS (
        |  SELECT vec_id, cell, v FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6) DESC,
        |          c.cell DESC) AS rn
        |    FROM samp e CROSS JOIN cent c) WHERE rn <= 2),
        |cellp AS (
        |  SELECT a, b FROM (
        |    SELECT DISTINCT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb
        |    FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id < r.vec_id)
        |  WHERE ROUND(list_cosine_similarity(va, vb), 6) >= 0.3)
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM cellp) AS n_cell,
        |  ROUND(CAST((SELECT COUNT(*) FROM cellp) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    Gate("dedup_exact", (s, d) => {
      Dedup.exactClusters(docs(s, d), "text", "doc_id")
        .orderBy(col("fingerprint"))
    },
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS cluster_size
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Per-source duplication report: the corpus-health artifact that says
    // WHERE the duplication lives (a crawl source gone rogue) — one
    // combiner-heavy agg over normalized fingerprints per source.
    Gate("dedup_rate_by_source", (s, d) => {
      docs(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(HashFunctions.fingerprint(col("text")))
            .as("n_distinct"))
        .withColumn("dup_rate", round(
          (col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"), 6))
        .orderBy(col("source"))
    },
      // identical normalized-fingerprint distinct per source
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_distinct,
        |  ROUND(CAST(COUNT(*) - COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    Gate("dedup_minhash_sig", (s, d) => {
      Dedup.minhashSignature(docs(s, d), "text", "doc_id",
        numHashes = 4, shingleK = 3)
        .orderBy(col("doc_id"))
    },
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok)
         |SELECT doc_id,
         |  $mh
         |FROM sh ORDER BY doc_id""".stripMargin
    }),

    // LSH S-curve calibration: P(candidate) = 1-(1-j^r)^b for every
    // banding of a 16-hash budget — the table read to pick (b, r) for a
    // dedup threshold BEFORE a corpus pass. Pure math; powers unrolled so
    // both engines run the identical IEEE product chain.
    Gate("dedup_lsh_calibration", (s, d) => {
      Dedup.lshCalibration(s, numHashes = 16,
        jaccardGrid = (1 to 9).map(_ / 10.0))
        .orderBy(col("jaccard"), col("bands"))
    },
    // same unrolled left-associated product chains, same 16-hash layouts
    {
      val layouts = (1 to 16).filter(16 % _ == 0).map(r => (16 / r, r))
      val rows = for {
        j <- (1 to 9).map(n => s"0.$n")
        (b, r) <- layouts
      } yield {
        val jr = Seq.fill(r)("j").mkString(" * ")
        val miss = Seq.fill(b)(s"(1.0 - ($jr))").mkString(" * ")
        s"""SELECT j AS jaccard, CAST($b AS BIGINT) AS bands,
           |  CAST($r AS BIGINT) AS rows_per_band,
           |  ROUND(1.0 - ($miss), 6) AS p_candidate
           |FROM (SELECT CAST('$j' AS DOUBLE) AS j)""".stripMargin
      }
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY jaccard, bands")
    }),

    Gate("dedup_minhash_pairs", (s, d) => {
      val sig = Dedup.minhashSignature(docs(s, d), "text", "doc_id",
        numHashes = 4, shingleK = 3)
      Dedup.minhashCandidatePairs(sig, "doc_id", numHashes = 4, rowsPerBand = 2)
        .orderBy(col("a"), col("b"))
    },
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |sig AS (SELECT doc_id, $mh FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS band,
         |    md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS bucket
         |  FROM sig WHERE mh0 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, 1,
         |    md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR))
         |  FROM sig WHERE mh0 IS NOT NULL)
         |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |WHERE l.doc_id < r.doc_id ORDER BY a, b""".stripMargin
    }),

    // Minhash-estimator audit: signature-agreement Jaccard vs EXACT
    // shingle Jaccard per candidate pair — with 4 hashes the estimate is
    // a coarse {0,¼,½,¾,1} grid, which is exactly what this exposes; the
    // X137 discipline pointed at the minhash tier itself.
    Gate("dedup_minhash_estimator", (s, d) => {
      Dedup.minhashEstimatorAudit(docs(s, d), "text", "doc_id",
        numHashes = 4, shingleK = 3, rowsPerBand = 2)
        .orderBy(col("a"), col("b"))
    },
    // bands CTE for candidates; agreement from the sig relation, exact
    // Jaccard from the shingle-hash inverted join, identical ROUND trees
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      val agree = (0 until 4).map(i =>
        s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |shs AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |sig AS (SELECT doc_id, $mh FROM shs),
         |bands AS (
         |  SELECT doc_id, 0 AS band,
         |    md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS bucket
         |  FROM sig WHERE mh0 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, 1,
         |    md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR))
         |  FROM sig WHERE mh0 IS NOT NULL),
         |cp AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |ex AS (SELECT doc_id AS id, ${sqlHash64("s")} AS shk
         |  FROM (SELECT doc_id, unnest(shingles) AS s FROM shs)),
         |cnts AS (SELECT doc_id AS id, len(shingles) AS n_sh FROM shs),
         |itr AS (SELECT l.id AS a, r.id AS b, COUNT(*) AS inter
         |  FROM ex l JOIN ex r ON l.shk = r.shk AND l.id < r.id GROUP BY 1, 2),
         |j AS (SELECT cp.a, cp.b, $agree AS n_agree,
         |    ca.n_sh AS na, cb.n_sh AS nb, COALESCE(itr.inter, 0) AS inter
         |  FROM cp JOIN sig sa ON cp.a = sa.doc_id
         |  JOIN sig sb ON cp.b = sb.doc_id
         |  JOIN cnts ca ON cp.a = ca.id JOIN cnts cb ON cp.b = cb.id
         |  LEFT JOIN itr ON cp.a = itr.a AND cp.b = itr.b)
         |SELECT a, b, n_agree,
         |  ROUND(CAST(n_agree AS DOUBLE) / 4, 6) AS est_j,
         |  ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6)
         |    AS true_j,
         |  ROUND(ABS(CAST(n_agree AS DOUBLE) / 4 -
         |    CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)), 6)
         |    AS abs_err
         |FROM j ORDER BY a, b""".stripMargin
    }),

    // Daily-ingest shape: new batch (odd ids) deduped AGAINST the stored
    // corpus (even ids) — corpus signatures computed once, cross-side
    // candidates only.
    Gate("dedup_incremental", (s, d) => {
      val sig = Dedup.minhashSignature(docs(s, d), "text", "doc_id",
        numHashes = 4, shingleK = 3)
      Dedup.minhashCandidatesAgainst(
        sig.where(col("doc_id") % 2 === 1),
        sig.where(col("doc_id") % 2 === 0),
        "doc_id", numHashes = 4, rowsPerBand = 2)
        .orderBy(col("new_id"), col("corpus_id"))
    },
    // incremental: odd ids are the new batch, even ids the stored corpus;
    // only cross-side band collisions are candidates
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |sig AS (SELECT doc_id, $mh FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS band,
         |    md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS bucket
         |  FROM sig WHERE mh0 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, 1,
         |    md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR))
         |  FROM sig WHERE mh0 IS NOT NULL)
         |SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS corpus_id
         |FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |WHERE l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |ORDER BY new_id, corpus_id""".stripMargin
    }),

    Gate("dedup_simhash", (s, d) => {
      Dedup.simhash(docs(s, d), "text", "doc_id", bits = 16)
        .orderBy(col("doc_id"))
    },
    {
      val terms = (0 until 16).map(j =>
        s"""(CASE WHEN COALESCE(list_sum(list_transform(hashed,
           |    v -> CASE WHEN (v >> $j) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
           |  THEN ${1L << j} ELSE 0 END)""".stripMargin)
        .mkString(" +\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |h AS (SELECT doc_id,
         |  list_transform(toks, t -> ${sqlHash64("t")}) AS hashed FROM tok)
         |SELECT doc_id, CAST($terms AS BIGINT) AS simhash
         |FROM h ORDER BY doc_id""".stripMargin
    }),

    // maxDf = 5 is the stop-shingle cap that kills the O(f²) hot-shingle
    // blowup — exercised for real here (the sf0.01 corpus has shingles
    // with df up to 7; sf0.1 up to 25).
    // Exact Hamming-radius-1 simhash pairs: the flip-expansion form with
    // a NO-miss guarantee at radius 1, vs banding's probabilistic recall.
    Gate("dedup_simhash_radius", (s, d) => {
      Dedup.simhashRadiusPairs(docs(s, d), "text", "doc_id", bits = 16)
        .orderBy(col("a"), col("b"))
    },
    // same vote-built codes, same self+flip variant expansion, same
    // original-code equi-join
    {
      val terms = (0 until 16).map(j =>
        s"""(CASE WHEN COALESCE(list_sum(list_transform(hashed,
           |    v -> CASE WHEN (v >> $j) % 2 = 1 THEN 1 ELSE -1 END)), 0) > 0
           |  THEN ${1L << j} ELSE 0 END)""".stripMargin)
        .mkString(" +\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |h AS (SELECT doc_id,
         |  list_transform(toks, t -> ${sqlHash64("t")}) AS hashed FROM tok),
         |codes AS (SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM h),
         |var AS (SELECT doc_id AS a, simhash AS ca,
         |  unnest(list_prepend(simhash, list_transform(range(0, 16),
         |    j -> xor(simhash, 1::BIGINT << CAST(j AS INT))))) AS v
         |  FROM codes)
         |SELECT DISTINCT l.a, r.doc_id AS b,
         |  CAST(bit_count(xor(l.ca, r.simhash)) AS INT) AS hamming
         |FROM var l JOIN codes r ON l.v = r.simhash AND l.a < r.doc_id
         |ORDER BY a, b""".stripMargin
    }),

    Gate("dedup_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
        shingleK = 3, minJaccard = 0.5, maxDf = 5)
        .orderBy(col("a"), col("b"))
    },
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
         |  FROM capped)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |  ROUND(CAST(COUNT(*) AS DOUBLE) /
         |    (any_value(l.n_sh) + any_value(r.n_sh) - COUNT(*)), 6) AS jaccard
         |FROM ex l JOIN ex r ON l.shk = r.shk AND l.doc_id < r.doc_id
         |GROUP BY 1, 2 HAVING jaccard >= 0.5 ORDER BY 1, 2""".stripMargin),

    // Asymmetric containment: the doc-inside-doc detector Jaccard
    // misses (a quote inside an article has J≈0 but containment 1);
    // the SMALL side is the redundant one. Both directions from ONE
    // intersection count.
    Gate("dedup_containment", (s, d) => {
      Dedup.containmentPairs(docs(s, d), "text", "doc_id",
        shingleK = 3, minContainment = 0.8)
        .orderBy(col("inner_id"), col("outer_id"))
    },
      // same shingle-hash join, both directions from one intersection
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |ex0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ex AS (SELECT doc_id, ${sqlHash64("shingle")} AS shk,
         |  COUNT(*) OVER (PARTITION BY doc_id) AS n_sh FROM ex0),
         |j AS (SELECT l.doc_id AS a, r.doc_id AS b,
         |    any_value(l.n_sh) AS na, any_value(r.n_sh) AS nb,
         |    COUNT(*) AS inter
         |  FROM ex l JOIN ex r ON l.shk = r.shk AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2),
         |u AS (SELECT a AS inner_id, b AS outer_id,
         |    ROUND(CAST(inter AS DOUBLE) / CAST(na AS DOUBLE), 6)
         |      AS containment FROM j
         |  UNION ALL SELECT b, a,
         |    ROUND(CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE), 6) FROM j)
         |SELECT inner_id, outer_id, containment FROM u
         |WHERE containment >= 0.8 ORDER BY inner_id, outer_id""".stripMargin),

    // Edit-distance verification on LSH candidates (never a global cross
    // join): two prunable equi-joins + one codegen'd levenshtein per pair.
    // The candidates repartition to full parallelism first (AQE coalesces
    // the small band shuffle to one partition, which would serialize the
    // O(len²) verify CPU), and the verified result — candidate-sized by
    // construction — materializes once so the deterministic range sort's
    // sampling pass doesn't re-run the whole minhash DAG.
    Gate("dedup_levenshtein", (s, d) => {
      val dd = docs(s, d)
      val sig = Dedup.minhashSignature(dd, "text", "doc_id", numHashes = 4)
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id", 4, 2)
        .repartition(s.sparkContext.defaultParallelism)
      Dedup.levenshteinVerify(pairs, dd, "doc_id", "text")
        .localCheckpoint()
        .orderBy(col("a"), col("b"))
    },
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |sig AS (SELECT doc_id, $mh FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS band,
         |    md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS bucket
         |  FROM sig WHERE mh0 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, 1,
         |    md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR))
         |  FROM sig WHERE mh0 IS NOT NULL),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id)
         |SELECT p.a, p.b, CAST(levenshtein(da.text, db.text) AS INTEGER) AS lev
         |FROM pairs p
         |JOIN documents da ON p.a = da.doc_id
         |JOIN documents db ON p.b = db.doc_id
         |ORDER BY a, b""".stripMargin
    }),

    // End-to-end near-dup pipeline to a DEDUP MAP: signatures → banded
    // candidates → connected components → one canonical doc per cluster
    // (longest text, tie = smallest id, both deterministic) → every doc
    // labeled (canonical_id, cluster_size, is_keeper). The map is the
    // artifact a corpus pipeline actually materializes — downstream joins
    // drop or rewrite duplicates against it. Adds one broadcast-size
    // aggregate and one map-side join over the components output; the
    // heavy lifting stays in the banded-LSH shape that never goes
    // all-pairs.
    Gate("dedup_canonical", (s, d) => {
      Dedup.canonicalMap(docs(s, d), "text", "doc_id", "n_chars")
        .orderBy(col("doc_id"))
    },
      // components CTE extended with the canonical pick: row_number per
      // component ordered (n_chars DESC, id) — same deterministic argmax
      // as the Spark max(struct(n_chars, -id))
      s"""WITH RECURSIVE $canonicalCtes
         |SELECT c.id AS doc_id, canon.canonical_id, sz.cluster_size,
         |  (c.id = canon.canonical_id) AS is_keeper
         |FROM comp c JOIN canon USING (component) JOIN sz USING (component)
         |ORDER BY doc_id""".stripMargin),

    // Sub-document dedup at fixed-token-chunk granularity (the practical
    // substring-dedup form): global first occurrence of each 8-token
    // chunk kept, later copies dropped, documents reassembled from their
    // kept chunks. One combiner-heavy chunk-key argmin, one chunk-key
    // join, one per-doc reassembly — no window, no data-scale sort.
    Gate("dedup_chunks", (s, d) => {
      Dedup.chunkDedup(docs(s, d), "text", "doc_id", chunkTokens = 8)
        .orderBy(col("doc_id"))
    },
      // identical chunking (0-based fixed 8-token chunks, 1-based list
      // slice), two-level first-occurrence pick (min doc, then min idx
      // within it — the struct-min's lexicographic order), ordered
      // string_agg reassembly
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |idxs AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT) - 1)) AS idx
         |  FROM tok WHERE len(toks) > 0),
         |chunks AS (
         |  SELECT doc_id, CAST(idx AS INT) AS idx,
         |    array_to_string(toks[(CAST(idx AS INT)*8+1):(CAST(idx AS INT)*8+8)], ' ') AS chunk
         |  FROM idxs),
         |firstdoc AS (SELECT chunk, MIN(doc_id) AS kdoc FROM chunks GROUP BY chunk),
         |keeper AS (
         |  SELECT c.chunk, c.doc_id AS kdoc, MIN(c.idx) AS kidx
         |  FROM chunks c JOIN firstdoc f ON c.chunk = f.chunk AND c.doc_id = f.kdoc
         |  GROUP BY 1, 2),
         |kept AS (
         |  SELECT c.doc_id, c.idx, c.chunk
         |  FROM chunks c JOIN keeper k
         |    ON c.chunk = k.chunk AND c.doc_id = k.kdoc AND c.idx = k.kidx),
         |re AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(ceil(len(t.toks)/8.0) AS BIGINT) AS n_chunks,
         |  COALESCE(re.n_kept, 0) AS n_kept,
         |  COALESCE(re.text_dedup, '') AS text_dedup
         |FROM tok t LEFT JOIN re ON t.doc_id = re.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // MOSS overlap report: pairs sharing >= 2 winnowing fingerprints,
    // hot boilerplate fingerprints df-capped before the self-join. The
    // fingerprint table persists (both self-join sides read it — the
    // documented sweep-driver pattern; CacheManager dedupes across runs).
    Gate("dedup_winnow_pairs", (s, d) => {
      Dedup.winnowedPairs(
        Dedup.winnowFingerprints(docs(s, d), "text", "doc_id",
          shingleK = 3, window = 4).persist(),
        "doc_id", minShared = 2, maxDf = 50)
        .orderBy(col("a"), col("b"))
    },
      // same fingerprint set, df-capped, self-joined on fp, >= 2 shared
      (winnowFpSql +
      """,
        |capped AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df_
        |    FROM fps) WHERE df_ <= 50)
        |SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS shared
        |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY a, b""".stripMargin)),

    // LSH recall audit: exact pair set vs the single-table RHP pair set,
    // counted, with recall — the eval artifact that justifies (or
    // indicts) a bucket configuration before it ships. At 100 TB run it
    // on a sampled slice; the shape is two pair jobs + three counts.
    Gate("dedup_lsh_recall", (s, d) => {
      val e = embs(s, d)
      val exact = Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
        minCosine = 0.2, planes = 0, dims = 64).select(col("a"), col("b"))
      val lsh = Dedup.embeddingNearDupPairs(e, "embedding", "vec_id",
        minCosine = 0.2, planes = 4, seed = 7, dims = 64)
        .select(col("a"), col("b"))
      val found = exact.join(lsh, Seq("a", "b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .withColumn("recall",
          round(col("n_found").cast("double") / col("n_exact"), 6))
    },
    // same exact and LSH pair sets, counted; recall = one division
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      val bucket = signs.zipWithIndex.map { case (s, p) =>
        s"(CASE WHEN list_dot_product(v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |exact AS (SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM e l JOIN e r ON l.vec_id < r.vec_id
         |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.2),
         |bk AS (SELECT vec_id, v, $bucket AS bucket FROM e),
         |lsh AS (SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.2),
         |f AS (SELECT COUNT(*) AS n FROM exact
         |  JOIN lsh ON exact.a = lsh.a AND exact.b = lsh.b)
         |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
         |  (SELECT n FROM f) AS n_found,
         |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
         |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin
    }),

    Gate("dedup_embedding_pairs", (s, d) => {
      Dedup.embeddingNearDupPairs(embs(s, d), "embedding", "vec_id",
        minCosine = 0.2, planes = 4, seed = 7, dims = 64)
        .orderBy(col("a"), col("b"))
    },
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      val bucket = signs.zipWithIndex.map { case (s, p) =>
        s"(CASE WHEN list_dot_product(v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bucket AS bucket FROM e)
         |SELECT l.vec_id AS a, r.vec_id AS b,
         |  ROUND(list_cosine_similarity(l.v, r.v), 6) AS cosine
         |FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.2
         |ORDER BY a, b""".stripMargin
    }),

    // Multi-table recall path: 2 hash tables (seeds) at a HIGHER plane
    // count, candidates unioned before one exact verify — recovers pairs
    // a single 6-plane table drops (recall spec in DedupSpec).
    Gate("dedup_embedding_multitable", (s, d) => {
      Dedup.embeddingNearDupPairsMultiTable(embs(s, d), "embedding", "vec_id",
        minCosine = 0.2, planes = 6, seeds = Seq(7, 21), dims = 64)
        .orderBy(col("a"), col("b"))
    },
    {
      def bucketExpr(seed: Int) = sqlSigns(planes = 6, dims = 64, seed = seed)
        .zipWithIndex.map { case (s, p) =>
          s"(CASE WHEN list_dot_product(v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b1 AS (SELECT vec_id, v, ${bucketExpr(7)} AS bucket FROM e),
         |b2 AS (SELECT vec_id, v, ${bucketExpr(21)} AS bucket FROM e),
         |cand AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  UNION
         |  SELECT l.vec_id AS a, r.vec_id AS b
         |  FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT c.a, c.b, ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cosine
         |FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b
         |WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.2
         |ORDER BY a, b""".stripMargin
    }),

    // Cluster resolution over LSH candidate pairs: min-label propagation
    // (one shuffle per round) -> canonical keeper per near-dup cluster.
    Gate("dedup_components", (s, d) => {
      val dd = docs(s, d)
      val sig = Dedup.minhashSignature(dd, "text", "doc_id", numHashes = 4)
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id", 4, 2)
      Components.connectedComponents(dd.select(col("doc_id").as("id")), pairs)
        .orderBy(col("id"))
    },
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      s"""WITH RECURSIVE tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |sig AS (SELECT doc_id, $mh FROM sh),
         |bands AS (
         |  SELECT doc_id, 0 AS band,
         |    md5(CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)) AS bucket
         |  FROM sig WHERE mh0 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, 1,
         |    md5(CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR))
         |  FROM sig WHERE mh0 IS NOT NULL),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |edges AS (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b, a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1)
         |SELECT d.doc_id AS id,
         |  least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component
         |FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
         |ORDER BY id""".stripMargin
    }),

    // EXACT set-similarity join with prefix filtering: only each doc's
    // rarest |x|−⌈t·|x|⌉+1 shingles are indexed — no false negatives
    // (unlike minhash-LSH) and no df-cap recall trade (unlike the full
    // inverted index). TRIGRAM space: this corpus's tiny vocabulary
    // keeps common bigrams inside the rarest-first prefixes (measured
    // 73M candidate rows at sf0.1); trigrams are 26× rarer and cut the
    // prefix join to 2.8M with the identical 25 true pairs at sf0.01 —
    // term-space choice, not the filter, is the fan-out lever here.
    Gate("dedup_ssjoin_prefix", (s, d) => {
      operators.SetSimJoin.jaccardPairs(docs(s, d), "text", "doc_id",
        minSim = 0.5, termK = 3)
        .orderBy(col("a"), col("b"))
    },
      // the EXACT form needs no prefix trick at oracle scale: full shared-
      // shingle join, same distinct bigram sets, same rounded division —
      // prefix filtering must reproduce it bit-for-bit (no false negatives)
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, $sqlShingles3 AS terms FROM tok),
        |sz AS (SELECT doc_id, len(terms) AS sz FROM sh WHERE len(terms) > 0),
        |post AS (SELECT doc_id, unnest(terms) AS term FROM sh),
        |inter AS (SELECT pa.doc_id AS a, pb.doc_id AS b, COUNT(*) AS i
        |  FROM post pa JOIN post pb
        |    ON pa.term = pb.term AND pa.doc_id < pb.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
        |ORDER BY a, b""".stripMargin),

    // Exact substring-span dedup (Lee et al. 2021, arXiv:2107.06499):
    // maximal token spans whose every k-token window repeats somewhere in
    // the corpus — the suffix-array dedup re-expressed as two uniform-key
    // shuffles (gram-hash count + doc-key interval merge).
    Gate("dedup_substring_spans", (s, d) => {
      Dedup.substringSpans(docs(s, d), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"), col("span_start"))
    },
      // same dup-position derivation, same single-lag interval merge: all
      // windows are length k, so "continues the span" is p - prev <= k
      s"""$substringSpanCte
         |SELECT doc_id, MIN(p) AS span_start, MAX(p) + 7 AS span_end,
         |  MAX(p) + 7 - MIN(p) + 1 AS n_dup_tokens
         |FROM sp GROUP BY doc_id, span
         |ORDER BY doc_id, span_start""".stripMargin),

    // Corpus-level accounting for the span table: how many tokens a
    // span-cutting clean pass would drop per document (0 for clean docs)
    // — the measurement that decides whether substring dedup pays.
    Gate("dedup_substring_stats", (s, d) => {
      Dedup.substringDedupStats(docs(s, d), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    },
      // per-doc fold of the span table, outer-joined so clean docs report 0
      s"""$substringSpanCte,
         |spans AS (SELECT doc_id, MIN(p) AS s, MAX(p) + 7 AS e
         |  FROM sp GROUP BY doc_id, span),
         |agg AS (SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup
         |  FROM spans GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(agg.dup, 0) AS n_dup_tokens,
         |  CAST(len(t.toks) AS BIGINT) - COALESCE(agg.dup, 0) AS n_kept_tokens
         |FROM tok t LEFT JOIN agg USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),

    // Benchmark decontamination: distinct-5-gram overlap against a small
    // "eval set" (every 50th doc), benchmark side broadcast — flags the
    // benchmark docs themselves plus any near-copy sharing >= 3 shingles.
    Gate("dedup_decontaminate", (s, d) => {
      val dd = docs(s, d)
      val bench = dd.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_doc_id"), col("text").as("bench_text"))
      Dedup.contaminationPairs(dd, "text", "doc_id",
        bench, "bench_text", "bench_doc_id", k = 5, minHits = 3)
        .orderBy(col("doc_id"), col("bench_id"))
    },
      decontaminateSql),

    // Same result through the broadcast-bloom prefilter (exact verify
    // discards bloom false positives) — the shape for when the eval-set
    // shingle table itself outgrows a broadcast join.
    Gate("dedup_decontaminate_bloom", (s, d) => {
      val dd = docs(s, d)
      val bench = dd.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_doc_id"), col("text").as("bench_text"))
      Dedup.contaminationPairsBloom(dd, "text", "doc_id",
        bench, "bench_text", "bench_doc_id", k = 5, minHits = 3)
        .orderBy(col("doc_id"), col("bench_id"))
    },
      // the bloom prefilter admits no false negatives and the exact join
      // discards false positives — the oracle is the exact form's, verbatim
      decontaminateSql),

    // Purity of the semantic-dedup clusters against the stored labels —
    // the external-validity check for X145 (silhouette is internal):
    // purity = Σ_c max-label-count / n, all integers; cluster grain
    // after one (cluster, label) count pass.
    Gate("dedup_semantic_purity", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
        .select(col("vec_id"), col("cell"))
        .join(e.select(col("vec_id"), col("label")), "vec_id")
      val cl = assigned.groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("c"))
      val perCell = cl.groupBy(col("cell"))
        .agg(max(col("c")).as("maxc"), sum(col("c")).as("n"))
      perCell.agg(count(lit(1)).as("n_clusters"),
          sum(col("n")).as("n_points"),
          sum(col("maxc")).as("majority_mass"))
        .select(col("n_clusters"), col("n_points"), col("majority_mass"),
          expr("(1000000 * majority_mass) div n_points").as("purity_ppm"))
    },
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings),
        |cent0 AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY label, pos),
        |cent AS (
        |  SELECT CAST(label AS INTEGER) AS cell, list(c ORDER BY pos) AS cv
        |  FROM cent0 GROUP BY label),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |cl AS (
        |  SELECT a.cell, emb.label, COUNT(*) AS c
        |  FROM a JOIN (SELECT vec_id, label FROM embeddings) emb
        |    USING (vec_id)
        |  GROUP BY 1, 2),
        |pc AS (
        |  SELECT cell, MAX(c) AS maxc, SUM(c) AS n FROM cl GROUP BY 1)
        |SELECT COUNT(*) AS n_clusters,
        |  CAST(SUM(n) AS BIGINT) AS n_points,
        |  CAST(SUM(maxc) AS BIGINT) AS majority_mass,
        |  CAST((1000000 * SUM(maxc)) // SUM(n) AS BIGINT) AS purity_ppm
        |FROM pc""".stripMargin),

    // Gini impurity per semantic cluster — the log-free diversity
    // criterion (1 − Σp², the decision-tree split measure; entropy's ln
    // is the classic cross-engine divergence this codebase bans): pure
    // integers via (n² − Σc²)·10⁶ div n² on the (cluster, label) count
    // grain. Purity (X313) asks "how dominant is the top label"; this
    // asks "how mixed is the whole cell".
    Gate("dedup_cluster_impurity", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val cl = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
        .select(col("vec_id"), col("cell"))
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("c"))
      cl.groupBy(col("cell"))
        .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sc2"),
          count(lit(1)).as("n_labels"))
        .select(col("cell"), col("n"), col("n_labels"),
          expr("(1000000 * (n * n - sc2)) div (n * n)")
            .as("impurity_ppm"))
        .orderBy(col("cell"))
    },
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings),
        |cent0 AS (
        |  SELECT label, pos,
        |    ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |  FROM x GROUP BY label, pos),
        |cent AS (
        |  SELECT CAST(label AS INTEGER) AS cell, list(c ORDER BY pos) AS cv
        |  FROM cent0 GROUP BY label),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |cl AS (
        |  SELECT a.cell, emb.label, COUNT(*) AS c
        |  FROM a JOIN (SELECT vec_id, label FROM embeddings) emb
        |    USING (vec_id)
        |  GROUP BY 1, 2),
        |pc AS (
        |  SELECT cell, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(c * c) AS BIGINT) AS sc2, COUNT(*) AS n_labels
        |  FROM cl GROUP BY 1)
        |SELECT cell, n, n_labels,
        |  CAST((1000000 * (n * n - sc2)) // (n * n) AS BIGINT)
        |    AS impurity_ppm
        |FROM pc ORDER BY cell""".stripMargin),
  )
}
