package graft

import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}
import graft.search.{Filters, Search}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector, sparse and hybrid search (`search_*`). */
private[graft] object SearchGates {
  import Filters.{FilterSpec, AV}
  import GateHelpers._

  private val Bm25Query = "spark window join"

  /** Σ df² work budget shared by `search_sparse_budget`'s engine and
    * oracle — the histogram cap walk must compare against the SAME
    * literal on both sides. */
  private val SparsePairBudget = 100000L

  /** Shared CTE prefix for the NN-Descent oracles: planesFor's integer
    * rule, the two masked 16-plane sign tables, the bucketed directed
    * top-8 seed graph `g0`, and two unrolled descent rounds ending in
    * `g2`. Plain WITH (no recursion); every multiply-referenced CTE is
    * MATERIALIZED; floor/round/tie rules identical to the engine's
    * `Similarity.directedTopK`. */
  private lazy val knnDescentOracleCtes: String = {
    def bucketExpr(seed: Int) = sqlSigns(planes = 16, dims = 64, seed = seed)
      .zipWithIndex.map { case (sg, p) =>
        s"(CASE WHEN $p < pl.planes AND list_dot_product(v, $sg) >= 0" +
          s" THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
    // one descent round: undirected two-hop closure of `prev`, union the
    // existing edges, re-score, keep each q's top-8 — the engine's
    // knnGraphDescent loop body, unrolled
    def descentRound(prev: String, out: String): String =
      s"""nbr_$out AS MATERIALIZED (
         |  SELECT q, b FROM $prev UNION ALL SELECT b, q FROM $prev),
         |cand_$out AS (SELECT DISTINCT q, b FROM (
         |  SELECT q, b FROM nbr_$out
         |  UNION ALL
         |  SELECT n1.q, n2.b FROM nbr_$out n1 JOIN nbr_$out n2 ON n1.b = n2.q
         |  ) WHERE q <> b),
         |$out AS MATERIALIZED (SELECT q, b, s FROM (
         |    SELECT c.q, c.b,
         |      ROUND(list_cosine_similarity(eq.v, eb.v), 6) AS s,
         |      ROW_NUMBER() OVER (PARTITION BY c.q ORDER BY
         |        ROUND(list_cosine_similarity(eq.v, eb.v), 6) DESC, c.b) AS rn
         |    FROM cand_$out c JOIN e eq ON c.q = eq.vec_id
         |    JOIN e eb ON c.b = eb.vec_id
         |    WHERE ROUND(list_cosine_similarity(eq.v, eb.v), 6) >= 0.2)
         |  WHERE rn <= 8)"""
    s"""WITH nc AS (SELECT COUNT(*) AS n FROM embeddings),
       |pl AS (SELECT LEAST(GREATEST(CAST(pmin AS INT), 4), 62) AS planes
       |  FROM (SELECT MIN(p) AS pmin FROM generate_series(0, 62) AS t(p), nc
       |    WHERE (CAST(1 AS BIGINT) << p) >= (n + 127) // 128)),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |b1 AS (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e, pl),
       |b2 AS (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e, pl),
       |cand_g0 AS (SELECT DISTINCT q, b FROM (
       |  SELECT l.vec_id AS q, r.vec_id AS b
       |  FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
       |  UNION ALL
       |  SELECT l.vec_id, r.vec_id
       |  FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id)),
       |g0 AS MATERIALIZED (SELECT q, b, s FROM (
       |    SELECT c.q, c.b,
       |      ROUND(list_cosine_similarity(eq.v, eb.v), 6) AS s,
       |      ROW_NUMBER() OVER (PARTITION BY c.q ORDER BY
       |        ROUND(list_cosine_similarity(eq.v, eb.v), 6) DESC, c.b) AS rn
       |    FROM cand_g0 c JOIN e eq ON c.q = eq.vec_id
       |    JOIN e eb ON c.b = eb.vec_id
       |    WHERE ROUND(list_cosine_similarity(eq.v, eb.v), 6) >= 0.2)
       |  WHERE rn <= 8),
       |${descentRound("g0", "g1")},
       |${descentRound("g1", "g2")}""".stripMargin
  }

  /** Oracle CTE chain for the NSW graph-ANN tier: rebuilds the exact
    * neighbor graph (multi-table RHP candidates seeds 7/21, symmetric
    * top-`m` per node) and unrolls the `nRounds`-round beam-`beam`
    * greedy search from entry node 1 — the DuckDB twin of
    * [[graft.operators.Similarity.nswGraph]] + `nswSearch`. Ends with
    * `tier` = the search's top-10 (id, s). */
  private def nswOracleCte(m: Int = 8, beam: Int = 8,
      nRounds: Int = 3): String = {
    def bucketExpr(seed: Int) = sqlSigns(planes = 6, dims = 64, seed = seed)
      .zipWithIndex.map { case (sg, p) =>
        s"(CASE WHEN list_dot_product(v, $sg) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
    // Every CTE below that is referenced more than once (e, q, g, each
    // v_r) is MATERIALIZED: DuckDB inlines plain CTEs at each reference
    // site, so the per-round v_r chain (each v_r referenced by BOTH
    // nb_{r+1}'s NOT IN and v_{r+1}'s UNION ALL) re-derives the entire
    // prefix exponentially — measured 667 s at 500 vectors for the
    // (m=24, beam=48, r=6) variant, ~1 s materialized. Same results,
    // linear cost.
    val rounds = (1 to nRounds).map { r =>
      s"""nb$r AS MATERIALIZED (SELECT DISTINCT g.dst AS id
         |  FROM bm${r - 1} b JOIN g ON g.src = b.id
         |  WHERE g.dst NOT IN (SELECT id FROM v${r - 1})),
         |ns$r AS MATERIALIZED (SELECT e.vec_id AS id,
         |    ROUND(list_cosine_similarity(e.v, q.qv), 6) AS s
         |  FROM e JOIN nb$r ON e.vec_id = nb$r.id, q),
         |v$r AS MATERIALIZED (SELECT * FROM v${r - 1} UNION ALL SELECT * FROM ns$r),
         |bm$r AS MATERIALIZED (SELECT id, s FROM (SELECT id, s,
         |    ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rn FROM v$r)
         |  WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
       |b1 AS MATERIALIZED (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e),
       |b2 AS MATERIALIZED (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e),
       |cand AS MATERIALIZED (
       |  SELECT l.vec_id AS a, r.vec_id AS b
       |  FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
       |  UNION
       |  SELECT l.vec_id, r.vec_id
       |  FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
       |sc AS MATERIALIZED (SELECT c.a, c.b,
       |    ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS s
       |  FROM cand c JOIN e ea ON c.a = ea.vec_id
       |  JOIN e eb ON c.b = eb.vec_id),
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst, s FROM sc
       |  UNION ALL SELECT b, a, s FROM sc),
       |g AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rn
       |  FROM sym) WHERE rn <= $m),
       |v0 AS MATERIALIZED (SELECT e.vec_id AS id,
       |    ROUND(list_cosine_similarity(e.v, q.qv), 6) AS s
       |  FROM e, q WHERE e.vec_id = 1),
       |bm0 AS MATERIALIZED (SELECT id, s FROM v0),
       |$rounds,
       |tier AS (SELECT id, s FROM (SELECT id, s,
       |    ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rn FROM v$nRounds)
       |  WHERE rn <= 10)""".stripMargin
  }

  /** Oracle CTE for the PQ family: 4×16-dim subspaces over the embeddings,
    * init codebooks from vec_id < 16, one decimal-summed Lloyd round, and
    * the per-(vector, subspace) code assignment — the DuckDB twin of
    * [[graft.operators.Similarity.pqTrain]] + `pqEncode` (same sim-desc,
    * code-desc tie-break as the engine's max(struct(sim, code))).
    */
  private def pqCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |subs AS (
      |  SELECT vec_id, s.sub, v[(s.sub*16+1):(s.sub*16+16)] AS sv
      |  FROM e CROSS JOIN (SELECT unnest([0,1,2,3]) AS sub) s),
      |c0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
      |  FROM subs WHERE vec_id < 16),
      |a0 AS (
      |  SELECT vec_id, sub, sv, code FROM (
      |    SELECT subs.vec_id, subs.sub, subs.sv, c.code,
      |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub
      |        ORDER BY list_cosine_similarity(subs.sv, c.cv) DESC, c.code DESC) AS rn
      |    FROM subs JOIN c0 c ON c.sub = subs.sub) WHERE rn = 1),
      |dmeans AS (
      |  SELECT sub, code, d, ROUND(CAST(SUM(CAST(sv[d] AS DECIMAL(28,8))) AS DOUBLE), 6) AS mval
      |  FROM a0 CROSS JOIN generate_series(1, 16) t(d) GROUP BY 1, 2, 3),
      |c1 AS (SELECT sub, code, list(mval ORDER BY d) AS cv FROM dmeans GROUP BY 1, 2),
      |enc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT subs.vec_id, subs.sub, c.code,
      |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub
      |        ORDER BY list_cosine_similarity(subs.sv, c.cv) DESC, c.code DESC) AS rn
      |    FROM subs JOIN c1 c ON c.sub = subs.sub) WHERE rn = 1),
      |codes AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN sub = 0 THEN code END) AS code0,
      |    MAX(CASE WHEN sub = 1 THEN code END) AS code1,
      |    MAX(CASE WHEN sub = 2 THEN code END) AS code2,
      |    MAX(CASE WHEN sub = 3 THEN code END) AS code3
      |  FROM enc GROUP BY vec_id)""".stripMargin

  /** Oracle CTE for the refined-PQ tier: 8×8-dim subspaces over the
    * L2-NORMALIZED embeddings, init codebooks from vec_id < 64, one
    * MEAN-centroid Lloyd round (decimal sum ÷ count, rounded), per-(vector,
    * subspace) cosine code assignment — the DuckDB twin of
    * [[graft.operators.Similarity.pqTrainUnitMeans]] + `pqEncode`. Ends at
    * a wide `codes` CTE (code0..code7) ready for the 8-join ADC. */
  private def pqMeanCte: String = {
    val codeCols = (0 until 8).map(s =>
      s"    MAX(CASE WHEN sub = $s THEN code END) AS code$s").mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v,
       |  list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) AS vn
       |  FROM e),
       |subs AS (
       |  SELECT vec_id, s.sub, vn[(s.sub*8+1):(s.sub*8+8)] AS sv
       |  FROM en CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS sub) s),
       |c0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
       |  FROM subs WHERE vec_id < 64),
       |a0 AS (
       |  SELECT vec_id, sub, sv, code FROM (
       |    SELECT subs.vec_id, subs.sub, subs.sv, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub
       |        ORDER BY list_cosine_similarity(subs.sv, c.cv) DESC, c.code DESC) AS rn
       |    FROM subs JOIN c0 c ON c.sub = subs.sub) WHERE rn = 1),
       |dmeans AS (
       |  SELECT sub, code, d,
       |    ROUND(CAST(SUM(CAST(sv[d] AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS mval
       |  FROM a0 CROSS JOIN generate_series(1, 8) t(d) GROUP BY 1, 2, 3),
       |c1 AS (SELECT sub, code, list(mval ORDER BY d) AS cv FROM dmeans GROUP BY 1, 2),
       |rsubs AS (
       |  SELECT vec_id, s.sub, v[(s.sub*8+1):(s.sub*8+8)] AS rv
       |  FROM en CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS sub) s),
       |enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT rsubs.vec_id, rsubs.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY rsubs.vec_id, rsubs.sub
       |        ORDER BY list_cosine_similarity(rsubs.rv, c.cv) DESC, c.code DESC) AS rn
       |    FROM rsubs JOIN c1 c ON c.sub = rsubs.sub) WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id,
       |$codeCols
       |  FROM enc GROUP BY vec_id)""".stripMargin
  }

  private def docsCount(s: SparkSession, d: String): Long =
    Tables.documents(s, d).count()

  /** First embedding row = deterministic query vector for KNN queries. */
  private def queryVec(s: SparkSession, dir: String, vecId: Long = 0L): Seq[Float] =
    Tables.embeddings(s, dir).where(col("vec_id") === vecId)
      .head().getSeq[Float](1)

  /** Recall@k census shared by the ANN tier audits: both inputs are
    * already-pruned id lists (≤k rows each), so every join/agg here is a
    * few-row broadcast — the audit costs one exact scan + one tier
    * probe, whatever the corpus size. */
  private def annRecall(exact: DataFrame, tier: DataFrame): DataFrame = {
    val found = exact.join(tier, Seq("vec_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(tier.agg(count(lit(1)).as("n_tier")))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_exact"), 6))
  }

  val gates: Seq[Gate] = Seq(

    // ---- Vector search (S8/T1 + ANN scale path) ----

    // Sparse half of hybrid search made explicit (SURVEY §4.3): Okapi
    // BM25 over the documents corpus — N/avgdl/df from one aggregate job,
    // a per-document scoring projection, decimal-summed.
    Gate("search_bm25", (s, d) => {
      operators.Bm25.topK(docs(s, d), "text", "doc_id", Bm25Query, k = 20,
        k1 = Bm25K1, b = Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
    },
    {
      val terms = operators.Bm25.queryTerms(Bm25Query)
        .map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |st AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS tot FROM tok),
         |tf AS (
         |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM (
         |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
         |  WHERE term IN ($terms) GROUP BY 1, 2, 3),
         |df AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
         |  WHERE term IN ($terms) GROUP BY 1),
         |idf AS (SELECT term,
         |  ROUND(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)), 6) AS idf
         |  FROM df),
         |avgdl AS (SELECT CAST(tot AS DOUBLE) / n AS a FROM st),
         |contrib AS (
         |  SELECT tf.doc_id,
         |    ROUND(idf.idf * ((tf.tf * ${Bm25K1 + 1}) /
         |      (tf.tf + $Bm25K1 * (${1 - Bm25B} + ($Bm25B * tf.dl) / a.a))), 9) AS c
         |  FROM tf JOIN idf ON tf.term = idf.term, avgdl a)
         |SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS score
         |FROM contrib GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    }),

    // Pseudo-relevance feedback (RM3-lite): BM25 round 1 → top-5 docs →
    // top-3 fresh terms from those docs (seed + stopwords excluded,
    // (count, term) tie-break) → BM25 round 2 over the EXPANDED query.
    // The classic recall lever of lexical search, fully deterministic;
    // the 3-term collect is driver-bounded by construction (the
    // Bm25.corpusStats collect discipline). Oracle unrolls both rounds.
    Gate("search_prf_expansion", (s, d) => {
      val dcs = docs(s, d).localCheckpoint()
      val seedTerms = operators.Bm25.queryTerms(Bm25Query)
      val top5 = operators.Bm25.topK(dcs, "text", "doc_id", Bm25Query,
        k = 5, k1 = Bm25K1, b = Bm25B).select(col("doc_id"))
      val excluded = seedTerms ++ Seq("the", "a", "of", "and", "to",
        "in", "is", "that", "it", "for")
      val exp = dcs.join(top5, "doc_id")
        .select(explode(
          graft.functions.TextFunctions.tokens(lower(col("text"))))
          .as("term"))
        .where(!col("term").isin(excluded: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq // 3 rows — bounded
      operators.Bm25.topK(dcs, "text", "doc_id",
        (seedTerms ++ exp).mkString(" "), k = 10, k1 = Bm25K1, b = Bm25B)
        .orderBy(col("score").desc, col("doc_id"))
    },
    // both BM25 rounds unrolled; round 2's membership is the DERIVED
    // q2 term set (seed ∪ top-3 expansion), never a literal list
    {
      def bm25Block(suffix: String, member: String) =
        s"""tf$suffix AS (SELECT doc_id, dl, term,
           |    CAST(COUNT(*) AS DOUBLE) AS tf FROM (
           |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
           |  WHERE $member GROUP BY 1, 2, 3),
           |df$suffix AS (SELECT term, COUNT(*) AS df FROM (
           |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
           |  WHERE $member GROUP BY 1),
           |idf$suffix AS (SELECT term,
           |  ROUND(ln(1 + ((SELECT n FROM st) - df + 0.5) / (df + 0.5)), 6)
           |    AS idf FROM df$suffix),
           |c$suffix AS (SELECT t.doc_id,
           |    ROUND(i.idf * ((t.tf * ${Bm25K1 + 1}) /
           |      (t.tf + $Bm25K1 * (${1 - Bm25B} + ($Bm25B * t.dl) / a.a))), 9)
           |      AS c
           |  FROM tf$suffix t JOIN idf$suffix i ON t.term = i.term, avgdl a)"""
          .stripMargin
      val seed = operators.Bm25.queryTerms(Bm25Query)
      val seedIn = seed.map(t => s"'$t'").mkString(", ")
      val stopIn = Seq("the", "a", "of", "and", "to", "in", "is", "that",
        "it", "for").map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks
         |  FROM documents),
         |st AS (SELECT COUNT(*) AS n, SUM(len(toks)) AS tot FROM tok),
         |avgdl AS (SELECT CAST(tot AS DOUBLE) / n AS a FROM st),
         |${bm25Block("1", s"term IN ($seedIn)")},
         |t5 AS (SELECT doc_id FROM (
         |  SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE)
         |    AS score FROM c1 GROUP BY 1
         |  ORDER BY score DESC, doc_id LIMIT 5)),
         |expt AS (SELECT term FROM (
         |    SELECT term, COUNT(*) AS n2 FROM (
         |      SELECT unnest(toks) AS term FROM tok JOIN t5 USING (doc_id))
         |    WHERE term NOT IN ($seedIn, $stopIn)
         |    GROUP BY 1 ORDER BY n2 DESC, term LIMIT 3)),
         |q2 AS (SELECT term FROM expt
         |  UNION SELECT unnest([$seedIn]) AS term),
         |${bm25Block("2", "term IN (SELECT term FROM q2)")}
         |SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE)
         |  AS score
         |FROM c2 GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    }),

    // Exact phrase search: positional postings ⋈broadcast the k-row
    // phrase table, then ONE (doc, anchor) aggregation — a phrase starts
    // at anchor iff all k distinct offsets land there. The positional
    // primitive BM25's bag-of-terms scoring cannot express; only the
    // phrase terms' postings survive the broadcast join.
    Gate("search_phrase", (s, d) => {
      operators.PhraseSearch.phraseMatches(docs(s, d), "text", "doc_id",
        Seq("stream", "table", "hash"))
        .select(col("doc").as("doc_id"), col("n_matches"), col("first_pos"))
        .orderBy(col("doc_id"))
    },
      // positional postings from the shared tokenizer; anchor = pos − idx,
      // a match is a (doc, anchor) group holding all 3 distinct offsets
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |ix AS (SELECT doc_id, toks,
         |    unnest(generate_series(1, len(toks))) AS i FROM tok),
         |p AS (SELECT doc_id, i - 1 AS pos, toks[i] AS term FROM ix),
         |ph AS (SELECT * FROM (VALUES (0, 'stream'), (1, 'table'),
         |    (2, 'hash')) AS t(idx, term)),
         |m AS (SELECT p.doc_id, p.pos - ph.idx AS anchor, ph.idx AS idx
         |  FROM p JOIN ph ON p.term = ph.term),
         |g AS (SELECT doc_id, anchor FROM m GROUP BY 1, 2
         |  HAVING COUNT(DISTINCT idx) = 3)
         |SELECT doc_id, COUNT(*) AS n_matches, MIN(anchor) AS first_pos
         |FROM g GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // Sparse (bag-of-bigrams) cosine pairs via inverted-index self-join.
    // The df cap is statistics-driven: terms in > 6% of the corpus are
    // stop-terms at every scale (literal caps stop working once the
    // corpus outgrows them). Bigram term space — this corpus's unigram
    // vocab is so small that every pair shares most of it.
    Gate("search_sparse_cosine", (s, d) => {
      operators.SparseSim.cosinePairsAuto(docs(s, d), "text", "doc_id",
        minSim = 0.3, maxDfFrac = 0.06, termK = 2,
        nDocs = Some(docsCount(s, d)))
        .orderBy(col("a"), col("b"))
    },
      // identical shape: bigram tf, df cap = ceil(6% of doc count), norms
      // over survivors, integer dot products, one end-round(6)
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN []
         |  ELSE list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1]) END AS terms FROM tok),
         |ex AS (SELECT doc_id, unnest(terms) AS term FROM sh),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
         |caps AS (SELECT GREATEST(2, CEIL(0.06 * (SELECT COUNT(*) FROM documents))) AS cap),
         |dfs AS (SELECT doc_id, term, tf,
         |  COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
         |capped AS (SELECT doc_id, term, tf FROM dfs, caps WHERE df <= cap),
         |norms AS (SELECT doc_id, sqrt(CAST(SUM(tf*tf) AS DOUBLE)) AS norm
         |  FROM capped GROUP BY 1),
         |dots AS (SELECT l.doc_id AS a, r.doc_id AS b, SUM(l.tf * r.tf) AS dot
         |  FROM capped l JOIN capped r ON l.term = r.term AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b,
         |  ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6) AS cosine
         |FROM dots JOIN norms na ON na.doc_id = a JOIN norms nb ON nb.doc_id = b
         |WHERE ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6) >= 0.3
         |ORDER BY a, b""".stripMargin),

    // Work-budget df-cap twin of search_sparse_cosine: the cap comes
    // from the bitlen(df) histogram so admitted join work (Σ df²) is
    // bounded at ANY scale and df distribution — the guard the frac cap
    // lacks on pooled weakly-overlapping corpora (multilingual /
    // multi-source), where dfs stay flat while n grows and frac·n
    // silently admits every shard's stop terms (67× time on the r9
    // scale soak's 10× sharded corpus; SCALE_NOTES). Both engines
    // derive the identical cap from the same integer histogram.
    Gate("search_sparse_budget", (s, d) => {
      operators.SparseSim.cosinePairsBudget(docs(s, d), "text", "doc_id",
        minSim = 0.3, pairBudget = SparsePairBudget, maxDfFrac = 0.06,
        termK = 2, nDocs = Some(docsCount(s, d)))
        .orderBy(col("a"), col("b"))
    },
      // same inverted-index join under the HISTOGRAM-derived cap: the
      // oracle rebuilds the ≤63-row bitlen(df) table, walks the cumulative
      // Σ df² against the same budget literal, and takes the same
      // LEAST(2^b − 1, frac cap) — cap derivation is part of the contract
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(toks) < 2 THEN []
         |  ELSE list_transform(generate_series(1, len(toks)-1),
         |    i -> toks[i] || ' ' || toks[i+1]) END AS terms FROM tok),
         |ex AS (SELECT doc_id, unnest(terms) AS term FROM sh),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
         |dfa AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |hist AS (SELECT length(bin(df)) AS b, SUM(df * df) AS w
         |  FROM dfa GROUP BY 1),
         |cum AS (SELECT b, SUM(w) OVER (ORDER BY b) AS cw FROM hist),
         |bsel AS (SELECT COALESCE(MAX(CASE WHEN cw <= $SparsePairBudget
         |  THEN b END), 1) AS bmax FROM cum),
         |caps AS (SELECT LEAST((1::BIGINT << bmax) - 1,
         |  GREATEST(2, CEIL(0.06 * (SELECT COUNT(*) FROM documents)))) AS cap
         |  FROM bsel),
         |capped AS (SELECT tf.doc_id, tf.term, tf.tf
         |  FROM tf JOIN dfa USING (term), caps WHERE dfa.df <= caps.cap),
         |norms AS (SELECT doc_id, sqrt(CAST(SUM(tf*tf) AS DOUBLE)) AS norm
         |  FROM capped GROUP BY 1),
         |dots AS (SELECT l.doc_id AS a, r.doc_id AS b, SUM(l.tf * r.tf) AS dot
         |  FROM capped l JOIN capped r ON l.term = r.term AND l.doc_id < r.doc_id
         |  GROUP BY 1, 2)
         |SELECT a, b,
         |  ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6) AS cosine
         |FROM dots JOIN norms na ON na.doc_id = a JOIN norms nb ON nb.doc_id = b
         |WHERE ROUND(CAST(dot AS DOUBLE) / (na.norm * nb.norm), 6) >= 0.3
         |ORDER BY a, b""".stripMargin),

    Gate("search_knn_topk", (s, d) => {
      Similarity.bruteForceTopK(embs(s, d), "embedding", "vec_id",
        queryVec(s, d), k = 10)
    },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    // k-NN label propagation: every 10th vector plays unlabeled and
    // takes its 3 nearest labeled neighbors' majority label; true label
    // rides along for the audit.
    Gate("search_label_propagation", (s, d) => {
      val e = embs(s, d)
      val unl = e.where(col("vec_id") % 10 === 0)
      Similarity.labelPropagate(e.where(col("vec_id") % 10 =!= 0), unl,
        "embedding", "vec_id", "label", k = 3, dims = 64)
        .join(unl.select(col("vec_id"), col("label").as("true_label")), "vec_id")
        .orderBy(col("vec_id"))
    },
      // identical vote: top-3 window, count per label, most-votes-then-
      // smallest-label
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS true_label FROM embeddings WHERE vec_id % 10 = 0),
        |s AS (SELECT q.query_id, e.label AS base_label, e.vec_id AS base_id,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id % 10 <> 0),
        |r AS (SELECT query_id, base_label FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, base_id) AS rn FROM s)
        |  WHERE rn <= 3),
        |v AS (SELECT query_id, base_label, COUNT(*) AS n_votes
        |  FROM r GROUP BY 1, 2),
        |p AS (SELECT query_id, base_label AS predicted_label, n_votes FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY n_votes DESC, base_label) AS rb FROM v)
        |  WHERE rb = 1)
        |SELECT p.query_id AS vec_id, p.predicted_label, p.n_votes, q.true_label
        |FROM p JOIN q ON p.query_id = q.query_id
        |ORDER BY vec_id""".stripMargin),

    // Hard negatives: per query, most-similar DIFFERENT-label vectors —
    // the contrastive-training negatives that sit at the boundary.
    Gate("search_hard_negatives", (s, d) => {
      val e = embs(s, d)
      Similarity.hardNegatives(e, e.where(col("vec_id") % 100 === 0),
        "embedding", "vec_id", "label", k = 3, dims = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      // identical mismatch-then-rank order
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label AS ql FROM embeddings WHERE vec_id % 100 = 0),
        |s AS (SELECT q.query_id, e.vec_id AS base_id, e.label AS base_label,
        |    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.label <> q.ql),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, base_id) AS INT) AS rank
        |  FROM s)
        |SELECT query_id, base_id, base_label, score, rank FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Matryoshka audit: rank by a 16-dim prefix (4× less scan I/O),
    // report full-dim scores and full-top-k membership — the recall
    // evidence for serving truncated embeddings.
    Gate("search_matryoshka", (s, d) => {
      Similarity.matryoshkaAudit(embs(s, d), "embedding", "vec_id",
        queryVec(s, d), prefixDims = 16, k = 10)
        .orderBy(col("rank_prefix"))
    },
      // identical prefix slice, two top-10 rankings, full-score join
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pre AS (
        |  SELECT vec_id,
        |    ROUND(list_cosine_similarity(v[1:16], (SELECT qv[1:16] FROM q)), 6) AS score_prefix
        |  FROM e ORDER BY score_prefix DESC, vec_id LIMIT 10),
        |prer AS (SELECT vec_id, score_prefix,
        |    CAST(row_number() OVER (ORDER BY score_prefix DESC, vec_id) AS INT) AS rank_prefix
        |  FROM pre),
        |fullk AS (SELECT vec_id FROM (
        |  SELECT vec_id, ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS s
        |  FROM e ORDER BY s DESC, vec_id LIMIT 10)),
        |fs AS (SELECT vec_id,
        |  ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS score_full FROM e)
        |SELECT p.vec_id, p.rank_prefix, p.score_prefix, fs.score_full,
        |  (fullk.vec_id IS NOT NULL) AS in_full_topk
        |FROM prer p JOIN fs USING (vec_id) LEFT JOIN fullk USING (vec_id)
        |ORDER BY p.rank_prefix""".stripMargin),

    Gate("search_knn_filtered", (s, d) => {
      Search.basic(embs(s, d), "embedding", queryVec(s, d),
        limit = 10, scoreThreshold = 0.0,
        filters = Seq(FilterSpec("label", "any_of", AV(Seq("0", "2")))),
        tieBreak = "vec_id")
        .select(col("vec_id"), col("label"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |    CAST(q.embedding AS DOUBLE[])), 6) AS score
        |FROM embeddings e, q WHERE e.label IN (0, 2)
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin),

    Gate("search_knn_join", (s, d) => {
      val e = embs(s, d)
      Similarity.knnJoin(e, e.where(col("vec_id") < 5), "embedding",
        "vec_id", "vec_id", k = 5, dims = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, b.vec_id AS base_id,
        |    ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings b, embeddings q
        |  WHERE q.vec_id < 5 AND b.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, base_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, base_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, base_id, score, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    Gate("search_lsh", (s, d) => {
      Search.lshSearch(embs(s, d), "embedding", queryVec(s, d),
        planes = 4, seed = 7, limit = 10, tieBreak = "vec_id")
        .select(col("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      def bucket(v: String) = signs.zipWithIndex.map { case (s, p) =>
        s"(CASE WHEN list_dot_product($v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |b AS (SELECT vec_id, v, ${bucket("v")} AS bucket FROM e),
         |qb AS (SELECT ${bucket("qv")} AS qbucket FROM q)
         |SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 6) AS score
         |FROM b, q, qb WHERE bucket = qbucket
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }),

    // The LSH scale path made literal: the store is WRITTEN partitioned
    // by bucket, and the probe reads back through partition pruning —
    // the scan opens ~1/2^planes of the directories instead of scoring
    // the corpus (PartitionFilters asserted in StoreLayoutSpec). Same
    // result as search_lsh (same planes/seed/query).
    Gate("search_lsh_pruned", (s, d) => {
      val (planes, seed) = (4, 7)
      val qv = queryVec(s, d)
      val work = scratch("lsh_store", d)
      val withBucket = Tables.embeddings(s, d).withColumn("bucket",
        VectorFunctions.rhpBucket(col("embedding"), planes, seed, 64))
      graft.sink.StoreLayout.writeOptimized(withBucket, work,
        partitionCols = Seq("bucket"), sortCols = Seq("vec_id"))
      s.read.parquet(work)
        .where(col("bucket") === Search.queryBucket(qv, planes, seed))
        .withColumn("score",
          round(VectorFunctions.cosine(col("embedding"), typedLit(qv), 64), 6))
        .select(col("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    // identical to search_lsh (same planes/seed/query; the partitioned
    // layout only changes WHERE rows are read from, never the result)
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      def bucket(v: String) = signs.zipWithIndex.map { case (s, p) =>
        s"(CASE WHEN list_dot_product($v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |b AS (SELECT vec_id, v, ${bucket("v")} AS bucket FROM e),
         |qb AS (SELECT ${bucket("qv")} AS qbucket FROM q)
         |SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 6) AS score
         |FROM b, q, qb WHERE bucket = qbucket
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }),

    Gate("search_ivf", (s, d) => {
      val e = embs(s, d)
      val centroids = Similarity.pickCentroids(e, "embedding", "vec_id", numCells = 16)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", centroids)
      Similarity.ivfSearch(assigned, "embedding", "vec_id", centroids,
        queryVec(s, d), k = 10, nprobe = 4)
        .orderBy(col("score").desc, col("vec_id"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |centroids AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e WHERE vec_id < 16),
        |a AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN centroids c) WHERE rn = 1),
        |probe AS (
        |  SELECT cell FROM centroids, q
        |  ORDER BY list_cosine_similarity(cv, qv) DESC, cell LIMIT 4)
        |SELECT vec_id, cell, ROUND(list_cosine_similarity(v, qv), 6) AS score
        |FROM a, q WHERE cell IN (SELECT cell FROM probe)
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),

    // IVF with TRAINED cells: one Lloyd round over the seeded centroids
    // (decimal-summed, division-free — reproducible across engines and
    // partitionings), then the same assign/probe plan.
    Gate("search_ivf_kmeans", (s, d) => {
      val e = embs(s, d)
      val c0 = Similarity.pickCentroids(e, "embedding", "vec_id", numCells = 16)
      val c1 = Similarity.kmeansRefine(e, "embedding", "vec_id", c0, iters = 1)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", c1)
      Similarity.ivfSearch(assigned, "embedding", "vec_id", c1,
        queryVec(s, d), k = 10, nprobe = 4)
        .orderBy(col("score").desc, col("vec_id"))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |c0 AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e WHERE vec_id < 16),
        |a0 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |dims AS (
        |  SELECT cell, d, ROUND(CAST(SUM(CAST(v[d] AS DECIMAL(28,8))) AS DOUBLE), 6) AS m
        |  FROM a0 CROSS JOIN generate_series(1, 64) t(d) GROUP BY cell, d),
        |c1 AS (SELECT cell, list(m ORDER BY d) AS cv FROM dims GROUP BY cell),
        |a1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |probe AS (
        |  SELECT cell FROM c1, q
        |  ORDER BY list_cosine_similarity(cv, qv) DESC, cell LIMIT 4)
        |SELECT vec_id, cell, ROUND(list_cosine_similarity(v, qv), 6) AS score
        |FROM a1, q WHERE cell IN (SELECT cell FROM probe)
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),

    // PQ: 4 subspaces × 16 codes over 64 dims, trained with the same
    // decimal-summed Lloyd as IVF. Codes replace raw vectors at scale.
    Gate("search_pq_codes", (s, d) => {
      val e = embs(s, d)
      val cb = Similarity.pqTrain(e, "embedding", "vec_id",
        m = 4, codebookSize = 16, dims = 64, iters = 1)
      Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
        .orderBy(col("vec_id"))
    },
      (pqCte +
      """
        |SELECT vec_id, code0, code1, code2, code3
        |FROM codes ORDER BY vec_id""".stripMargin)),

    // ADC top-k over the codes only — the raw vectors are never scanned.
    Gate("search_pq_adc", (s, d) => {
      val e = embs(s, d)
      val cb = Similarity.pqTrain(e, "embedding", "vec_id",
        m = 4, codebookSize = 16, dims = 64, iters = 1)
      val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 4, dims = 64)
      Similarity.pqAdcSearch(enc, "vec_id", cb, queryVec(s, d), k = 10, m = 4)
        .orderBy(col("score").desc, col("vec_id"))
    },
      (pqCte +
      """,
        |q AS (SELECT sub, sv AS qv FROM subs WHERE vec_id = 0),
        |tab AS (
        |  SELECT c1.sub, c1.code, list_cosine_similarity(c1.cv, q.qv) AS sim
        |  FROM c1 JOIN q ON q.sub = c1.sub)
        |SELECT codes.vec_id, ROUND((t0.sim + t1.sim + t2.sim + t3.sim)/4, 6) AS score
        |FROM codes
        |JOIN tab t0 ON t0.sub = 0 AND t0.code = codes.code0
        |JOIN tab t1 ON t1.sub = 1 AND t1.code = codes.code1
        |JOIN tab t2 ON t2.sub = 2 AND t2.code = codes.code2
        |JOIN tab t3 ON t3.sub = 3 AND t3.code = codes.code3
        |ORDER BY score DESC, codes.vec_id LIMIT 10""".stripMargin)),

    // Per-label class prototypes: decimal-summed exact means per (label,
    // dimension) — centroid-based filtering/labeling's model artifact.
    Gate("search_label_centroids", (s, d) => {
      Similarity.labelCentroids(embs(s, d), "embedding", "label")
        .orderBy(col("label"), col("pos"))
    },
      // decimal-summed exact means, same construction as the Spark side
      """WITH x AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
        |  FROM embeddings)
        |SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6) AS c
        |FROM x GROUP BY label, pos
        |ORDER BY label, pos""".stripMargin),

    // Nearest-centroid labeling: every vector assigned to its closest
    // class prototype by cosine — centroid-based filtering's scoring
    // pass (ivfAssign reused with supervised centroids; broadcast table,
    // one codegen'd scan). Emits true label vs predicted for audit.
    Gate("search_centroid_assign", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      Similarity.ivfAssign(e, "embedding", "vec_id", cents)
        .select(col("vec_id"), col("label"), col("cell").as("predicted_label"))
        .orderBy(col("vec_id"))
    },
      // label-mean centroids + the ivfAssign argmax (sim DESC, cell DESC)
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
        |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (
        |  SELECT vec_id, label, cell FROM (
        |    SELECT e.vec_id, e.label, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1)
        |SELECT vec_id, label, cell AS predicted_label
        |FROM a ORDER BY vec_id""".stripMargin),

    // Cluster-quality audit: per-label centroid silhouette (broadcast
    // cross join vs the tiny centroid table, never the O(n²) pairwise
    // form). Centroids from the same decimal-summed labelCentroids pass
    // the assign gate proves portable.
    Gate("search_silhouette", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      Similarity.centroidSilhouette(e, "embedding", "vec_id", "label", cents)
        .orderBy(col("label"))
    },
      // identical silhouette algebra on identically-rounded sims; the
      // centroid CTEs replay labelCentroids exactly (as the assign gate)
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
        |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT e.vec_id, e.label,
        |    MAX(CASE WHEN c.cell = e.label
        |      THEN ROUND(list_cosine_similarity(e.v, c.cv), 6) END) AS own,
        |    MAX(CASE WHEN c.cell <> e.label
        |      THEN ROUND(list_cosine_similarity(e.v, c.cv), 6) END) AS oth
        |  FROM e CROSS JOIN cent c GROUP BY 1, 2),
        |p AS (
        |  SELECT label,
        |    ROUND(CASE WHEN GREATEST(1.0 - own, 1.0 - oth) = 0 THEN 0
        |      ELSE ((1.0 - oth) - (1.0 - own)) / GREATEST(1.0 - own, 1.0 - oth)
        |      END, 9) AS sil
        |  FROM s WHERE own IS NOT NULL AND oth IS NOT NULL)
        |SELECT label, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
        |    AS silhouette
        |FROM p GROUP BY label ORDER BY label""".stripMargin),

    // SQ8 scalar quantization: per-dimension affine int8 codes (4× less
    // scan I/O than float32, no codebook training — the compression tier
    // below PQ). Calibration is one combiner-heavy posexplode min/max agg;
    // encode/search are shuffle-free codegen'd scans; search is asymmetric
    // (exact query vs dequantized base) + TakeOrderedAndProject.
    Gate("search_sq8", (s, d) => {
      val e = embs(s, d)
      val (mins, maxs) = Similarity.sqCalibrate(e, "embedding")
      val enc = Similarity.sqEncode(e, "embedding", "vec_id", mins, maxs)
      Similarity.sqSearch(enc, "vec_id", mins, maxs, queryVec(s, d), k = 10)
        .orderBy(col("score").desc, col("vec_id"))
    },
      // replays sqCalibrate/sqEncode/sqDequantize exactly: per-dim min/max,
      // code = round((x-mn)/(mx-mn)*255), xq = mn + code*(mx-mn)/255 (all
      // IEEE double in both engines), asymmetric cosine vs the exact query
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        |deq AS (
        |  SELECT vec_id, x.pos,
        |    CASE WHEN d.mx = d.mn THEN d.mn
        |         ELSE d.mn + CAST(round((x.x - d.mn) / (d.mx - d.mn) * 255) AS INT)
        |              * ((d.mx - d.mn) / 255.0) END AS xq
        |  FROM x JOIN dims d USING (pos)),
        |arr AS (SELECT vec_id, list(xq ORDER BY pos) AS vq FROM deq GROUP BY vec_id),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT a.vec_id, ROUND(list_cosine_similarity(a.vq, qv), 6) AS score
        |FROM arr a, q ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin),

    // ---- ANN recall audits (round-7 #3): recall@k of each SERVING tier
    // vs exact KNN, the dedup_lsh_recall pattern — exact set compare +
    // one division, so the eval artifact a 100 TB deployment would gate
    // on is itself oracle-checkable. One row: (n_exact, n_tier, n_found,
    // recall). ----
    Gate("search_ivf_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val centroids = Similarity.pickCentroids(e, "embedding", "vec_id",
        numCells = 16)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", centroids)
      val tier = Similarity.ivfSearch(assigned, "embedding", "vec_id",
        centroids, qv, k = 10, nprobe = 4).select(col("vec_id"))
      annRecall(exact, tier)
    },
      // recall@10 census: tier CTE chain replayed verbatim, exact KNN CTE,
      // set intersection + one division (dedup_lsh_recall pattern)
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |centroids AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e WHERE vec_id < 16),
        |a AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT e.vec_id, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
        |    FROM e CROSS JOIN centroids c) WHERE rn = 1),
        |probe AS (
        |  SELECT cell FROM centroids, q
        |  ORDER BY list_cosine_similarity(cv, qv) DESC, cell LIMIT 4),
        |tier AS (
        |  SELECT vec_id FROM a, q WHERE cell IN (SELECT cell FROM probe)
        |  ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id LIMIT 10),
        |exact AS (
        |  SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id LIMIT 10),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tier) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    Gate("search_pq_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val cb = Similarity.pqTrain(e, "embedding", "vec_id",
        m = 4, codebookSize = 16, dims = 64, iters = 1)
      val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 4,
        dims = 64)
      val tier = Similarity.pqAdcSearch(enc, "vec_id", cb, qv, k = 10, m = 4)
        .select(col("vec_id"))
      annRecall(exact, tier)
    },
      (pqCte +
      """,
        |qs AS (SELECT sub, sv AS qv FROM subs WHERE vec_id = 0),
        |tab AS (
        |  SELECT c1.sub, c1.code, list_cosine_similarity(c1.cv, qs.qv) AS sim
        |  FROM c1 JOIN qs ON qs.sub = c1.sub),
        |adc AS (
        |  SELECT codes.vec_id, ROUND((t0.sim + t1.sim + t2.sim + t3.sim)/4, 6) AS score
        |  FROM codes
        |  JOIN tab t0 ON t0.sub = 0 AND t0.code = codes.code0
        |  JOIN tab t1 ON t1.sub = 1 AND t1.code = codes.code1
        |  JOIN tab t2 ON t2.sub = 2 AND t2.code = codes.code2
        |  JOIN tab t3 ON t3.sub = 3 AND t3.code = codes.code3),
        |tier AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id LIMIT 10),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |exact AS (
        |  SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id LIMIT 10),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tier) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin)),

    // The recall-vs-bytes answer to X138's honest 0.2: 8×64 mean-centroid
    // codebooks over the unit-normalized vectors (8 bytes/vector), dot/norm
    // ADC shortlist-50, exact rerank of just those 50 raw vectors — the
    // production IVF-PQ serving shape. 0.9 recall@10 at sf0.01 where the
    // ADC-only tier of the SAME codes reads 0.5 (near-random synthetic
    // embeddings are a worst case for product codes; the rerank is what a
    // deployment actually ships).
    Gate("search_pq_rerank_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val cb = Similarity.pqTrainUnitMeans(e, "embedding", "vec_id",
        m = 8, codebookSize = 64, dims = 64, iters = 1)
      val enc = Similarity.pqEncode(e, "embedding", "vec_id", cb, m = 8,
        dims = 64)
      val tier = Similarity.pqAdcRerank(enc, e, "embedding", "vec_id", cb,
        qv, k = 10, m = 8, shortlist = 50).select(col("vec_id"))
      annRecall(exact, tier)
    },
      (pqMeanCte +
      s""",
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |qn AS (SELECT sqrt(list_sum(list_transform(qv, x -> x*x))) AS qn FROM q),
        |qsub AS (
        |  SELECT s.sub, qv[(s.sub*8+1):(s.sub*8+8)] AS qs
        |  FROM q CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS sub) s),
        |tab AS (
        |  SELECT c1.sub, c1.code,
        |    list_dot_product(qsub.qs, c1.cv) AS qd,
        |    list_sum(list_transform(c1.cv, x -> x*x)) AS nsq
        |  FROM c1 JOIN qsub ON qsub.sub = c1.sub),
        |adc AS (
        |  SELECT codes.vec_id,
        |    ROUND((t0.qd + t1.qd + t2.qd + t3.qd + t4.qd + t5.qd + t6.qd + t7.qd)
        |      / (qn.qn * sqrt(t0.nsq + t1.nsq + t2.nsq + t3.nsq
        |                    + t4.nsq + t5.nsq + t6.nsq + t7.nsq)), 6) AS score
        |  FROM codes, qn
        |  ${(0 until 8).map(s => s"JOIN tab t$s ON t$s.sub = $s AND t$s.code = codes.code$s").mkString("\n  ")}),
        |short AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id LIMIT 50),
        |rr AS (
        |  SELECT en.vec_id, ROUND(list_cosine_similarity(en.v, q.qv), 6) AS s
        |  FROM en JOIN short USING (vec_id), q),
        |tier AS (SELECT vec_id FROM rr ORDER BY s DESC, vec_id LIMIT 10),
        |exact AS (
        |  SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id LIMIT 10),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tier) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin)),

    // Long-document pipeline: chunk → embed each chunk (surrogate) →
    // mean-pool → normalize (integer-exact: the 1000·n scale cancels in
    // the normalized mean) → KNN over the pooled store.
    Gate("search_chunk_pooled", (s, d) => {
      val pv = Similarity.chunkPooledEmbed(docs(s, d), "text", "doc_id",
        dims = 16, chunkTokens = 8)
      val qv = pv.where(col("doc_id") === 0).head().getSeq[Float](1)
      Similarity.bruteForceTopK(pv, "vec", "doc_id", qv, k = 10)
    },
    // same 8-token chunks, same surrogate component integers, same
    // cancelled-scale normalization s_d/√(Σs_d²), same float store
    {
      val comp = sqlHash64("chunk || '#' || d")
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |idxs AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(0, CAST(ceil(len(toks)/8.0) AS INT) - 1)) AS idx
         |  FROM tok WHERE len(toks) > 0),
         |chunks AS (
         |  SELECT doc_id,
         |    array_to_string(toks[(CAST(idx AS INT)*8+1):(CAST(idx AS INT)*8+8)], ' ') AS chunk
         |  FROM idxs),
         |cd AS (SELECT doc_id, chunk, CAST(unnest(range(0, 16)) AS INT) AS d
         |  FROM chunks),
         |r AS (SELECT doc_id, d, $comp % 2001 - 1000 AS r FROM cd),
         |s AS (SELECT doc_id, d, CAST(SUM(r) AS BIGINT) AS s FROM r GROUP BY 1, 2),
         |ss AS (SELECT doc_id, CAST(SUM(s * s) AS BIGINT) AS ss FROM s GROUP BY 1),
         |vec AS (
         |  SELECT s.doc_id,
         |    list(CAST(CAST(CAST(s AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)) AS FLOAT)
         |      AS DOUBLE) ORDER BY d) AS v
         |  FROM s JOIN ss USING (doc_id) WHERE ss > 0 GROUP BY s.doc_id),
         |q AS (SELECT v AS qv FROM vec WHERE doc_id = 0)
         |SELECT vec.doc_id, ROUND(list_cosine_similarity(v, qv), 6) AS score
         |FROM vec, q ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    }),

    // JL sign-projection distortion audit: 64→16 dims via a hash-derived
    // ±1 matrix; exact vs projected cosine on 250 deterministic probe
    // pairs — measure the tier's input space before trusting it.
    Gate("search_jl_distortion", (s, d) => {
      Similarity.jlDistortion(embs(s, d), "embedding", "vec_id",
        outDims = 16, dims = 64)
        .orderBy(col("a"))
    },
    // same hash-derived sign matrix, same DECIMAL projection sums, same
    // rounded-cosine compare
    {
      val sgn = sqlHash64("'jl:' || j || ':' || i")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT CAST(i AS INT) AS pos, CAST(j AS INT) AS jdim,
         |  CASE WHEN $sgn % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM range(0, 64) t(i), range(0, 16) u(j)),
         |x AS (SELECT vec_id, unnest(embedding) AS x,
         |  CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos
         |  FROM embeddings),
         |p AS (SELECT vec_id, jdim,
         |  CAST(SUM(CAST(FLOOR(CAST(x.x AS DOUBLE) * 1048576) AS BIGINT)
         |    * s.sgn) AS BIGINT) AS p
         |  FROM x JOIN s USING (pos) GROUP BY 1, 2),
         |arr AS (SELECT vec_id,
         |  list(CAST(CAST(CAST(p AS DOUBLE) / 1048576.0 AS FLOAT) AS DOUBLE)
         |    ORDER BY jdim) AS proj
         |  FROM p GROUP BY vec_id),
         |cp AS (SELECT l.vec_id AS a, r.vec_id AS b,
         |  -- float-VALUED double lists on both sides: products are exact
         |  -- in double and list_cosine_similarity's sequential kernel
         |  -- matches the engine loop (genuinely-double inputs diverge
         |  -- ~1e-9 in the summation kernel — hence the float store)
         |  list_cosine_similarity(l.proj, r.proj) AS raw_proj,
         |  list_cosine_similarity(le.v, re.v) AS raw_full
         |  FROM arr l JOIN arr r ON r.vec_id = l.vec_id + 1 AND l.vec_id % 2 = 0
         |  JOIN e le ON le.vec_id = l.vec_id
         |  JOIN e re ON re.vec_id = r.vec_id)
         |SELECT a, b, ROUND(raw_full, 6) AS cos_full,
         |  ROUND(raw_proj, 6) AS cos_proj,
         |  ROUND(ABS(ROUND(raw_full, 6) - ROUND(raw_proj, 6)), 6) AS err
         |FROM cp ORDER BY a""".stripMargin
    }),

    // ColBERT-style MaxSim: a 3-vector query scores each label group as
    // Σ_q max_d cos(q,d) — late interaction over the group's vector set.
    // Rounded maxima sum through DECIMAL so aggregation order can't leak.
    Gate("search_maxsim", (s, d) => {
      val qs = Tables.embeddings(s, d).where(col("vec_id") <= 2)
        .orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      Similarity.maxSimScore(embs(s, d), "embedding", "label", qs, dims = 64)
        .orderBy(col("label"))
    },
      // same broadcast-query cross join, same (group, query) MAX of rounded
      // cosines, same exact DECIMAL sum
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id <= 2),
        |s AS (SELECT e.label, q.q_id,
        |    MAX(ROUND(list_cosine_similarity(e.v, q.qv), 6)) AS best
        |  FROM e CROSS JOIN q GROUP BY 1, 2)
        |SELECT label, ROUND(CAST(SUM(CAST(best AS DECIMAL(18,6))) AS DOUBLE), 6) AS maxsim
        |FROM s GROUP BY label ORDER BY label""".stripMargin),

    // Binary-sign tier recall audit: 1 bit/dim codes, Hamming shortlist
    // (xor+popcount per candidate), exact rerank of the 50 survivors —
    // the cheapest serving tier's place on the same recall-vs-bytes
    // curve as X138/X144/X139.
    Gate("search_hamming_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val enc = Similarity.binaryEncode(e, "embedding", "vec_id")
      val tier = Similarity.hammingRerank(enc, e, "embedding", "vec_id",
        Similarity.binaryEncodeJvm(qv), qv, k = 10, shortlist = 50)
        .select(col("vec_id"))
      annRecall(exact, tier)
    },
      // same Horner bit weights (bit i = 2^i for dim i+1), same xor+popcount
      // distance, same shortlist-then-exact-rerank chain
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |enc AS (SELECT vec_id,
        |  CAST(list_sum(list_transform(range(0, 60),
        |    i -> CASE WHEN v[CAST(i AS INT) + 1] > 0
        |         THEN (1::BIGINT << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS code
        |  FROM e),
        |qc AS (SELECT code AS qcode FROM enc WHERE vec_id = 0),
        |short AS (SELECT vec_id FROM enc, qc
        |  ORDER BY bit_count(xor(code, qcode)), vec_id LIMIT 50),
        |rr AS (SELECT e.vec_id, ROUND(list_cosine_similarity(e.v, q.qv), 6) AS s
        |  FROM e JOIN short USING (vec_id), q),
        |tier AS (SELECT vec_id FROM rr ORDER BY s DESC, vec_id LIMIT 10),
        |exact AS (
        |  SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id LIMIT 10),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tier) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // Graph-ANN tier (NSW family, single-layer): bucketed kNN-graph
    // build (multi-table RHP candidates — never all-pairs) + 3-round
    // beam-8 greedy traversal from FIXED entry node 1 (not the query's
    // own row — that would pre-seed the answer). The traversal's top-10
    // itself, hash-checked against the fully-unrolled SQL twin.
    Gate("search_nsw", (s, d) => {
      val e = embs(s, d)
      val g = Similarity.nswGraph(e, "embedding", "vec_id", m = 8)
      Similarity.nswSearch(g, e, "embedding", "vec_id", queryVec(s, d),
        k = 10, beam = 8, rounds = 3, entryId = 1L)
        .orderBy(col("score").desc, col("vec_id"))
    },
      // full unrolled twin: RHP candidate graph + 3-round beam-8 greedy
      (nswOracleCte() +
      "\nSELECT id AS vec_id, s AS score FROM tier ORDER BY s DESC, id")),

    // The measure-before-trusting audit for the graph tier: recall@10
    // vs exact brute force — rounds·beam·m score evaluations however
    // big the corpus is the claim, this number is whether it holds.
    // 0.2 at (m=8, beam=8, r=3): near-random embeddings navigate badly
    // — the honest base point of the curve, exactly like X138's PQ 0.2.
    Gate("search_nsw_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val g = Similarity.nswGraph(e, "embedding", "vec_id", m = 8)
      val tier = Similarity.nswSearch(g, e, "embedding", "vec_id", qv,
        k = 10, beam = 8, rounds = 3, entryId = 1L)
        .select(col("vec_id"))
      annRecall(exact, tier)
    },
      (nswOracleCte() + """,
        |exact AS (SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id
        |  LIMIT 10),
        |tids AS (SELECT id AS vec_id FROM tier),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tids USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tids) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin)),

    // The mitigation point of the same curve (the X151 discipline):
    // beam width is the lever on weakly-clustered data — (m=24,
    // beam=48, r=6) reads 0.9 where the base config reads 0.2, at
    // rounds·beam·m ≈ 7k score evaluations vs the base's 192. Probe
    // sweep in tools/ProbeNsw.scala.
    Gate("search_nsw_recall_wide", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val g = Similarity.nswGraph(e, "embedding", "vec_id", m = 24)
      val tier = Similarity.nswSearch(g, e, "embedding", "vec_id", qv,
        k = 10, beam = 48, rounds = 6, entryId = 1L)
        .select(col("vec_id"))
      annRecall(exact, tier)
    },
      // same census over the wide (m=24, beam=48, r=6) traversal
      (nswOracleCte(m = 24, beam = 48,
      nRounds = 6) + """,
        |exact AS (SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id
        |  LIMIT 10),
        |tids AS (SELECT id AS vec_id FROM tier),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tids USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tids) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin)),

    // NN-Descent refined kNN graph (Dong et al., WWW'11): a neighbor of
    // a neighbor is likely a neighbor — each round closes the UNDIRECTED
    // current graph over two hops (forward + reverse edges, the paper's
    // convergence ingredient), re-scores, keeps top-k per vector.
    // Candidates per round ≤ n·(2k)² — LINEAR in n at fixed k — so
    // descent buys back the recall the bucketed candidate stage trades
    // away without going all-pairs. Fully deterministic (shared
    // directedTopK rounding/tie rules), so the oracle replays BOTH
    // unrolled rounds exactly.
    Gate("search_knn_graph_descent", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val g0 = Similarity.knnGraphBucketed(e, "embedding", "vec_id",
        k = 8, minCosine = 0.2, planes = planes, seeds = Seq(7, 21),
        dims = 64)
      Similarity.knnGraphDescent(e, "embedding", "vec_id", g0,
        k = 8, minCosine = 0.2, rounds = 2, dims = 64)
        .orderBy(col("q"), col("b"))
    },
      // NN-Descent unrolled: bucketed directed top-8 seed graph, then two
      // rounds of (undirected two-hop closure -> re-score -> top-8), every
      // rounding/floor/tie rule identical to the engine's directedTopK
      (knnDescentOracleCtes + """
        |SELECT q, b, s FROM g2 ORDER BY q, b""".stripMargin)),

    // The descent recall LADDER in one row — bucketed seed graph vs
    // 2-round descent, each censused against the exact directed top-k
    // over the 500-smallest-id panel (exact side is panel×n — linear,
    // the audit-panel discipline; at sf0.01 the panel is the corpus).
    // recall0 → recall2 is what two linear rounds buy.
    Gate("search_knn_graph_descent_recall", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val g0 = Similarity.knnGraphBucketed(e, "embedding", "vec_id",
        k = 8, minCosine = 0.2, planes = planes, seeds = Seq(7, 21),
        dims = 64).localCheckpoint()
      val g2 = Similarity.knnGraphDescent(e, "embedding", "vec_id", g0,
        k = 8, minCosine = 0.2, rounds = 2, dims = 64)
      val panel = e.orderBy(col("vec_id")).limit(500)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val exact = Similarity.knnGraphExact(e, "embedding", "vec_id",
        panel, k = 8, minCosine = 0.2, dims = 64).localCheckpoint()
      val hit0 = g0.join(exact.select(col("q"), col("b")), Seq("q", "b"))
        .agg(count(lit(1)).as("hit0"))
      val hit2 = g2.join(exact.select(col("q"), col("b")), Seq("q", "b"))
        .agg(count(lit(1)).as("hit2"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hit0).crossJoin(hit2)
        .select(col("n_exact"), col("hit0"), col("hit2"),
          round(col("hit0").cast("double") / col("n_exact"), 6).as("recall0"),
          round(col("hit2").cast("double") / col("n_exact"), 6).as("recall2"))
    },
      // the recall ladder row: g0 and g2 censused against the exact
      // directed top-8 over the 500-smallest-id panel (panel×n — linear)
      (knnDescentOracleCtes + """,
        |samp AS MATERIALIZED (SELECT vec_id, v FROM e
        |  ORDER BY vec_id LIMIT 500),
        |exact AS MATERIALIZED (SELECT q, b FROM (
        |    SELECT sp.vec_id AS q, t.vec_id AS b,
        |      ROW_NUMBER() OVER (PARTITION BY sp.vec_id ORDER BY
        |        ROUND(list_cosine_similarity(sp.v, t.v), 6) DESC,
        |        t.vec_id) AS rn
        |    FROM samp sp JOIN e t ON sp.vec_id <> t.vec_id
        |    WHERE ROUND(list_cosine_similarity(sp.v, t.v), 6) >= 0.2)
        |  WHERE rn <= 8),
        |h0 AS (SELECT COUNT(*) AS hit0 FROM g0 JOIN exact USING (q, b)),
        |h2 AS (SELECT COUNT(*) AS hit2 FROM g2 JOIN exact USING (q, b)),
        |ne AS (SELECT COUNT(*) AS n_exact FROM exact)
        |SELECT n_exact, hit0, hit2,
        |  ROUND(CAST(hit0 AS DOUBLE) / n_exact, 6) AS recall0,
        |  ROUND(CAST(hit2 AS DOUBLE) / n_exact, 6) AS recall2
        |FROM ne, h0, h2""".stripMargin)),

    // SQ8 tier MRR audit: per query (5 of them), the rank at which the
    // tier surfaces the TRUE nearest neighbor (exact top-1, self
    // excluded) inside its top-10 — reciprocal rank is exact rational
    // (1/rank), no log-discounted gain (NDCG's log2 is the libm
    // divergence). One windowed rank per side, no per-query loop.
    Gate("search_sq8_mrr", (s, d) => {
      val e = embs(s, d)
      val (mins, maxs) = Similarity.sqCalibrate(e, "embedding")
      val deq = Similarity.sqEncode(e, "embedding", "vec_id", mins, maxs)
        .withColumn("vq", Similarity.sqDequantize(col("codes"), mins, maxs))
      val q = broadcast(Tables.embeddings(s, d).where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qv")))
      def ranked(side: DataFrame, vecCol: String) = side
        .join(q, col("vec_id") =!= col("qid"))
        .withColumn("s", round(
          VectorFunctions.cosine(col(vecCol), col("qv"), 64), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("s").desc, col("vec_id"))))
      val rel = ranked(e.select(col("vec_id"), col("embedding")), "embedding")
        .where(col("rn") === 1).select(col("qid"), col("vec_id"))
      val hit = ranked(deq.select(col("vec_id"), col("vq")), "vq")
        .where(col("rn") <= 10)
        .join(rel, Seq("qid", "vec_id"))
        .select(col("qid"), col("rn").cast("long").as("found_rank"))
      q.select(col("qid"))
        .join(hit, Seq("qid"), "left")
        .withColumn("rr", coalesce(
          round(lit(1.0) / col("found_rank"), 6), lit(0.0)))
        .orderBy(col("qid"))
    },
      // same exact-NN relevance, same dequantized tier ranking, same
      // rational reciprocal rank
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        |deq AS (
        |  SELECT vec_id, x.pos,
        |    CASE WHEN d.mx = d.mn THEN d.mn
        |         ELSE d.mn + CAST(round((x.x - d.mn) / (d.mx - d.mn) * 255) AS INT)
        |              * ((d.mx - d.mn) / 255.0) END AS xq
        |  FROM x JOIN dims d USING (pos)),
        |arr AS (SELECT vec_id, list(xq ORDER BY pos) AS vq FROM deq GROUP BY vec_id),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 4),
        |ex AS (SELECT q.qid, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC,
        |        e.vec_id) AS rn
        |  FROM e JOIN q ON e.vec_id <> q.qid),
        |rel AS (SELECT qid, vec_id FROM ex WHERE rn = 1),
        |tier AS (SELECT q.qid, arr.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.qid
        |      ORDER BY ROUND(list_cosine_similarity(arr.vq, q.qv), 6) DESC,
        |        arr.vec_id) AS rn
        |  FROM arr JOIN q ON arr.vec_id <> q.qid),
        |hit AS (SELECT t.qid, t.rn AS found_rank
        |  FROM tier t JOIN rel USING (qid, vec_id) WHERE t.rn <= 10)
        |SELECT q.qid, hit.found_rank,
        |  COALESCE(ROUND(1.0 / hit.found_rank, 6), 0.0) AS rr
        |FROM q LEFT JOIN hit USING (qid) ORDER BY q.qid""".stripMargin),

    Gate("search_sq8_recall", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val (mins, maxs) = Similarity.sqCalibrate(e, "embedding")
      val enc = Similarity.sqEncode(e, "embedding", "vec_id", mins, maxs)
      val tier = Similarity.sqSearch(enc, "vec_id", mins, maxs, qv, k = 10)
        .select(col("vec_id"))
      annRecall(exact, tier)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |dims AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY pos),
        |deq AS (
        |  SELECT vec_id, x.pos,
        |    CASE WHEN d.mx = d.mn THEN d.mn
        |         ELSE d.mn + CAST(round((x.x - d.mn) / (d.mx - d.mn) * 255) AS INT)
        |              * ((d.mx - d.mn) / 255.0) END AS xq
        |  FROM x JOIN dims d USING (pos)),
        |arr AS (SELECT vec_id, list(xq ORDER BY pos) AS vq FROM deq GROUP BY vec_id),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |tier AS (
        |  SELECT a.vec_id FROM arr a, q
        |  ORDER BY ROUND(list_cosine_similarity(a.vq, qv), 6) DESC, a.vec_id LIMIT 10),
        |exact AS (
        |  SELECT e.vec_id FROM e, q
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id LIMIT 10),
        |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
        |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
        |  (SELECT COUNT(*) FROM tier) AS n_tier,
        |  (SELECT n FROM f) AS n_found,
        |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin),

    // Mutual-kNN pairs: (a,b) kept only when each is in the OTHER's top-k
    // — the reciprocity filter that turns one-way neighbor lists into
    // high-precision near-dup/link candidates (one-way top-k is hub-
    // polluted; mutuality kills hubs by construction). Exact kNN feeds a
    // self-join on the reversed pair; at 100 TB the same filter runs over
    // the LSH/IVF candidate lists instead of the exact join.
    Gate("search_mutual_knn", (s, d) => {
      val e = embs(s, d)
      val knn = Similarity.knnJoin(e, e, "embedding", "vec_id", "vec_id",
        k = 5, dims = 64)
        .select(col("query_id"), col("base_id"), col("score"))
        .localCheckpoint()
      knn.as("a").join(knn.as("b"),
          col("a.query_id") === col("b.base_id") &&
          col("a.base_id") === col("b.query_id") &&
          col("a.query_id") < col("a.base_id"))
        .select(col("a.query_id").as("vec_a"),
          col("a.base_id").as("vec_b"), col("a.score"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, b.vec_id AS base_id,
        |    ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
        |      CAST(q.embedding AS DOUBLE[])), 6) AS score
        |  FROM embeddings b, embeddings q
        |  WHERE b.vec_id <> q.vec_id),
        |knn AS (
        |  SELECT query_id, base_id, score FROM (
        |    SELECT query_id, base_id, score,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, base_id) AS rank
        |    FROM scored) WHERE rank <= 5)
        |SELECT a.query_id AS vec_a, a.base_id AS vec_b, a.score
        |FROM knn a JOIN knn b
        |  ON a.query_id = b.base_id AND a.base_id = b.query_id
        |WHERE a.query_id < a.base_id
        |ORDER BY vec_a, vec_b""".stripMargin),

    // Filtered ANN, pre- vs post-filter — THE production vector-search
    // decision: post-filtering ranks the probed cells first and filters
    // after (cheap, but the top-k fills with rows the predicate then
    // kills), pre-filtering pushes the predicate into the candidate set
    // before ranking (full k survives, costs selectivity-dependent scan).
    // Both recalls are audited against the FILTERED brute-force truth in
    // one gate so the gap is a measured number, not folklore. Same IVF
    // tier as search_ivf_recall; the predicate is a label parity class
    // (~half the corpus). All id-list joins are ≤k-row broadcasts.
    Gate("search_prefilter_ann", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val pred = col("label") % 2 === 0
      val truth = Similarity.bruteForceTopK(e.where(pred), "embedding",
        "vec_id", qv, k = 10).select(col("vec_id"))
      val centroids = Similarity.pickCentroids(e, "embedding", "vec_id",
        numCells = 16)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", centroids)
        .localCheckpoint()
      val pre = Similarity.ivfSearch(assigned.where(pred), "embedding",
        "vec_id", centroids, qv, k = 10, nprobe = 4).select(col("vec_id"))
      val post = Similarity.ivfSearch(assigned, "embedding", "vec_id",
        centroids, qv, k = 10, nprobe = 4)
        .join(broadcast(e.select(col("vec_id"), col("label"))), "vec_id")
        .where(pred).select(col("vec_id"))
      annRecall(truth, pre).withColumn("strategy", lit("prefilter"))
        .unionByName(
          annRecall(truth, post).withColumn("strategy", lit("postfilter")))
        .select(col("strategy"), col("n_exact"), col("n_tier"),
          col("n_found"), col("recall"))
        .orderBy(col("strategy"))
    },
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |centroids AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv
        |  FROM e WHERE vec_id < 16),
        |a AS (
        |  SELECT vec_id, label, v, cell FROM (
        |    SELECT e.vec_id, e.label, e.v, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC)
        |        AS rn
        |    FROM e CROSS JOIN centroids c) WHERE rn = 1),
        |probe AS (
        |  SELECT cell FROM centroids, q
        |  ORDER BY list_cosine_similarity(cv, qv) DESC, cell LIMIT 4),
        |truth AS (
        |  SELECT e.vec_id FROM e, q WHERE label % 2 = 0
        |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id
        |  LIMIT 10),
        |pre AS (
        |  SELECT vec_id FROM a, q
        |  WHERE cell IN (SELECT cell FROM probe) AND label % 2 = 0
        |  ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
        |  LIMIT 10),
        |post AS (
        |  SELECT vec_id FROM (
        |    SELECT vec_id, label FROM a, q
        |    WHERE cell IN (SELECT cell FROM probe)
        |    ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
        |    LIMIT 10) WHERE label % 2 = 0),
        |fpre AS (SELECT COUNT(*) AS n FROM truth JOIN pre USING (vec_id)),
        |fpost AS (SELECT COUNT(*) AS n FROM truth JOIN post USING (vec_id))
        |SELECT 'prefilter' AS strategy,
        |  (SELECT COUNT(*) FROM truth) AS n_exact,
        |  (SELECT COUNT(*) FROM pre) AS n_tier,
        |  (SELECT n FROM fpre) AS n_found,
        |  ROUND(CAST((SELECT n FROM fpre) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM truth), 6) AS recall
        |UNION ALL SELECT 'postfilter',
        |  (SELECT COUNT(*) FROM truth),
        |  (SELECT COUNT(*) FROM post),
        |  (SELECT n FROM fpost),
        |  ROUND(CAST((SELECT n FROM fpost) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM truth), 6)
        |ORDER BY strategy""".stripMargin),

    // IVF recall-vs-nprobe curve — the capacity-planning table: recall@10
    // at nprobe ∈ {1,2,4,8} over the same assignment, in one gate. The
    // production question is never "what's the recall" but "how many
    // cells must I probe for the recall I need"; this emits that curve.
    // exact + assignment checkpoint at their fan-outs (4 tiers read them).
    Gate("search_ivf_nprobe_curve", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id")).localCheckpoint()
      val centroids = Similarity.pickCentroids(e, "embedding", "vec_id",
        numCells = 16)
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", centroids)
        .localCheckpoint()
      Seq(1, 2, 4, 8).map { np =>
        val tier = Similarity.ivfSearch(assigned, "embedding", "vec_id",
          centroids, qv, k = 10, nprobe = np).select(col("vec_id"))
        annRecall(exact, tier).withColumn("nprobe", lit(np))
      }.reduce(_ unionByName _)
        .select(col("nprobe"), col("n_exact"), col("n_tier"),
          col("n_found"), col("recall"))
        .orderBy(col("nprobe"))
    },
    {
      val nps = Seq(1, 2, 4, 8)
      val tiers = nps.map { np =>
        s"""tier$np AS (
           |  SELECT vec_id FROM a, q WHERE cell IN (
           |    SELECT cell FROM centroids, q
           |    ORDER BY list_cosine_similarity(cv, qv) DESC, cell LIMIT $np)
           |  ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
           |  LIMIT 10),
           |f$np AS (SELECT COUNT(*) AS n FROM exact JOIN tier$np USING (vec_id))"""
          .stripMargin
      }.mkString(",\n")
      val rows = nps.map { np =>
        s"""SELECT $np AS nprobe,
           |  (SELECT COUNT(*) FROM exact) AS n_exact,
           |  (SELECT COUNT(*) FROM tier$np) AS n_tier,
           |  (SELECT n FROM f$np) AS n_found,
           |  ROUND(CAST((SELECT n FROM f$np) AS DOUBLE)
           |    / (SELECT COUNT(*) FROM exact), 6) AS recall""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |centroids AS (
         |  SELECT CAST(vec_id AS INTEGER) AS cell, v AS cv FROM e WHERE vec_id < 16),
         |a AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell DESC) AS rn
         |    FROM e CROSS JOIN centroids c) WHERE rn = 1),
         |exact AS (
         |  SELECT e.vec_id FROM e, q
         |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id
         |  LIMIT 10),
         |$tiers
         |$rows
         |ORDER BY nprobe""".stripMargin
    }),

    // Multi-probe LSH at Hamming radius 1: probe the query's RHP bucket
    // AND its 4 single-bit-flip neighbors — 5 of 16 buckets replaces the
    // multi-table trick (X37) at one table's storage cost, the classic
    // table-count/probe-count trade. Radius-1 is the deterministic core;
    // production multiprobe orders flips by projection margin, which only
    // changes WHICH of these neighbors probe first. Candidate set
    // checkpointed (count + rank both read it); recall vs brute force.
    Gate("search_lsh_multiprobe", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
        k = 10).select(col("vec_id"))
      val base = Search.queryBucket(qv, planes = 4, seed = 7)
      val probes = base +: (0 until 4).map(p => base ^ (1L << p))
      val cands = e.withColumn("bucket",
          VectorFunctions.rhpBucket(col("embedding"), planes = 4, seed = 7,
            dims = 64))
        .where(col("bucket").isin(probes: _*))
        .localCheckpoint()
      val tier = cands
        .withColumn("score", round(
          VectorFunctions.cosine(col("embedding"), typedLit(qv), 64), 6))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
        .select(col("vec_id"))
      annRecall(exact, tier)
        .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
        .select(col("n_exact"), col("n_tier"), col("n_found"),
          col("recall"), col("n_candidates"))
    },
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      def bucket(v: String) = signs.zipWithIndex.map { case (s, p) =>
        s"(CASE WHEN list_dot_product($v, $s) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |b AS (SELECT vec_id, v, ${bucket("v")} AS bucket FROM e),
         |qb AS (SELECT ${bucket("qv")} AS qbucket FROM q),
         |probes AS (
         |  SELECT qbucket AS pb FROM qb
         |  UNION ALL SELECT xor(qbucket, 1) FROM qb
         |  UNION ALL SELECT xor(qbucket, 2) FROM qb
         |  UNION ALL SELECT xor(qbucket, 4) FROM qb
         |  UNION ALL SELECT xor(qbucket, 8) FROM qb),
         |cands AS (
         |  SELECT vec_id, v FROM b WHERE bucket IN (SELECT pb FROM probes)),
         |tier AS (
         |  SELECT vec_id FROM cands, q
         |  ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
         |  LIMIT 10),
         |exact AS (
         |  SELECT e.vec_id FROM e, q
         |  ORDER BY ROUND(list_cosine_similarity(e.v, qv), 6) DESC, e.vec_id
         |  LIMIT 10),
         |f AS (SELECT COUNT(*) AS n FROM exact JOIN tier USING (vec_id))
         |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
         |  (SELECT COUNT(*) FROM tier) AS n_tier,
         |  (SELECT n FROM f) AS n_found,
         |  ROUND(CAST((SELECT n FROM f) AS DOUBLE)
         |    / (SELECT COUNT(*) FROM exact), 6) AS recall,
         |  (SELECT COUNT(*) FROM cands) AS n_candidates""".stripMargin
    }),

    // Retrieval ranking metrics — the eval harness a search stack ships
    // with: per-query NDCG@10 / MRR / P@10 of the radius-1 multi-probe
    // LSH tier against the brute-force exact top-10 (ground truth BY
    // DEFINITION; its |Q|·N cosine cost is the eval harness, not the
    // serving path). DCG discounts 1/log2(i+1) are embedded as INTEGER
    // literal weights (floor(2^30/log2(i+1)), same constants in the
    // oracle) so no cross-engine libm call is in play; MRR in integer
    // micro-units; every metric is a ratio of exact integers.
    Gate("search_rank_metrics", (s, d) => {
      val k = 10
      val wgts = (1 to k).map(i =>
        (i, math.floor(math.pow(2.0, 30) / (math.log(i + 1.0) / math.log(2.0))).toLong))
      val idcg = wgts.map(_._2).sum // n_rel = k for every query here
      val e = embs(s, d).localCheckpoint()
      val qs = e.where(pmod(col("vec_id"), lit(61)) === 1)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = e.crossJoin(broadcast(qs))
        .withColumn("score",
          round(VectorFunctions.cosine(col("embedding"), col("qv"), 64), 6))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
        .where(col("rk") <= k)
        .select(col("qid"), col("vec_id"))
      val b = e.withColumn("bucket",
        VectorFunctions.rhpBucket(col("embedding"), planes = 4, seed = 7,
          dims = 64))
      val probes = qs
        .withColumn("qbucket",
          VectorFunctions.rhpBucket(col("qv"), planes = 4, seed = 7, dims = 64))
        .withColumn("flip",
          explode(typedLit((0L +: (0 until 4).map(p => 1L << p)).toSeq)))
        .select(col("qid"), col("qv"),
          col("qbucket").bitwiseXOR(col("flip")).as("pb"))
      val cands = b.join(broadcast(probes), col("bucket") === col("pb"))
        .select(col("qid"), col("qv"), col("vec_id"), col("embedding"))
        .localCheckpoint() // read twice: census + ranked tier
      val nc = cands.groupBy(col("qid")).agg(count(lit(1)).as("n_cands"))
      val sys = cands
        .withColumn("score",
          round(VectorFunctions.cosine(col("embedding"), col("qv"), 64), 6))
        .withColumn("srk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
        .where(col("srk") <= k)
        .select(col("qid"), col("vec_id"), col("srk"))
      val weights = s.createDataFrame(wgts).toDF("srk", "wgt")
      val j = sys
        .join(exact.withColumn("rel", lit(1)), Seq("qid", "vec_id"), "left")
        .join(broadcast(weights), "srk")
      j.groupBy(col("qid")).agg(
          sum(coalesce(col("rel"), lit(0))).cast("long").as("n_found"),
          min(when(col("rel") === 1, col("srk"))).as("fr"),
          sum(when(col("rel") === 1, col("wgt")).otherwise(0L)).cast("long")
            .as("dcgu"))
        .join(nc, "qid")
        .select(col("qid"), col("n_cands"), col("n_found"),
          round(col("n_found").cast("double") / k, 6).as("p_at_10"),
          coalesce(expr("1000000 div fr"), lit(0L)).as("mrr_micro"),
          round(col("dcgu").cast("double") / idcg.toDouble, 6).as("ndcg"))
        .orderBy(col("qid"))
    },
    {
      val signs = sqlSigns(planes = 4, dims = 64, seed = 7)
      def bucket(v: String) = signs.zipWithIndex.map { case (sg, p) =>
        s"(CASE WHEN list_dot_product($v, $sg) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n    ")
      val wgts = (1 to 10).map(i =>
        (i, math.floor(math.pow(2.0, 30) / (math.log(i + 1.0) / math.log(2.0))).toLong))
      val idcg = wgts.map(_._2).sum
      val wvals = wgts.map { case (i, w) => s"($i, ${w}::BIGINT)" }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |qs AS (SELECT vec_id AS qid, v AS qv FROM e
         |  WHERE ((vec_id % 61) + 61) % 61 = 1),
         |b AS (SELECT vec_id, v, ${bucket("v")} AS bucket FROM e),
         |qb AS (SELECT qid, qv, ${bucket("qv")} AS qbucket FROM qs),
         |probes AS (
         |  SELECT qid, qv, xor(qbucket, f) AS pb
         |  FROM qb, (SELECT unnest([0, 1, 2, 4, 8]) AS f)),
         |cands AS (
         |  SELECT p.qid, p.qv, b.vec_id, b.v
         |  FROM b JOIN probes p ON b.bucket = p.pb),
         |nc AS (SELECT qid, COUNT(*) AS n_cands FROM cands GROUP BY 1),
         |sysr AS (
         |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id)
         |    AS srk
         |  FROM cands),
         |sys AS (SELECT qid, vec_id, srk FROM sysr WHERE srk <= 10),
         |exr AS (
         |  SELECT q.qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY q.qid
         |    ORDER BY ROUND(list_cosine_similarity(e.v, q.qv), 6) DESC,
         |      e.vec_id) AS rk
         |  FROM e CROSS JOIN qs q),
         |exact AS (SELECT qid, vec_id FROM exr WHERE rk <= 10),
         |wts AS (SELECT * FROM (VALUES $wvals) AS t(srk, wgt)),
         |j AS (
         |  SELECT s.qid, s.srk, w.wgt,
         |    CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM sys s JOIN wts w USING (srk)
         |  LEFT JOIN exact x ON s.qid = x.qid AND s.vec_id = x.vec_id),
         |m AS (
         |  SELECT qid, CAST(SUM(rel) AS BIGINT) AS n_found,
         |    MIN(CASE WHEN rel = 1 THEN srk END) AS fr,
         |    CAST(SUM(CASE WHEN rel = 1 THEN wgt ELSE 0 END) AS BIGINT)
         |      AS dcgu
         |  FROM j GROUP BY 1)
         |SELECT m.qid, nc.n_cands, m.n_found,
         |  ROUND(CAST(m.n_found AS DOUBLE) / 10, 6) AS p_at_10,
         |  CAST(COALESCE(1000000 // fr, 0) AS BIGINT) AS mrr_micro,
         |  ROUND(CAST(dcgu AS DOUBLE) / $idcg, 6) AS ndcg
         |FROM m JOIN nc USING (qid) ORDER BY qid""".stripMargin
    }),

    // Johnson-Lindenstrauss distortion audit: project 64→16 dims with
    // the SAME deterministic ±1 hyperplane family the LSH tier uses,
    // and histogram |cos_full − cos_proj| over a bounded pair panel —
    // the evidence table for "how much recall does the cheap projection
    // cost". All arithmetic stays exact: components quantize to 2^20
    // integers BEFORE projecting, so every signed sum and dot product
    // is an exact integer no matter the summation order; only the final
    // cosine divides (single-rounded, identical shape both engines).
    Gate("search_jl_pairwise_audit", (s, d) => {
      val signs = VectorFunctions.hyperplaneSigns(planes = 16, dims = 64,
        seed = 11)
      val e = embs(s, d).where(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"))
      def proj(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array(signs.map(row =>
        (0 until 64).map(dd =>
          floor(element_at(v, dd + 1).cast("double") * 1048576)
            * row(dd)).reduce(_ + _).cast("long")): _*)
      val withP = e.withColumn("p", proj(col("embedding")))
        .localCheckpoint() // both sides of the pair panel read it
      val l = withP.select(col("vec_id").as("a"), col("embedding").as("va_"),
        col("p").as("pa"))
      val r = withP.select(col("vec_id").as("b"), col("embedding").as("vb_"),
        col("p").as("pb"))
      val pairs = l.crossJoin(r).where(col("a") < col("b"))
        .withColumn("cos_full",
          round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6))
        .withColumn("dot", (0 until 16).map(k =>
          element_at(col("pa"), k + 1) * element_at(col("pb"), k + 1))
          .reduce(_ + _))
        .withColumn("na", (0 until 16).map(k =>
          element_at(col("pa"), k + 1) * element_at(col("pa"), k + 1))
          .reduce(_ + _))
        .withColumn("nb", (0 until 16).map(k =>
          element_at(col("pb"), k + 1) * element_at(col("pb"), k + 1))
          .reduce(_ + _))
        .withColumn("cos_proj", round(col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))),
          6))
        .withColumn("d_micro",
          round(abs(col("cos_full") - col("cos_proj")) * 1000000, 0)
            .cast("long"))
      pairs.groupBy(expr("d_micro div 50000").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(d_micro) div count(1)").as("mean_d_micro"))
        .orderBy(col("bucket"))
    },
    {
      val signs = sqlSigns(planes = 16, dims = 64, seed = 11)
      val projs = signs.zipWithIndex.map { case (sg, k) =>
        s"CAST(list_dot_product(y, $sg) AS BIGINT) AS p$k"
      }.mkString(",\n    ")
      def dot(a: String, b: String) = (0 until 16)
        .map(k => s"$a$k * $b$k").mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> FLOOR(x * 1048576)) AS y
         |  FROM embeddings WHERE vec_id < 50),
         |pr AS (SELECT vec_id, v,
         |    $projs
         |  FROM e),
         |pairs AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |    ROUND(list_cosine_similarity(l.v, r.v), 6) AS cos_full,
         |    ${dot("l.p", "r.p")} AS dot,
         |    ${dot("l.p", "l.p")} AS na,
         |    ${dot("r.p", "r.p")} AS nb
         |  FROM pr l JOIN pr r ON l.vec_id < r.vec_id),
         |sc AS (
         |  SELECT a, b, cos_full,
         |    ROUND(CAST(dot AS DOUBLE)
         |      / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 6)
         |      AS cos_proj
         |  FROM pairs),
         |dm AS (
         |  SELECT CAST(ROUND(ABS(cos_full - cos_proj) * 1000000, 0)
         |    AS BIGINT) AS d_micro FROM sc)
         |SELECT d_micro // 50000 AS bucket, COUNT(*) AS n_pairs,
         |  CAST(SUM(d_micro) AS BIGINT) // COUNT(*) AS mean_d_micro
         |FROM dm GROUP BY 1 ORDER BY bucket""".stripMargin
    }),

    // Maximal Marginal Relevance rerank — the diversity pass serving
    // stacks run AFTER retrieval: greedily pick argmax[rel − λ·max-sim-
    // to-selected] from the top-50 candidate pool (λ=0.5). Every float
    // kernel (query relevance AND the 50×50 candidate similarity
    // matrix) is computed by the ENGINES and round-6ed before the
    // greedy loop touches it — the driver-side selection is pure
    // comparisons on a model-scale matrix, and the oracle unrolls the
    // same 10 rounds as MATERIALIZED CTEs.
    Gate("search_mmr_rerank", (s, d) => {
      val e = embs(s, d)
      val qv = queryVec(s, d)
      val cands = Similarity.bruteForceTopK(e, "embedding", "vec_id", qv,
          k = 50)
        .select(col("vec_id"), round(col("score"), 6).as("rel"))
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .localCheckpoint() // relevance list + both sides of the sim matrix
      val simRows = cands.select(col("vec_id").as("a"),
          col("embedding").as("va_"))
        .crossJoin(cands.select(col("vec_id").as("b"),
          col("embedding").as("vb_")))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"), round(VectorFunctions.cosine(
          col("va_"), col("vb_"), 64), 6).as("sim"))
        .collect()
      val sim = simRows.map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def simOf(x: Long, y: Long): Double =
        if (x == y) 1.0
        else sim.getOrElse((math.min(x, y), math.max(x, y)), 0.0)
      val rels = cands.select(col("vec_id"), col("rel")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      var selected = List.empty[Long]
      val out = scala.collection.mutable.ListBuffer.empty[(Int, Long, Double, Double)]
      for (k <- 1 to 10) {
        val (pick, score) = rels.keys.filterNot(selected.contains).toSeq
          .map { v =>
            val pen = if (selected.isEmpty) 0.0
              else selected.map(simOf(v, _)).max
            (v, rels(v) - 0.5 * pen)
          }
          .minBy { case (v, sc) => (-sc, v) }
        selected = selected :+ pick
        out += ((k, pick, rels(pick), score))
      }
      s.createDataFrame(out.toSeq)
        .toDF("round", "vec_id", "rel", "mmr_score")
        .withColumn("mmr_score", round(col("mmr_score"), 6))
        .orderBy(col("round"))
    },
    {
      val rounds = (2 to 10).map { k =>
        val sims = (1 until k).map(i =>
          s"ROUND(list_cosine_similarity(c.v, (SELECT v FROM s$i)), 6)")
        val pen = if (sims.size == 1) sims.head
          else s"GREATEST(${sims.mkString(",\n      ")})"
        val excl = (1 until k).map(i => s"SELECT vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""s$k AS MATERIALIZED (
           |  SELECT vec_id, rel, v, score FROM (
           |    SELECT c.vec_id, c.rel, c.v, c.rel - 0.5 * $pen AS score
           |    FROM cands c WHERE c.vec_id NOT IN ($excl))
           |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val rows = (1 to 10).map(k =>
        s"""SELECT $k AS round, (SELECT vec_id FROM s$k) AS vec_id,
           |  (SELECT rel FROM s$k) AS rel,
           |  (SELECT ROUND(score, 6) FROM s$k) AS mmr_score""".stripMargin)
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cands AS MATERIALIZED (
         |  SELECT vec_id, ROUND(list_cosine_similarity(v, qv), 6) AS rel, v
         |  FROM e, q
         |  ORDER BY ROUND(list_cosine_similarity(v, qv), 6) DESC, vec_id
         |  LIMIT 50),
         |s1 AS MATERIALIZED (
         |  SELECT vec_id, rel, v, rel AS score FROM cands
         |  ORDER BY rel DESC, vec_id LIMIT 1),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, vec_id, rel, mmr_score
         |FROM ($rows)
         |ORDER BY round""".stripMargin
    }),
  )
}
