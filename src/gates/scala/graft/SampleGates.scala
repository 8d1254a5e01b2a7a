package graft

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling and data-mixture selection (`sample_*`). */
private[graft] object SampleGates {
  import GateHelpers._

  /** Seat budget shared by `sample_neyman_alloc`'s engine and oracle —
    * quota division and leftover-seat count must use the SAME constant. */
  private val NeymanBudget = 1000L

  val gates: Seq[Gate] = Seq(

    // Cell-stratified diversity downsampling: cap each embedding-space
    // cell at k (deterministic content-hash rank, the capPerGroup
    // discipline) — keeps coverage of every region while cutting the
    // dominant modes, the scale form of diversity/coreset selection (no
    // pairwise distances anywhere; one window shuffle by cell).
    Gate("sample_diverse_cells", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
        .select(col("vec_id"), col("cell"))
      operators.Sampling.capPerGroup(assigned, "vec_id", "cell", k = 20,
        salt = "divcell")
        .orderBy(col("vec_id"))
    },
    // cell assignment as above + the sample_cap_per_group rank discipline
    {
      val h = sqlHash64("CAST(vec_id AS VARCHAR) || '#divcell'")
      s"""WITH x AS (
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
         |r AS (
         |  SELECT vec_id, cell,
         |    ROW_NUMBER() OVER (PARTITION BY cell
         |      ORDER BY (($h % 1000000) + 1000000) % 1000000, vec_id) AS rk
         |  FROM a)
         |SELECT vec_id, cell FROM r WHERE rk <= 20
         |ORDER BY vec_id""".stripMargin
    }),

    // Split-leakage audit: minhash candidate pairs that STRADDLE the
    // hash train/val/test split — the contamination a random split
    // guarantees when near-dups aren't clustered first. Eval on a leaky
    // split measures memorization; this composition (candidate pairs ⋈
    // assignment ×2, cross-split filter) is the pre-training catch.
    Gate("sample_split_leakage", (s, d) => {
      val sig = Dedup.minhashSignature(docs(s, d), "text", "doc_id",
        numHashes = 4, shingleK = 3)
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id",
        numHashes = 4, rowsPerBand = 2)
      val sp = operators.Sampling.assignSplit(docs(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
      operators.Sampling.splitLeakage(pairs, sp, "doc_id")
        .orderBy(col("a"), col("b"))
    },
    // the minhash-bands CTE verbatim + the sample_split hash CASE,
    // joined twice and filtered to cross-split pairs
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#split'")
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
         |cp AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
         |  WHERE l.doc_id < r.doc_id),
         |sp AS (SELECT doc_id, CASE
         |  WHEN $b % 1000000 < 800000 THEN 'train'
         |  WHEN $b % 1000000 < 900000 THEN 'val'
         |  ELSE 'test' END AS split FROM documents)
         |SELECT cp.a, cp.b, sa.split AS split_a, sb.split AS split_b
         |FROM cp JOIN sp sa ON cp.a = sa.doc_id
         |JOIN sp sb ON cp.b = sb.doc_id
         |WHERE sa.split <> sb.split ORDER BY a, b""".stripMargin
    }),

    // Padding-waste audit: same hash order, two batch layouts —
    // length-blind vs length-bucketed — and the all-integer padding bill
    // Σ(B·max − Σlen) for each; the pre-flight that justifies the
    // bucketing shuffle before a tokenization run.
    Gate("sample_padding_audit", (s, d) => {
      val withLen = docs(s, d).select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      operators.Sampling.paddingAudit(withLen, "doc_id", "n_tokens",
        bucketWidth = 8, batchSize = 16)
        .orderBy(col("layout"))
    },
    // same hash order, same ⌊/16⌋ batch cuts, integer padding sums
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#batch'")
      s"""WITH tok AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS len_ FROM documents),
         |b AS (SELECT doc_id, len_, $h % 1000000 AS h_ FROM tok),
         |hb AS (SELECT len_,
         |    (ROW_NUMBER() OVER (ORDER BY h_, doc_id) - 1) // 16 AS batch_
         |  FROM b),
         |bb AS (SELECT len_,
         |    CAST(len_ // 8 AS VARCHAR) || ':' ||
         |      CAST((ROW_NUMBER() OVER (PARTITION BY len_ // 8
         |        ORDER BY h_, doc_id) - 1) // 16 AS VARCHAR) AS batch_
         |  FROM b),
         |hc AS (SELECT batch_, COUNT(*) AS n_, MAX(len_) AS mx_,
         |    CAST(SUM(len_) AS BIGINT) AS sm_ FROM hb GROUP BY 1),
         |bc AS (SELECT batch_, COUNT(*) AS n_, MAX(len_) AS mx_,
         |    CAST(SUM(len_) AS BIGINT) AS sm_ FROM bb GROUP BY 1),
         |ha AS (SELECT 'hash' AS layout, COUNT(*) AS n_batches,
         |    CAST(SUM(sm_) AS BIGINT) AS total_tokens,
         |    CAST(SUM(n_ * mx_ - sm_) AS BIGINT) AS total_padding FROM hc),
         |ba AS (SELECT 'bucketed', COUNT(*),
         |    CAST(SUM(sm_) AS BIGINT), CAST(SUM(n_ * mx_ - sm_) AS BIGINT)
         |  FROM bc),
         |u AS (SELECT * FROM ha UNION ALL SELECT * FROM ba)
         |SELECT layout, n_batches, total_tokens, total_padding,
         |  ROUND(CAST(total_padding AS DOUBLE) /
         |    CAST(total_tokens + total_padding AS DOUBLE), 6) AS padding_share
         |FROM u ORDER BY layout""".stripMargin
    }),

    // The FIX for sample_split_leakage: near-dup clusters assigned to
    // splits atomically (hash of the component canonical id), so no
    // candidate pair can straddle a boundary — zero leakage by
    // construction, spec-asserted via the audit itself.
    Gate("sample_cluster_split", (s, d) => {
      val dd = docs(s, d)
      val sig = Dedup.minhashSignature(dd, "text", "doc_id", numHashes = 4)
      val pairs = Dedup.minhashCandidatePairs(sig, "doc_id",
        numHashes = 4, rowsPerBand = 2)
      operators.Sampling.clusterSplit(dd.select(col("doc_id")), "doc_id",
        pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    },
    // the dedup_components recursive closure + the assignSplit hash CASE
    // keyed on the component canonical id
    {
      val mh = (0 until 4).map(i =>
        s"list_min(list_transform(shingles, s -> ${sqlHash64(s"'$i:' || s")})) AS mh$i")
        .mkString(",\n  ")
      val b = sqlHash64("CAST(component AS VARCHAR) || '#split'")
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
         |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (SELECT d.doc_id,
         |    least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component
         |  FROM documents d LEFT JOIN mins m ON d.doc_id = m.src)
         |SELECT doc_id, component, CASE
         |  WHEN $b % 1000000 < 800000 THEN 'train'
         |  WHEN $b % 1000000 < 900000 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM comp ORDER BY doc_id""".stripMargin
    }),

    // Token-budget mixture solver: the all-integer feasibility pass that
    // answers "how big a corpus can I build at weights (1/2, 1/4, 1/4),
    // and which source caps it" — T = min ⌊avail·den/num⌋, binding flags
    // the scarce source.
    Gate("sample_token_budget", (s, d) => {
      operators.Sampling.tokenBudgetMixture(docs(s, d), "text", "source",
        Seq(("src0", 2L, 4L), ("src1", 1L, 4L), ("src2", 1L, 4L)))
        .orderBy(col("source"))
    },
      // all-integer: rational weights, floor division, scalar min
      s"""WITH tok AS (SELECT source, ${sqlTokens("text")} AS toks FROM documents),
         |av AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS avail_tokens
         |  FROM tok GROUP BY 1),
         |w AS (SELECT * FROM (VALUES ('src0', 2, 4), ('src1', 1, 4),
         |  ('src2', 1, 4)) AS t(source, w_num, w_den)),
         |j AS (SELECT av.source, avail_tokens,
         |    CAST(w_num AS BIGINT) AS w_num, CAST(w_den AS BIGINT) AS w_den
         |  FROM av JOIN w USING (source)),
         |t AS (SELECT MIN((avail_tokens * w_den) // w_num) AS t_max FROM j)
         |SELECT j.source, j.avail_tokens, j.w_num, j.w_den,
         |  (t.t_max * j.w_num) // j.w_den AS take_tokens,
         |  (j.avail_tokens * j.w_den) // j.w_num = t.t_max AS binding
         |FROM j, t ORDER BY source""".stripMargin),

    // DSIR-style importance scores: hashed-bigram bucket distributions,
    // add-one smoothing, per-doc mean likelihood lift vs the src0 target
    // domain (linear-lift variant — log-free for bit-portability).
    Gate("sample_importance_dsir", (s, d) => {
      operators.Sampling.importanceWeights(
        docs(s, d).withColumn("is_target", col("source") === "src0"),
        "text", "doc_id", "is_target", buckets = 64)
        .orderBy(col("doc_id"))
    },
      // same bucket stats (one conditional count), same smoothed lift with
      // IEEE double products, same DECIMAL accumulation and final division
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS is_t,
         |  ${sqlTokens("lower(text)")} AS toks FROM documents),
         |bg AS (SELECT doc_id, is_t,
         |  unnest(CASE WHEN len(toks) < 2 THEN []
         |    ELSE list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])
         |    END) AS g
         |  FROM tok),
         |f AS (SELECT doc_id, is_t, ${sqlHash64("g")} % 64 AS b FROM bg),
         |st AS (SELECT b, COUNT(*) AS n_b,
         |  CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_tb
         |  FROM f GROUP BY b),
         |tt AS (SELECT CAST(SUM(n_b) AS BIGINT) AS t_all,
         |  CAST(SUM(n_tb) AS BIGINT) AS t_t FROM st),
         |lf AS (SELECT f.doc_id,
         |  ROUND((CAST(n_tb + 1 AS DOUBLE) * CAST(t_all + 64 AS DOUBLE)) /
         |        (CAST(n_b + 1 AS DOUBLE) * CAST(t_t + 64 AS DOUBLE)), 6) AS lift
         |  FROM f JOIN st USING (b), tt),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         |  SUM(CAST(lift AS DECIMAL(24,6))) AS ls FROM lf GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(agg.n_features, 0) AS n_features,
         |  CAST((CAST(agg.ls * 1000000 AS BIGINT) * 2 + agg.n_features)
         |    // (agg.n_features * 2) AS DOUBLE) / 1000000.0 AS score
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),

    // Deterministic sequence packing: docs -> fixed token-budget training
    // sequences, one window per hash group (no global sort), totals
    // bounded by budget + max doc.
    Gate("sample_pack", (s, d) => {
      val withTok = docs(s, d).withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))).cast("long"))
      operators.Sampling.packSequences(withTok, "doc_id", "n_tokens",
        budget = 256, groups = 8)
        .select(col("doc_id"), col("pack_group"), col("n_tokens"), col("seq_id"))
        .orderBy(col("doc_id"))
    },
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#pack'")
      val stride = operators.Sampling.packStride(8)
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens,
         |    (($h % 8) + 8) % 8 AS pack_group
         |  FROM documents),
         |c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_group
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_
         |  FROM t)
         |SELECT doc_id, pack_group, n_tokens,
         |  CAST(pack_group * $stride + (start_ // 256) AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    // Deterministic splits: same row → same split on every run, engine,
    // and partitioning (content-hash buckets, not RNG sampling).
    Gate("sample_split", (s, d) => {
      operators.Sampling.assignSplit(docs(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#split'")
      s"""SELECT doc_id, CASE
         |  WHEN $b % 1000000 < 800000 THEN 'train'
         |  WHEN $b % 1000000 < 900000 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Per-source cap: at most k docs per source, ranked by content hash
    // (stable, partitioning-independent) — the per-domain cap rule.
    Gate("sample_cap_per_group", (s, d) => {
      operators.Sampling.capPerGroup(docs(s, d), "doc_id", "source", k = 15)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#cap'")
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY (($h % 1000000) + 1000000) % 1000000, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rk <= 15
         |ORDER BY doc_id""".stripMargin
    }),

    // Exact-proportion stratified 80/10/10: per-language rank cuts give
    // count-exact splits (assignSplit's buckets only hold proportions in
    // expectation); the boundary compare is all-integer.
    Gate("sample_split_stratified", (s, d) => {
      operators.Sampling.assignSplitStratified(docs(s, d), "doc_id", "lang",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    },
    // same per-stratum rank and the same all-integer boundary compare
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#ssplit'")
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY (($h % 1000000) + 1000000) % 1000000, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM documents)
         |SELECT doc_id, lang, CASE
         |  WHEN rn * 1000000 <= 800000 * n THEN 'train'
         |  WHEN rn * 1000000 <= 900000 * n THEN 'val'
         |  ELSE 'test' END AS split
         |FROM r ORDER BY doc_id""".stripMargin
    }),

    // Weighted-without-replacement draw (Efraimidis-Spirakis), 50 per
    // language, weight = document length: longer docs proportionally
    // likelier, the draw deterministic from the portable content hash.
    Gate("sample_weighted", (s, d) => {
      operators.Sampling.weightedSamplePerGroup(docs(s, d), "doc_id",
        "n_chars", "lang", k = 50)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    // same dyadic u = (h+1)/2^60 and the same single pow per row; rank
    // ties break by id on both engines
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#wsample'")
      s"""WITH keyed AS (
         |  SELECT doc_id, lang, n_chars,
         |    pow(($h + 1) / pow(2, 60), 1.0 / n_chars) AS es_key
         |  FROM documents),
         |r AS (SELECT doc_id, lang, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY es_key DESC, doc_id) AS rk
         |  FROM keyed)
         |SELECT doc_id, lang, n_chars FROM r WHERE rk <= 50
         |ORDER BY doc_id""".stripMargin
    }),

    // Length-ordered curriculum phases: quantile thresholds from ONE
    // exact percentile aggregate (3 scalars to the driver), per-row
    // threshold compare — no global ntile sort. Quarter quantiles over
    // integer token counts are exact in binary on any engine.
    Gate("sample_curriculum", (s, d) => {
      val withTok = docs(s, d).withColumn("n_tokens",
        size(TextFunctions.tokens(col("text"))))
      operators.Sampling.curriculumPhases(withTok, "doc_id", "n_tokens",
        phases = 4)
        .select(col("doc_id"), col("n_tokens"), col("phase"))
        .orderBy(col("doc_id"))
    },
      // identical thresholds: quantile_cont matches Spark's exact
      // percentile at quarter fractions over integers; ties land low
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |n AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM tok),
         |t AS (SELECT ROUND(quantile_cont(n_tokens, 0.25), 6) AS t1,
         |  ROUND(quantile_cont(n_tokens, 0.50), 6) AS t2,
         |  ROUND(quantile_cont(n_tokens, 0.75), 6) AS t3 FROM n)
         |SELECT doc_id, n_tokens,
         |  1 + CAST(n_tokens > t1 AS INT) + CAST(n_tokens > t2 AS INT)
         |    + CAST(n_tokens > t3 AS INT) AS phase
         |FROM n, t ORDER BY doc_id""".stripMargin),

    // Corpus mixing: per-source keep rates (domain weighting), one scan.
    Gate("sample_mixture", (s, d) => {
      operators.Sampling.mixture(docs(s, d), "doc_id", "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#mix'")
      s"""SELECT doc_id, source
         |FROM documents
         |WHERE $b % 1000000 < (CASE source
         |  WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
         |  WHEN 'src2' THEN 250000 ELSE 100000 END)
         |ORDER BY doc_id""".stripMargin
    }),

    // Temperature rebalancing over the REAL language skew (en ≈ 3× fr in
    // the corpus): α=0.5 smooths counts toward balance without upsampling.
    // Rates are statistics-driven (per-lang count agg → integer
    // thresholds), the filter is one hash-compare scan.
    Gate("sample_temperature", (s, d) => {
      operators.Sampling.temperatureSample(docs(s, d), "doc_id", "lang",
        alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    // same formula as temperatureSample: integer thresholds
    // round((n_min/n_i)^(1-α) · 1e6) from real per-lang counts
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#temp'")
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS nmin FROM n),
         |t AS (SELECT lang,
         |  CAST(round(pow(CAST(nmin AS DOUBLE) / n, 0.5) * 1000000) AS BIGINT) AS thr
         |  FROM n, m)
         |SELECT d.doc_id, d.lang FROM documents d JOIN t USING (lang)
         |WHERE $b % 1000000 < t.thr
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Sample-estimate audit: the sketch-family measure-before-trusting
    // discipline pointed at hash sampling itself — scale-up estimates
    // (8 × a deterministic 1-in-8 md5 sample) vs exact group counts,
    // with the per-group relative error the decision rests on. The
    // "can I profile the 100 TB table from a 12 TB sample" pre-flight,
    // answered with the measured error instead of a CLT hand-wave.
    Gate("sample_estimate_audit", (s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("id_",
          concat_ws("-", col("l_orderkey"), col("l_linenumber")))
      val samp = operators.Sampling.hashSample(l, "id_", 0.125, salt = "est")
      val est = samp.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_sampled"))
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("true_rows"))
        .join(est, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), col("true_rows"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          (coalesce(col("n_sampled"), lit(0L)) * 8).as("est_rows"),
          round((coalesce(col("n_sampled"), lit(0L)) * 8 - col("true_rows"))
            .cast("double") / col("true_rows").cast("double"), 6)
            .as("rel_err"))
        .orderBy(col("l_returnflag"))
    },
    // same md5 bucket, same 1-in-8 cut, scale-up vs exact counts
    {
      val b = sqlHash64(
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)" +
          " || '#est'")
      s"""WITH l AS (SELECT l_returnflag, $b % 1000000 AS bk FROM lineitem),
         |ex AS (SELECT l_returnflag, COUNT(*) AS true_rows FROM l
         |  GROUP BY 1),
         |sm AS (SELECT l_returnflag, COUNT(*) AS n_sampled FROM l
         |  WHERE bk < 125000 GROUP BY 1)
         |SELECT ex.l_returnflag, ex.true_rows,
         |  COALESCE(sm.n_sampled, 0) AS n_sampled,
         |  COALESCE(sm.n_sampled, 0) * 8 AS est_rows,
         |  ROUND(CAST(COALESCE(sm.n_sampled, 0) * 8 - ex.true_rows
         |    AS DOUBLE) / CAST(ex.true_rows AS DOUBLE), 6) AS rel_err
         |FROM ex LEFT JOIN sm USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    }),

    // Stratified Horvitz–Thompson estimate audited: each source is
    // sampled at its OWN rate (1/2, 1/4, 1/8 — the realistic design
    // where cheap strata are sampled deep and expensive ones thin) and
    // the per-stratum inverse-probability scale-up Σ 1/π is compared
    // against the true counts the estimator never saw. The unequal-
    // probability upgrade of X225's uniform audit; per-stratum exact
    // integers (scale factors are powers of two).
    Gate("sample_ht_estimate", (s, d) => {
      val dcs = docs(s, d)
      val rate = when(col("source") === "src0", 2L)
        .when(col("source") === "src1", 4L).otherwise(8L)
      val sampled = dcs
        .withColumn("inv", rate)
        .where(operators.Sampling.hashBucket(col("doc_id"), "ht") <
          expr("1000000 div inv"))
      val est = sampled.groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("inv")).as("ht_rows"))
      dcs.groupBy(col("source")).agg(count(lit(1)).as("true_rows"))
        .join(est, Seq("source"), "left")
        .select(col("source"), col("true_rows"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("ht_rows"), lit(0L)).as("ht_rows"),
          round((coalesce(col("ht_rows"), lit(0L)) - col("true_rows"))
            .cast("double") / col("true_rows").cast("double"), 6)
            .as("rel_err"))
        .orderBy(col("source"))
    },
    // per-stratum rates, same md5 bucket, Σ 1/π vs exact counts
    {
      val b = sqlHash64("CAST(doc_id AS VARCHAR) || '#ht'")
      s"""WITH d AS (SELECT doc_id, source,
         |    CASE WHEN source = 'src0' THEN 2
         |         WHEN source = 'src1' THEN 4 ELSE 8 END AS inv,
         |    $b % 1000000 AS bk
         |  FROM documents),
         |s AS (SELECT source, COUNT(*) AS n_sampled,
         |    CAST(SUM(inv) AS BIGINT) AS ht_rows
         |  FROM d WHERE bk < 1000000 // inv GROUP BY 1),
         |t AS (SELECT source, COUNT(*) AS true_rows FROM documents
         |  GROUP BY 1)
         |SELECT t.source, t.true_rows,
         |  COALESCE(s.n_sampled, 0) AS n_sampled,
         |  COALESCE(s.ht_rows, 0) AS ht_rows,
         |  ROUND(CAST(COALESCE(s.ht_rows, 0) - t.true_rows AS DOUBLE)
         |    / CAST(t.true_rows AS DOUBLE), 6) AS rel_err
         |FROM t LEFT JOIN s USING (source) ORDER BY source""".stripMargin
    }),

    // Chao1 species-richness estimator audited: estimate a column's NDV
    // from the 1-in-8 sample ALONE (D + f1²/2f2 from the sample's
    // frequency-of-frequencies — Chao 1984), then compare against the
    // true NDV the estimator never saw. All-integer until the one
    // division; the companion to sample_estimate_audit for DISTINCTS,
    // where naive scale-up (8·D_sample) is badly biased and Chao1's
    // singleton/doubleton correction is the standard fix.
    Gate("sample_chao1_audit", (s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("id_",
          concat_ws("-", col("l_orderkey"), col("l_linenumber")))
      val freq = operators.Sampling.hashSample(l, "id_", 0.125, salt = "est")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("d_sample"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      val truth = Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("true_ndv"))
      freq.crossJoin(truth)
        .select(col("d_sample"), col("f1"), col("f2"),
          round(col("d_sample") +
            (col("f1") * col("f1")).cast("double") /
              (lit(2.0) * col("f2")), 2).as("chao1"),
          col("true_ndv"),
          round((col("d_sample") +
            (col("f1") * col("f1")).cast("double") /
              (lit(2.0) * col("f2")) - col("true_ndv")) /
            col("true_ndv").cast("double"), 6).as("rel_err"))
    },
    // same sample, frequency-of-frequencies, one double division
    {
      val b = sqlHash64(
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)" +
          " || '#est'")
      s"""WITH l AS (SELECT l_partkey, $b % 1000000 AS bk FROM lineitem),
         |s AS (SELECT l_partkey, COUNT(*) AS c FROM l
         |  WHERE bk < 125000 GROUP BY 1),
         |f AS (SELECT COUNT(*) AS d_sample,
         |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         |  FROM s),
         |t AS (SELECT COUNT(DISTINCT l_partkey) AS true_ndv FROM lineitem)
         |SELECT d_sample, f1, f2,
         |  ROUND(d_sample + CAST(f1 * f1 AS DOUBLE) / (2.0 * f2), 2)
         |    AS chao1,
         |  true_ndv,
         |  ROUND((d_sample + CAST(f1 * f1 AS DOUBLE) / (2.0 * f2)
         |    - true_ndv) / CAST(true_ndv AS DOUBLE), 6) AS rel_err
         |FROM f CROSS JOIN t""".stripMargin
    }),

    // Systematic sampling after a quality-proxy sort: every k-th doc of
    // the (n_chars, doc_id)-ordered corpus — the sorted walk IS implicit
    // stratification (the sample spans the length distribution evenly,
    // where a uniform hash sample can miss the tails at small n). Exact:
    // row_number under a total order, integer modulus. At 100 TB the
    // global sort becomes range-partitioned ids (sketch boundaries), the
    // stride stays per-partition arithmetic.
    Gate("sample_systematic", (s, d) => {
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("n_chars"), col("doc_id"))))
        .where(pmod(col("rn") - 1, lit(10)) === 0)
        .select(col("rn"), col("doc_id"), col("n_chars"))
        .orderBy(col("rn"))
    },
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS INT) AS rn
        |  FROM documents)
        |SELECT rn, doc_id, n_chars FROM r
        |WHERE (rn - 1) % 10 = 0 ORDER BY rn""".stripMargin),

    // Neyman optimal allocation for a stratified sample: n_h ∝ N_h·σ_h,
    // and with population σ_h = sqrt(SS_h)/N_h (SS_h = N·Σx² − (Σx)² the
    // exact integer scatter), the weight collapses to w_h = sqrt(SS_h) —
    // one IEEE-exact sqrt per stratum, no mean subtraction. The sqrt is
    // immediately quantized to integer micro-units (floor(w·1e6): one
    // multiply + floor of identical doubles, engine-identical), so quota
    // division and the largest-remainder seat assignment run in EXACT
    // integers — no float total whose summation order could differ.
    // The "design the 100 TB sample before paying for it" operator:
    // stats one combiner-heavy pass, allocation stratum-grain.
    Gate("sample_neyman_alloc", (s, d) => {
      val budget = NeymanBudget
      val st = Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_h"),
          sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
          sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
            .as("sxx"))
        .withColumn("w", sqrt((col("n_h").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx")).cast("double")))
        .withColumn("wq", floor(col("w") * lit(1e6)).cast("long"))
      st
        .withColumn("wtot", sum(col("wq")).over(Window.partitionBy()))
        .withColumn("base", expr(s"($budget * wq) div wtot"))
        .withColumn("rem", expr(s"($budget * wq) % wtot"))
        .withColumn("leftover", lit(budget) - sum(col("base")).over(
          Window.partitionBy()))
        .withColumn("bonus_rank", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .select(col("lang"), col("n_h"),
          round(col("w"), 6).as("neyman_weight"),
          (col("base") + when(col("bonus_rank") <= col("leftover"), 1L)
            .otherwise(0L)).as("alloc"))
        .orderBy(col("lang"))
    },
      s"""WITH st AS (
        |  SELECT lang, COUNT(*) AS n_h,
        |    CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sxx
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, n_h,
        |    SQRT(CAST(n_h * sxx - sx * sx AS DOUBLE)) AS w,
        |    CAST(FLOOR(SQRT(CAST(n_h * sxx - sx * sx AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS wq
        |  FROM st),
        |q AS (
        |  SELECT lang, n_h, w, wq,
        |    CAST(SUM(wq) OVER () AS BIGINT) AS wtot
        |  FROM w),
        |seats AS (
        |  SELECT lang, n_h, w,
        |    ($NeymanBudget * wq) // wtot AS base,
        |    ($NeymanBudget * wq) % wtot AS rem,
        |    $NeymanBudget - SUM(($NeymanBudget * wq) // wtot) OVER ()
        |      AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY ($NeymanBudget * wq) % wtot DESC,
        |      lang) AS bonus_rank
        |  FROM q)
        |SELECT lang, n_h, ROUND(w, 6) AS neyman_weight,
        |  CAST(base + CASE WHEN bonus_rank <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM seats ORDER BY lang""".stripMargin),

    // Class-balanced downsample to the minority class size — the cap is
    // DERIVED (min class count rides as a broadcast 1-row relation, no
    // driver collect), selection by the house content-hash rank so the
    // survivors are engine- and partitioning-stable. The class-imbalance
    // correction before training on labeled corpora.
    Gate("sample_balanced_classes", (s, d) => {
      operators.Sampling.balanceClasses(docs(s, d), "doc_id", "lang")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    {
      val h = sqlHash64("CAST(doc_id AS VARCHAR) || '#bal'")
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |k AS (SELECT MIN(n) AS cap FROM c),
         |r AS (
         |  SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY (($h % 1000000) + 1000000) % 1000000, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, lang FROM r, k WHERE rk <= cap
         |ORDER BY doc_id""".stripMargin
    }),

    // Poisson bootstrap CI — the distributed bootstrap (each row draws an
    // INDEPENDENT Poisson(1) replicate count per resample; no global n
    // needed, so it's one combiner-heavy agg, never a per-resample
    // shuffle of the data). Counts are a pure function of the
    // row-content hash against the Poisson(1) CDF thresholds (integer
    // literals, same in the oracle) — deterministic across engines,
    // runs, partitionings. Means in integer cents with `div`; the CI is
    // exact rank selection over the B resample means.
    Gate("sample_bootstrap_ci", (s, d) => {
      val nB = 20
      val thr = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L,
        999916L, 999989L) // cumsum of e^-1/k! in 1e-6 units, k = 0..7
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .localCheckpoint() // point estimate + the B-way fan-out both read it
      val rep = o
        .withColumn("b", explode(typedLit((0 until nB).toList)))
        .withColumn("u", pmod(HashFunctions.hash64(concat(
          col("o_orderkey").cast("string"), lit("#bs"),
          col("b").cast("string"))), lit(1000000L)))
        .withColumn("cnt",
          thr.map(t => when(col("u") >= t, 1).otherwise(0)).reduce(_ + _))
      val res = rep.groupBy(col("b")).agg(
          sum(col("cnt").cast("long") * col("cents")).as("sum_cents"),
          sum(col("cnt")).cast("long").as("n_eff"))
        .withColumn("mean_cents", expr("sum_cents div n_eff"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_cents"), col("b"))))
      o.agg(expr("sum(cents) div count(1)").as("point_mean_cents"))
        .crossJoin(res.agg(
          count(lit(1)).as("n_resamples"),
          min(when(col("rk") === 2, col("mean_cents"))).as("ci_lo_cents"),
          min(when(col("rk") === nB - 1, col("mean_cents"))).as("ci_hi_cents"),
          expr("sum(mean_cents) div count(1)").as("boot_mean_cents")))
        .select(col("point_mean_cents"), col("n_resamples"),
          col("ci_lo_cents"), col("ci_hi_cents"), col("boot_mean_cents"))
    },
    {
      val u = sqlHash64("CAST(o_orderkey AS VARCHAR) || '#bs' || CAST(b AS VARCHAR)")
      val thr = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L,
        999916L, 999989L)
      val cnt = thr.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" +\n    ")
      s"""WITH o AS (
         |  SELECT o_orderkey,
         |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         |  FROM orders),
         |rep AS (
         |  SELECT o_orderkey, cents, b,
         |    (($u % 1000000) + 1000000) % 1000000 AS u
         |  FROM o, (SELECT unnest(generate_series(0, 19)) AS b)),
         |cn AS (SELECT b, cents, $cnt AS cnt FROM rep),
         |res AS (
         |  SELECT b, CAST(SUM(CAST(cnt AS BIGINT) * cents) AS BIGINT)
         |      // CAST(SUM(cnt) AS BIGINT) AS mean_cents
         |  FROM cn GROUP BY 1),
         |rr AS (
         |  SELECT b, mean_cents,
         |    ROW_NUMBER() OVER (ORDER BY mean_cents, b) AS rk
         |  FROM res)
         |SELECT
         |  (SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) FROM o)
         |    AS point_mean_cents,
         |  COUNT(*) AS n_resamples,
         |  CAST(MIN(CASE WHEN rk = 2 THEN mean_cents END) AS BIGINT)
         |    AS ci_lo_cents,
         |  CAST(MIN(CASE WHEN rk = 19 THEN mean_cents END) AS BIGINT)
         |    AS ci_hi_cents,
         |  CAST(SUM(mean_cents) AS BIGINT) // COUNT(*) AS boot_mean_cents
         |FROM rr""".stripMargin
    }),

    // Purged temporal split — the time-series training split done right:
    // cut at the 80% point of the observed span, drop an embargo window
    // before the cut (so label horizons can't leak across the boundary),
    // and report the entity-overlap census (users seen on BOTH sides —
    // the leakage a random split would hide). All boundary arithmetic in
    // integer epoch-µs; one pass over events plus a user-grain agg.
    Gate("sample_purged_temporal_split", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"),
        expr("unix_micros(ts)").as("us"))
      val bounds = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("cut", expr("lo + ((hi - lo) * 8) div 10"))
        .withColumn("split",
          when(col("us") < col("cut") - lit(7L * 24 * 3600 * 1000000L),
            "train")
          .when(col("us") >= col("cut"), "test").otherwise("embargo"))
        .localCheckpoint() // split census + user overlap both read it
      val overlap = tagged.groupBy(col("user_id")).agg(
          max(when(col("split") === "train", 1).otherwise(0)).as("in_tr"),
          max(when(col("split") === "test", 1).otherwise(0)).as("in_te"))
        .agg(sum(col("in_tr") * col("in_te")).cast("long")
          .as("n_users_overlap"))
      tagged.agg(
          sum(when(col("split") === "train", 1).otherwise(0)).cast("long")
            .as("n_train"),
          sum(when(col("split") === "test", 1).otherwise(0)).cast("long")
            .as("n_test"),
          sum(when(col("split") === "embargo", 1).otherwise(0)).cast("long")
            .as("n_embargo"),
          max(when(col("split") === "train",
            date_format(col("ts"), "yyyy-MM-dd"))).as("train_last_day"),
          min(when(col("split") === "test",
            date_format(col("ts"), "yyyy-MM-dd"))).as("test_first_day"))
        .crossJoin(overlap)
    },
      """WITH ev AS (
        |  SELECT user_id, ts, epoch_us(ts) AS us FROM events),
        |b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
        |tagged AS (
        |  SELECT user_id, ts, CASE
        |    WHEN us < (lo + ((hi - lo) * 8) // 10) - 604800000000 THEN 'train'
        |    WHEN us >= lo + ((hi - lo) * 8) // 10 THEN 'test'
        |    ELSE 'embargo' END AS split
        |  FROM ev, b),
        |ov AS (
        |  SELECT CAST(SUM(in_tr * in_te) AS BIGINT) AS n_users_overlap
        |  FROM (SELECT user_id,
        |      MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
        |      MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
        |    FROM tagged GROUP BY 1))
        |SELECT
        |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train,
        |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_test,
        |  CAST(SUM(CASE WHEN split = 'embargo' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_embargo,
        |  MAX(CASE WHEN split = 'train' THEN strftime(ts, '%Y-%m-%d') END)
        |    AS train_last_day,
        |  MIN(CASE WHEN split = 'test' THEN strftime(ts, '%Y-%m-%d') END)
        |    AS test_first_day,
        |  (SELECT n_users_overlap FROM ov) AS n_users_overlap
        |FROM tagged""".stripMargin),

    // Corpus-wide hard-negative SAMPLER (contrast: search_hard_negatives
    // brute-forces boundary negatives for a 1% query subset): EVERY
    // anchor gets k negatives drawn from its own IVF cell (semantically
    // near region — that's what makes them hard) excluding near-dups
    // (cosine ≥ 0.95 would be a false negative), picked by content-hash
    // rank so the draw is deterministic across runs/engines/
    // partitionings. The quadratic stays within-cell — the same bound
    // every cell-based stage here rides; never corpus × corpus.
    Gate("sample_hard_negatives", (s, d) => {
      val e = embs(s, d)
      val cents = Similarity.centroidsFromLong(
        Similarity.labelCentroids(e, "embedding", "label"))
      val assigned = Similarity.ivfAssign(e, "embedding", "vec_id", cents)
        .localCheckpoint() // both sides of the within-cell join read it
      val l = assigned.select(col("cell"), col("vec_id").as("anchor"),
        col("embedding").as("va_"))
      val r = assigned.select(col("cell"), col("vec_id").as("neg"),
        col("embedding").as("vb_"))
      l.join(r, "cell").where(col("anchor") =!= col("neg"))
        .withColumn("cos",
          round(VectorFunctions.cosine(col("va_"), col("vb_"), 64), 6))
        .where(col("cos") < 0.95)
        .withColumn("rk", row_number().over(Window.partitionBy(col("anchor"))
          .orderBy(pmod(HashFunctions.hash64(concat(
            col("anchor").cast("string"), lit("#"),
            col("neg").cast("string"))), lit(1000000000L)), col("neg"))))
        .where(col("rk") <= 3)
        .select(col("anchor"), col("rk").cast("long").as("rk"), col("neg"),
          col("cos"))
        .orderBy(col("anchor"), col("rk"))
    },
    {
      val h = sqlHash64("CAST(anchor AS VARCHAR) || '#' || CAST(neg AS VARCHAR)")
      s"""WITH x AS (
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
         |p AS (
         |  SELECT l.vec_id AS anchor, r.vec_id AS neg,
         |    ROUND(list_cosine_similarity(l.v, r.v), 6) AS cos
         |  FROM a l JOIN a r ON l.cell = r.cell AND l.vec_id <> r.vec_id
         |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) < 0.95),
         |rk AS (
         |  SELECT anchor, neg, cos,
         |    ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY (($h % 1000000000) + 1000000000) % 1000000000, neg)
         |      AS rk
         |  FROM p)
         |SELECT anchor, CAST(rk AS BIGINT) AS rk, neg, cos
         |FROM rk WHERE rk <= 3 ORDER BY anchor, rk""".stripMargin
    }),

    // Greedy k-center coreset (farthest-point traversal) — the OTHER
    // diversity sampler next to cell caps (X146): 8 rounds, each picks
    // the point FARTHEST from the chosen set (deterministic round-6
    // cosine distance, vec_id tie-break), giving a 2-approximation of
    // the optimal k-center cover. Each round is ONE pass computing min-
    // distance to a ≤8-vector broadcast set — model-scale driver state,
    // corpus-scale never pairs with itself. Emits each pick's selection
    // radius: the coverage-vs-k curve a curator reads to choose k.
    Gate("sample_kcenter_coreset", (s, d) => {
      val e = embs(s, d).localCheckpoint() // 8 selection passes read it
      var chosen = List((0L, e.where(col("vec_id") === 0)
        .head().getSeq[Float](1)))
      val picks = scala.collection.mutable.ListBuffer((1, 0L, 0.0))
      for (k <- 2 to 8) {
        val dists = chosen.map { case (_, v) =>
          round(lit(1.0) - VectorFunctions.cosine(col("embedding"),
            typedLit(v), 64), 6) }
        val md = if (dists.size == 1) dists.head else least(dists: _*)
        val far = e.withColumn("md", md)
          .orderBy(col("md").desc, col("vec_id"))
          .select(col("vec_id"), col("md"), col("embedding")).head()
        chosen = chosen :+ (far.getLong(0), far.getSeq[Float](2))
        picks += ((k, far.getLong(0), far.getDouble(1)))
      }
      s.createDataFrame(picks.toSeq)
        .toDF("round", "vec_id", "radius")
        .orderBy(col("round"))
    },
    {
      val rounds = (2 to 8).map { k =>
        val terms = (1 until k).map(i =>
          s"ROUND(1.0 - list_cosine_similarity(v, (SELECT v FROM c$i)), 6)")
        val md = if (terms.size == 1) terms.head
          else s"LEAST(${terms.mkString(",\n      ")})"
        s"""c$k AS MATERIALIZED (
           |  SELECT vec_id, v, md FROM (
           |    SELECT vec_id, v, $md AS md FROM e)
           |  ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val rows = (2 to 8).map(k =>
        s"SELECT $k AS round, (SELECT vec_id FROM c$k) AS vec_id, (SELECT md FROM c$k) AS radius")
        .mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |c1 AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
         |$rounds
         |SELECT CAST(round AS INTEGER) AS round, vec_id, radius FROM (
         |  SELECT 1 AS round, CAST(0 AS BIGINT) AS vec_id, 0.0 AS radius
         |  UNION ALL $rows)
         |ORDER BY round""".stripMargin
    }),

    // Kish effective sample size — what a weighted sample is actually
    // worth: n_eff = (Σw)²/Σw² from two exact integer sums (weights =
    // per-user event counts), plus the design-effect ratio. One
    // combiner-heavy agg; the survey-statistics sanity check for every
    // weighted estimator in the X-sampling family.
    Gate("sample_kish_effective_n", (s, d) => {
      val w = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("w"))
      w.agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
          sum(col("w") * col("w")).as("sw2"))
        .select(col("n").as("n_users"), col("sw").as("sum_w"),
          expr("""round(cast(sw as double) * cast(sw as double)
            / cast(sw2 as double), 6)""").as("n_eff"),
          expr("""round(cast(sw as double) * cast(sw as double)
            / cast(sw2 as double) / n, 6)""").as("eff_ratio"))
    },
      """WITH w AS (SELECT user_id, COUNT(*) AS w FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(w) AS BIGINT) AS sw,
        |    CAST(SUM(w * w) AS BIGINT) AS sw2
        |  FROM w)
        |SELECT n AS n_users, sw AS sum_w,
        |  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / CAST(sw2 AS DOUBLE), 6) AS n_eff,
        |  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / CAST(sw2 AS DOUBLE) / n, 6) AS eff_ratio
        |FROM st""".stripMargin),

    // Sample-ratio-mismatch check — the A/B health gate run BEFORE
    // reading any metric: a 50/50 hash split whose realized counts fail
    // the 1-dof chi-square says the assignment itself is broken and
    // every downstream readout is garbage. Entirely integer:
    // chi² = (n₁−n₂)²/n in micro-units against the 3.841459 critical
    // literal.
    Gate("sample_srm_check", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(HashFunctions.hash64(concat(col("user_id").cast("string"),
          lit("#ab"))), lit(2)).as("arm"))
      ev.agg(
          sum(when(col("arm") === 0, 1).otherwise(0)).cast("long").as("n1"),
          sum(when(col("arm") === 1, 1).otherwise(0)).cast("long").as("n2"))
        .select(col("n1"), col("n2"),
          expr("(1000000 * (n1 - n2) * (n1 - n2)) div (n1 + n2)")
            .as("chi2_micro"))
        .withColumn("srm_detected", col("chi2_micro") > 3841459L)
    },
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm FROM events),
         |agg AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |  FROM ev)
         |SELECT n1, n2,
         |  CAST((1000000 * (n1 - n2) * (n1 - n2)) // (n1 + n2) AS BIGINT)
         |    AS chi2_micro,
         |  (1000000 * (n1 - n2) * (n1 - n2)) // (n1 + n2) > 3841459
         |    AS srm_detected
         |FROM agg""".stripMargin
    }),
  )
}
