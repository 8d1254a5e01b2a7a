package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics, clustering and pattern mining (`graph_*`, `cluster_*`, `mine_*`). */
private[graft] object GraphGates {
  import GateHelpers._

  /** DBSCAN-lite tail shared by `cluster_dbscan` (fixed planes) and
    * `cluster_dbscan_sized` (planesFor-sized): ε-neighbor `pairs` →
    * degree census → core = deg ≥ 3 → components over core-core edges
    * (min-id canonical) → border adopts its MINIMUM core neighbor's
    * cluster → rest noise. Every tie rule pinned so the unrolled
    * recursive oracle matches both gates. */
  private def dbscanAssign(e: DataFrame, pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("a").as("vec_id"))
      .unionAll(pairs.select(col("b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    val core = deg.where(col("deg") >= 3).select(col("vec_id"))
      .localCheckpoint()
    // core and comp (one row per core node) are bounded by the core
    // count while `pairs` is the candidate-scale relation; the
    // checkpointed node tables carry no size statistics, so every attach
    // was a sort-merge join re-shuffling the pair relation (the r13
    // graph-iterator finding, Graph.attachFor). Broadcast them when the
    // core count is under the graph operators' bound — core is already
    // materialized, so the guard count is a local read. `assigned`
    // (core ∪ border) can reach every node however small the core is, so
    // it joins by the planner's own choice.
    val att: DataFrame => DataFrame =
      if (core.count() <= operators.Graph.BroadcastStateMax) broadcast else identity
    val corePairs = pairs
      .join(att(core.select(col("vec_id").as("a"))), "a")
      .join(att(core.select(col("vec_id").as("b"))), "b")
      .select(col("a"), col("b"))
    val comp = operators.Components.connectedComponents(
      core.select(col("vec_id").as("id")), corePairs).localCheckpoint()
    val border = pairs.select(col("a").as("v"), col("b").as("u"))
      .unionAll(pairs.select(col("b").as("v"), col("a").as("u")))
      .join(att(comp.select(col("id").as("u"), col("component"))), "u")
      .join(att(core.select(col("vec_id").as("v"))), Seq("v"), "left_anti")
      .groupBy(col("v").as("vec_id"))
      .agg(min(col("component")).as("cluster"))
    val assigned = comp.select(col("id").as("vec_id"),
        lit("core").as("role"), col("component").as("cluster"))
      .unionAll(border.select(col("vec_id"), lit("border").as("role"),
        col("cluster")))
    e.select(col("vec_id")).join(assigned, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster"))
      .orderBy(col("vec_id"))
  }

  val gates: Seq[Gate] = Seq(

    // DBSCAN-lite over the embedding space: ε-neighbors = the multi-
    // table RHP candidate pairs at cosine ≥ 0.2 (bucketed, never
    // all-pairs — the X150 recall caveat applies and is the documented
    // trade), core = ≥ 3 neighbors, clusters = components over
    // core-core edges (min-id canonical), border = non-core adopting
    // its MINIMUM core neighbor's cluster, the rest noise. The
    // canonical density clusterer composed entirely from audited
    // pieces; every tie rule pinned so the unrolled oracle matches.
    // `_fixed` REGRESSION TWIN, audit-only: fixed planes=6 AND fixed
    // τ=0.2 are both quadratic over a densifying corpus (94× within-cell
    // shuffle at 10×, SCALE_NOTES r10; 12→30 edges/vector over two
    // decades, r11) — reach for the unsuffixed `cluster_dbscan`, which
    // derives both from the corpus.
    Gate("cluster_dbscan_fixed", (s, d) => {
      val e = embs(s, d)
      val pairs = Dedup.embeddingNearDupPairsMultiTable(e, "embedding",
        "vec_id", minCosine = 0.2, planes = 6, seeds = Seq(7, 21), dims = 64)
        .select(col("a"), col("b")).localCheckpoint()
      dbscanAssign(e, pairs)
    },
    // same multitable candidates + τ filter, degree census, core-core
    // recursive reach with min-id labels, min-cluster border adoption
    {
      def bucketExpr(seed: Int) = sqlSigns(planes = 6, dims = 64, seed = seed)
        .zipWithIndex.map { case (sg, p) =>
          s"(CASE WHEN list_dot_product(v, $sg) >= 0 THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n    ")
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |b1 AS (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e),
         |b2 AS (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e),
         |cand AS (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT l.vec_id AS a, r.vec_id AS b
         |    FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |    UNION ALL
         |    SELECT l.vec_id, r.vec_id
         |    FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)),
         |pairs AS (SELECT c.a, c.b FROM cand c
         |  JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
         |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.2),
         |deg AS (SELECT nv, COUNT(*) AS deg FROM (
         |    SELECT a AS nv FROM pairs UNION ALL SELECT b FROM pairs)
         |  GROUP BY 1),
         |core AS (SELECT nv FROM deg WHERE deg >= 3),
         |ce AS (SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON p.a = ca.nv JOIN core cb ON p.b = cb.nv),
         |edges AS (SELECT a AS src, b AS dst FROM ce
         |  UNION ALL SELECT b, a FROM ce),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |mins AS (SELECT src, MIN(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (SELECT c.nv AS id,
         |    LEAST(c.nv, COALESCE(m.mn, c.nv)) AS component
         |  FROM core c LEFT JOIN mins m ON c.nv = m.src),
         |border AS (SELECT n.v AS vec_id, MIN(comp.component) AS cluster
         |  FROM (SELECT a AS v, b AS u FROM pairs
         |    UNION ALL SELECT b, a FROM pairs) n
         |  JOIN comp ON n.u = comp.id
         |  WHERE n.v NOT IN (SELECT nv FROM core) GROUP BY 1),
         |assigned AS (
         |  SELECT id AS vec_id, 'core' AS role, component AS cluster FROM comp
         |  UNION ALL SELECT vec_id, 'border', cluster FROM border)
         |SELECT e.vec_id, COALESCE(a2.role, 'noise') AS role, a2.cluster
         |FROM e LEFT JOIN assigned a2 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    }),

    // Sizing twin (candidate stage only): the ε-neighbor candidate
    // stage sizes its RHP plane count from the corpus (planesFor — cells
    // grow, occupancy stays ~constant) instead of the fixed planes=6
    // whose within-cell shuffle grew 94× at 10× (SCALE_NOTES r10;
    // probe_dbscan_sized measured the cure linear). Same seeds, FIXED
    // τ=0.2, same core/border/noise tie rules — the τ-quadratic remains
    // (see the unsuffixed gate); kept as the regression twin isolating
    // the plane-sizing step. The oracle computes the identical plane
    // count from COUNT(*) and masks the 16-plane sign set down to it.
    Gate("cluster_dbscan_sized", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val pairs = Dedup.embeddingNearDupPairsMultiTable(e, "embedding",
        "vec_id", minCosine = 0.2, planes = planes, seeds = Seq(7, 21),
        dims = 64)
        .select(col("a"), col("b")).localCheckpoint()
      dbscanAssign(e, pairs)
    },
    // cluster_dbscan_fixed's oracle with the plane count computed from
    // COUNT(*) (planesFor rule, dedup_semantic's pl CTE) and both
    // seeds' 16-plane sign sets masked down to it; fixed τ=0.2
    {
      def bucketExpr(seed: Int) = sqlSigns(planes = 16, dims = 64, seed = seed)
        .zipWithIndex.map { case (sg, p) =>
          s"(CASE WHEN $p < pl.planes AND list_dot_product(v, $sg) >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n    ")
      s"""WITH RECURSIVE nc AS (SELECT COUNT(*) AS n FROM embeddings),
         |pl AS (SELECT LEAST(GREATEST(CAST(pmin AS INT), 4), 62) AS planes
         |  FROM (SELECT MIN(p) AS pmin FROM generate_series(0, 62) AS t(p), nc
         |    WHERE (CAST(1 AS BIGINT) << p) >= (n + 127) // 128)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |b1 AS (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e, pl),
         |b2 AS (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e, pl),
         |cand AS (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT l.vec_id AS a, r.vec_id AS b
         |    FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |    UNION ALL
         |    SELECT l.vec_id, r.vec_id
         |    FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)),
         |pairs AS (SELECT c.a, c.b FROM cand c
         |  JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
         |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= 0.2),
         |deg AS (SELECT nv, COUNT(*) AS deg FROM (
         |    SELECT a AS nv FROM pairs UNION ALL SELECT b FROM pairs)
         |  GROUP BY 1),
         |core AS (SELECT nv FROM deg WHERE deg >= 3),
         |ce AS (SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON p.a = ca.nv JOIN core cb ON p.b = cb.nv),
         |edges AS (SELECT a AS src, b AS dst FROM ce
         |  UNION ALL SELECT b, a FROM ce),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |mins AS (SELECT src, MIN(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (SELECT c.nv AS id,
         |    LEAST(c.nv, COALESCE(m.mn, c.nv)) AS component
         |  FROM core c LEFT JOIN mins m ON c.nv = m.src),
         |border AS (SELECT n.v AS vec_id, MIN(comp.component) AS cluster
         |  FROM (SELECT a AS v, b AS u FROM pairs
         |    UNION ALL SELECT b, a FROM pairs) n
         |  JOIN comp ON n.u = comp.id
         |  WHERE n.v NOT IN (SELECT nv FROM core) GROUP BY 1),
         |assigned AS (
         |  SELECT id AS vec_id, 'core' AS role, component AS cluster FROM comp
         |  UNION ALL SELECT vec_id, 'border', cluster FROM border)
         |SELECT e.vec_id, COALESCE(a2.role, 'noise') AS role, a2.cluster
         |FROM e LEFT JOIN assigned a2 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    }),

    // THE default DBSCAN gate (r11 VERDICT ask #1: the fully-adaptive
    // form owns the unsuffixed name; fixed planes+τ live on as
    // `cluster_dbscan_fixed`): planesFor bounds the candidate stage,
    // and tauForNeighbors bounds the ANSWER — a FIXED τ admits a
    // constant FRACTION of pairs, so the ε-graph every downstream
    // edge-linear stage walks grows as n²·P(cos ≥ τ) (measured 12/15/30
    // edges per vector across three decades at τ=0.2, SCALE_NOTES r11;
    // no candidate pruning can remove a semantics-level quadratic).
    // tauForNeighbors derives τ from the corpus as the exact order
    // statistic that keeps expected neighbors/vector ~constant; the
    // oracle computes the IDENTICAL order statistic over the same
    // deterministic 500-vector sample, so both engines derive τ — like
    // the plane count — from the data.
    // Candidate-stage knobs (SCALE_NOTES r12 A/B): target=128 with 2
    // tables is the best recall-per-candidate line (depth beats width —
    // recall ≈ T·c^planes, validated ±20%); TABLES are the recall
    // budget, and holding recall across decades costs T ∝ n^0.67 — for
    // high-recall neighbor graphs at scale, use the NSW graph-ANN tier.
    Gate("cluster_dbscan", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val tau = Dedup.tauForNeighbors(e, "embedding", "vec_id",
        targetNeighbors = 12, dims = 64)
      val pairs = Dedup.embeddingNearDupPairsMultiTable(e, "embedding",
        "vec_id", minCosine = tau, planes = planes, seeds = Seq(7, 21),
        dims = 64)
        .select(col("a"), col("b")).localCheckpoint()
      dbscanAssign(e, pairs)
    },
    // THE default dbscan oracle — cluster_dbscan_sized's with τ ALSO
    // derived in SQL: the
    // exact (1−f)-order statistic (f = 12/(n−1)) of the rounded
    // pairwise cosines over the 500 smallest-id vectors — ROW_NUMBER
    // rank equals the engine's sort-limit-max index, and rounding
    // BEFORE ranking makes ties engine-stable
    {
      def bucketExpr(seed: Int) = sqlSigns(planes = 16, dims = 64, seed = seed)
        .zipWithIndex.map { case (sg, p) =>
          s"(CASE WHEN $p < pl.planes AND list_dot_product(v, $sg) >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n    ")
      s"""WITH RECURSIVE nc AS (SELECT COUNT(*) AS n FROM embeddings),
         |pl AS (SELECT LEAST(GREATEST(CAST(pmin AS INT), 4), 62) AS planes
         |  FROM (SELECT MIN(p) AS pmin FROM generate_series(0, 62) AS t(p), nc
         |    WHERE (CAST(1 AS BIGINT) << p) >= (n + 127) // 128)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |samp AS MATERIALIZED (SELECT vec_id, v FROM e
         |  ORDER BY vec_id LIMIT 500),
         |sc AS MATERIALIZED (
         |  SELECT ROUND(list_cosine_similarity(a.v, b.v), 6) AS c
         |  FROM samp a JOIN samp b ON a.vec_id < b.vec_id),
         |tt AS (SELECT c AS tau FROM
         |    (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM sc) q
         |  WHERE rn = (SELECT CAST(LEAST(cnt - 1, FLOOR(
         |      (1.0 - LEAST(1.0, 12.0 / GREATEST(1, n - 1))) * cnt))
         |      AS BIGINT) + 1
         |    FROM (SELECT COUNT(*) AS cnt FROM sc), nc)),
         |b1 AS (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e, pl),
         |b2 AS (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e, pl),
         |cand AS (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT l.vec_id AS a, r.vec_id AS b
         |    FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         |    UNION ALL
         |    SELECT l.vec_id, r.vec_id
         |    FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)),
         |pairs AS MATERIALIZED (SELECT c.a, c.b FROM cand c
         |  JOIN e ea ON c.a = ea.vec_id JOIN e eb ON c.b = eb.vec_id
         |  WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >=
         |    (SELECT tau FROM tt)),
         |deg AS (SELECT nv, COUNT(*) AS deg FROM (
         |    SELECT a AS nv FROM pairs UNION ALL SELECT b FROM pairs)
         |  GROUP BY 1),
         |core AS (SELECT nv FROM deg WHERE deg >= 3),
         |ce AS (SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON p.a = ca.nv JOIN core cb ON p.b = cb.nv),
         |edges AS (SELECT a AS src, b AS dst FROM ce
         |  UNION ALL SELECT b, a FROM ce),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |mins AS (SELECT src, MIN(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (SELECT c.nv AS id,
         |    LEAST(c.nv, COALESCE(m.mn, c.nv)) AS component
         |  FROM core c LEFT JOIN mins m ON c.nv = m.src),
         |border AS (SELECT n.v AS vec_id, MIN(comp.component) AS cluster
         |  FROM (SELECT a AS v, b AS u FROM pairs
         |    UNION ALL SELECT b, a FROM pairs) n
         |  JOIN comp ON n.u = comp.id
         |  WHERE n.v NOT IN (SELECT nv FROM core) GROUP BY 1),
         |assigned AS (
         |  SELECT id AS vec_id, 'core' AS role, component AS cluster FROM comp
         |  UNION ALL SELECT vec_id, 'border', cluster FROM border)
         |SELECT e.vec_id, COALESCE(a2.role, 'noise') AS role, a2.cluster
         |FROM e LEFT JOIN assigned a2 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    }),

    // kNN-graph DBSCAN — the WORST-CASE-bounded sibling of the adaptive
    // default: tauForNeighbors bounds the EXPECTED ε-degree, but the
    // mutual-kNN cap bounds EVERY vector's degree at k by construction,
    // so the neighbor graph is ≤ k·n/2 edges at ANY density — what an
    // edge-linear tail (degree census, CC, border adoption) must
    // provision for at 100 TB. Exact top-k core (the oracle replays the
    // n² rank — this is the audit form, quadratic by construction);
    // the production candidate stage is the _sized twin below.
    Gate("cluster_dbscan_knn", (s, d) => {
      val e = embs(s, d)
      val pairs = Similarity.mutualKnnPairs(e, "embedding", "vec_id",
        k = 12, minCosine = 0.2, dims = 64)
        .select(col("a"), col("b")).localCheckpoint()
      dbscanAssign(e, pairs)
    },
      // exact mutual-kNN graph (n² rank — the audit form): ROW_NUMBER
      // over (rounded cosine DESC, id ASC) per query, rank ≤ 12,
      // mutual = both directed edges present, then the shared dbscan tail
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |sc AS (SELECT l.vec_id AS q, r.vec_id AS b,
        |    ROUND(list_cosine_similarity(l.v, r.v), 6) AS s
        |  FROM e l JOIN e r ON l.vec_id <> r.vec_id
        |  WHERE ROUND(list_cosine_similarity(l.v, r.v), 6) >= 0.2),
        |knn AS MATERIALIZED (SELECT q, b FROM (
        |    SELECT q, b, ROW_NUMBER() OVER (PARTITION BY q
        |      ORDER BY s DESC, b) AS rn FROM sc) WHERE rn <= 12),
        |pairs AS MATERIALIZED (SELECT k1.q AS a, k1.b
        |  FROM knn k1 JOIN knn k2 ON k1.q = k2.b AND k1.b = k2.q
        |  WHERE k1.q < k1.b),
        |deg AS (SELECT nv, COUNT(*) AS deg FROM (
        |    SELECT a AS nv FROM pairs UNION ALL SELECT b FROM pairs)
        |  GROUP BY 1),
        |core AS (SELECT nv FROM deg WHERE deg >= 3),
        |ce AS (SELECT p.a, p.b FROM pairs p
        |  JOIN core ca ON p.a = ca.nv JOIN core cb ON p.b = cb.nv),
        |edges AS (SELECT a AS src, b AS dst FROM ce
        |  UNION ALL SELECT b, a FROM ce),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
        |mins AS (SELECT src, MIN(dst) AS mn FROM reach GROUP BY 1),
        |comp AS (SELECT c.nv AS id,
        |    LEAST(c.nv, COALESCE(m.mn, c.nv)) AS component
        |  FROM core c LEFT JOIN mins m ON c.nv = m.src),
        |border AS (SELECT n.v AS vec_id, MIN(comp.component) AS cluster
        |  FROM (SELECT a AS v, b AS u FROM pairs
        |    UNION ALL SELECT b, a FROM pairs) n
        |  JOIN comp ON n.u = comp.id
        |  WHERE n.v NOT IN (SELECT nv FROM core) GROUP BY 1),
        |assigned AS (
        |  SELECT id AS vec_id, 'core' AS role, component AS cluster FROM comp
        |  UNION ALL SELECT vec_id, 'border', cluster FROM border)
        |SELECT e.vec_id, COALESCE(a2.role, 'noise') AS role, a2.cluster
        |FROM e LEFT JOIN assigned a2 USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin),

    // The scale path of the kNN-graph form: neighbor candidates from
    // the planesFor-sized multi-table RHP co-bucket join (bounded at
    // tables·n·occupancy), top-k ranked WITHIN candidates, mutual
    // filter, same tail. Fully deterministic, so the oracle replays it
    // exactly — candidates AND answer both bounded by construction;
    // tables are the recall knob (SCALE_NOTES r12 law).
    Gate("cluster_dbscan_knn_sized", (s, d) => {
      val e = embs(s, d)
      val planes = Dedup.planesFor(embsCount(s, d), targetBucketSize = 128)
      val pairs = Similarity.mutualKnnPairsBucketed(e, "embedding",
        "vec_id", k = 12, minCosine = 0.2, planes = planes,
        seeds = Seq(7, 21), dims = 64)
        .select(col("a"), col("b")).localCheckpoint()
      dbscanAssign(e, pairs)
    },
    // the sized twin's oracle: candidates from the two masked 16-plane
    // sign tables (planesFor's integer rule in the pl CTE), DIRECTED
    // co-bucket pairs, top-12 rank within candidates, mutual filter,
    // same tail
    {
      def bucketExpr(seed: Int) = sqlSigns(planes = 16, dims = 64, seed = seed)
        .zipWithIndex.map { case (sg, p) =>
          s"(CASE WHEN $p < pl.planes AND list_dot_product(v, $sg) >= 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n    ")
      s"""WITH RECURSIVE nc AS (SELECT COUNT(*) AS n FROM embeddings),
         |pl AS (SELECT LEAST(GREATEST(CAST(pmin AS INT), 4), 62) AS planes
         |  FROM (SELECT MIN(p) AS pmin FROM generate_series(0, 62) AS t(p), nc
         |    WHERE (CAST(1 AS BIGINT) << p) >= (n + 127) // 128)),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |b1 AS (SELECT vec_id, ${bucketExpr(7)} AS bucket FROM e, pl),
         |b2 AS (SELECT vec_id, ${bucketExpr(21)} AS bucket FROM e, pl),
         |cand AS MATERIALIZED (SELECT DISTINCT q, b FROM (
         |  SELECT l.vec_id AS q, r.vec_id AS b
         |  FROM b1 l JOIN b1 r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
         |  UNION ALL
         |  SELECT l.vec_id, r.vec_id
         |  FROM b2 l JOIN b2 r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id)),
         |sc AS (SELECT c.q, c.b,
         |    ROUND(list_cosine_similarity(eq.v, eb.v), 6) AS s
         |  FROM cand c JOIN e eq ON c.q = eq.vec_id
         |  JOIN e eb ON c.b = eb.vec_id
         |  WHERE ROUND(list_cosine_similarity(eq.v, eb.v), 6) >= 0.2),
         |knn AS MATERIALIZED (SELECT q, b FROM (
         |    SELECT q, b, ROW_NUMBER() OVER (PARTITION BY q
         |      ORDER BY s DESC, b) AS rn FROM sc) WHERE rn <= 12),
         |pairs AS MATERIALIZED (SELECT k1.q AS a, k1.b
         |  FROM knn k1 JOIN knn k2 ON k1.q = k2.b AND k1.b = k2.q
         |  WHERE k1.q < k1.b),
         |deg AS (SELECT nv, COUNT(*) AS deg FROM (
         |    SELECT a AS nv FROM pairs UNION ALL SELECT b FROM pairs)
         |  GROUP BY 1),
         |core AS (SELECT nv FROM deg WHERE deg >= 3),
         |ce AS (SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON p.a = ca.nv JOIN core cb ON p.b = cb.nv),
         |edges AS (SELECT a AS src, b AS dst FROM ce
         |  UNION ALL SELECT b, a FROM ce),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
         |mins AS (SELECT src, MIN(dst) AS mn FROM reach GROUP BY 1),
         |comp AS (SELECT c.nv AS id,
         |    LEAST(c.nv, COALESCE(m.mn, c.nv)) AS component
         |  FROM core c LEFT JOIN mins m ON c.nv = m.src),
         |border AS (SELECT n.v AS vec_id, MIN(comp.component) AS cluster
         |  FROM (SELECT a AS v, b AS u FROM pairs
         |    UNION ALL SELECT b, a FROM pairs) n
         |  JOIN comp ON n.u = comp.id
         |  WHERE n.v NOT IN (SELECT nv FROM core) GROUP BY 1),
         |assigned AS (
         |  SELECT id AS vec_id, 'core' AS role, component AS cluster FROM comp
         |  UNION ALL SELECT vec_id, 'border', cluster FROM border)
         |SELECT e.vec_id, COALESCE(a2.role, 'noise') AS role, a2.cluster
         |FROM e LEFT JOIN assigned a2 USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    }),

    // Market-basket association mining over order baskets: pairs meet
    // only inside a basket (self-equi-join on the order key), support
    // threshold prunes pre-metrics, and every metric is ONE division
    // over exact integer counts.
    Gate("mine_frequent_pairs", (s, d) => {
      operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy(col("a"), col("b"))
    },
      // identical basket-distinct, pair join, threshold, and single-division
      // metrics over exact integer counts
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
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

    // RELATIVE-support twin — the scale-robust threshold: "co-occurs in
    // ≥ 0.02% of baskets" keeps meaning the same thing at every corpus
    // size, where the absolute minSupport=2 above turned into a density
    // probe on the r9 soak's 10× corpus (335× qualifying pairs,
    // SCALE_NOTES). Threshold derivation (distinct-basket count →
    // GREATEST(2, CEIL(frac·nb))) is part of the oracle contract.
    Gate("mine_frequent_pairs_rel", (s, d) => {
      operators.MarketBasket.frequentPairsRelative(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupportFrac = 0.0002)
        .orderBy(col("a"), col("b"))
    },
      // same shape with the threshold DERIVED: GREATEST(2, CEIL(frac·nb))
      // over the distinct-basket count, mirroring frequentPairsRelative
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT bk) AS nb FROM bi),
        |thr AS (SELECT GREATEST(2, CEIL(0.0002 *
        |  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem))) AS t),
        |ic AS (SELECT it, COUNT(*) AS c FROM bi GROUP BY 1),
        |p AS (SELECT l.it AS a, r.it AS b, COUNT(*) AS w
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT t FROM thr))
        |SELECT a, b, CAST(w AS BIGINT) AS w,
        |  CAST(w AS DOUBLE) / nb AS support,
        |  CAST(w AS DOUBLE) / ca.c AS confidence,
        |  (CAST(w AS DOUBLE) * nb) / (ca.c * cb.c) AS lift
        |FROM p JOIN ic ca ON p.a = ca.it JOIN ic cb ON p.b = cb.it
        |  CROSS JOIN n
        |ORDER BY a, b""".stripMargin),

    // ORDER-AWARE association twin (PrefixSpan's k=2 level): a→b counts
    // only baskets where a's first line strictly precedes b's under
    // l_linenumber — sequence, not co-occurrence, so "viewed X then
    // bought Y" separates from "had both in the cart". Equal-position
    // ties are unobserved order and DROP (no fabricated tie-break);
    // threshold is the soak-vetted relative form.
    Gate("mine_seq_pairs", (s, d) => {
      operators.MarketBasket.sequentialPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", "l_linenumber",
        minSupportFrac = 0.0002)
        .orderBy(col("a"), col("b"))
    },
      // order-aware twin: position = MIN(l_linenumber) per (basket, item),
      // pairs join on strict position inequality (ties drop), same derived
      // relative threshold; confidence denominator = baskets containing
      // the antecedent at all
      """WITH bi AS (SELECT l_orderkey AS bk, l_partkey AS it,
        |    MIN(l_linenumber) AS pos FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT COUNT(DISTINCT bk) AS nb FROM bi),
        |thr AS (SELECT GREATEST(2, CEIL(0.0002 *
        |  (SELECT nb FROM n))) AS t),
        |ic AS (SELECT it, COUNT(*) AS c FROM bi GROUP BY 1),
        |p AS (SELECT l.it AS a, r.it AS b, COUNT(*) AS w
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.pos < r.pos
        |  GROUP BY 1, 2 HAVING COUNT(*) >= (SELECT t FROM thr))
        |SELECT a, b, CAST(w AS BIGINT) AS w,
        |  CAST(w AS DOUBLE) / nb AS support,
        |  CAST(w AS DOUBLE) / ca.c AS confidence
        |FROM p JOIN ic ca ON p.a = ca.it
        |  CROSS JOIN n
        |ORDER BY a, b""".stripMargin),

    // Triangle census of the frequent-co-purchase graph: degree-ordered
    // orientation bounds the wedge fan-out at O(E^1.5) regardless of
    // skew; the oracle re-counts with the naive id-ordered join (the
    // count is orientation-invariant).
    // 3-round 3-core peel of the co-purchase graph: drop degree<3 nodes
    // and re-peel — the density filter before community analysis. Fixed
    // unrolled depth keeps the plan static and the oracle expressible.
    Gate("graph_kcore", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.kCorePeel(edges, k = 3, rounds = 3)
    },
    // naive id-ordered triangle join (count is orientation-invariant);
    // wedge denominator from the degree census
    // same frequent-pair edges, three unrolled degree→filter rounds
    {
      val rounds = (0 until 3).map { r =>
        s"""d$r AS (SELECT node, COUNT(*) AS deg FROM
           |  (SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1),
           |k$r AS (SELECT node FROM d$r WHERE deg >= 3),
           |e${r + 1} AS (SELECT e.a, e.b FROM e$r e
           |  JOIN k$r ka ON e.a = ka.node JOIN k$r kb ON e.b = kb.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |e0 AS (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |$rounds
         |SELECT node, COUNT(*) AS deg FROM
         |  (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
         |GROUP BY 1 ORDER BY node""".stripMargin
    }),

    Gate("graph_triangles", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.triangleStats(edges)
    },
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |e AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT v, COUNT(*) AS d FROM
        |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT COUNT(*) AS triangles
        |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |wc AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges
        |  FROM deg)
        |SELECT triangles, wedges,
        |  CASE WHEN wedges > 0 THEN 3.0 * triangles / wedges END AS clustering
        |FROM tri, wc""".stripMargin),

    // Link prediction on the co-purchase graph: distance-2 pairs scored
    // by common-neighbor count + neighborhood Jaccard — exact integers
    // and ONE division (chosen over Adamic-Adar, whose 1/ln(deg) terms
    // inherit libm's last-ulp freedom).
    Gate("graph_link_predict", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.linkPredict(edges, minCommon = 2)
        .orderBy(col("score").desc, col("a"), col("b"))
    },
      // same wedge-group candidates, anti-joined against the edge set;
      // score is the identical single division
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |e AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS v, COUNT(*) AS d FROM adj GROUP BY 1),
        |cand AS (SELECT x.b AS a, y.b AS b, COUNT(*) AS cn
        |  FROM adj x JOIN adj y ON x.a = y.a AND x.b < y.b
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |nc AS (SELECT cand.a, cand.b, cand.cn FROM cand
        |  LEFT JOIN e ON cand.a = e.a AND cand.b = e.b WHERE e.a IS NULL)
        |SELECT nc.a, nc.b, CAST(cn AS BIGINT) AS cn,
        |  CAST(cn AS DOUBLE) / (da.d + db.d - cn) AS score
        |FROM nc JOIN deg da ON nc.a = da.v JOIN deg db ON nc.b = db.v
        |ORDER BY score DESC, nc.a, nc.b""".stripMargin),

    // Capped link prediction: wedge centers with deg > 8 excluded BEFORE
    // the self-join (the Σ deg² fan-out never materializes). Deterministic
    // semantics — cn counts only low-degree-mediated wedges, the Jaccard
    // denominator keeps TRUE degrees — so the oracle mirrors it exactly.
    // 8 sits at p99 of this graph's degrees (max 13 at sf0.01), so the
    // cap genuinely binds; production picks Graph.hubMaxFor(E) ≈ √(2E).
    Gate("graph_link_predict_capped", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.linkPredict(edges, minCommon = 2, hubMax = 8L)
        .orderBy(col("score").desc, col("a"), col("b"))
    },
      // same wedge enumeration but centers restricted to deg <= 8 before
      // the self-join; scores keep TRUE degrees — mirrors the capped
      // operator's declared semantics exactly
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |e AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS v, COUNT(*) AS d FROM adj GROUP BY 1),
        |ctr AS (SELECT adj.a, adj.b FROM adj
        |  JOIN deg ON adj.a = deg.v AND deg.d <= 8),
        |cand AS (SELECT x.b AS a, y.b AS b, COUNT(*) AS cn
        |  FROM ctr x JOIN ctr y ON x.a = y.a AND x.b < y.b
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |nc AS (SELECT cand.a, cand.b, cand.cn FROM cand
        |  LEFT JOIN e ON cand.a = e.a AND cand.b = e.b WHERE e.a IS NULL)
        |SELECT nc.a, nc.b, CAST(cn AS BIGINT) AS cn,
        |  CAST(cn AS DOUBLE) / (da.d + db.d - cn) AS score
        |FROM nc JOIN deg da ON nc.a = da.v JOIN deg db ON nc.b = db.v
        |ORDER BY score DESC, nc.a, nc.b""".stripMargin),

    // Degree-only census of what that cap drops: exact wedge mass kept vs
    // dropped, NO wedge join — the pre-flight audit a 100 TB user runs
    // before choosing hubMax (the SetSimJoin.candidateCounts pattern).
    Gate("graph_wedge_census", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      // checkpoint once: deg reads the edge lineage twice (A/B 2.2->1.3 s)
      operators.Graph.wedgeCensus(edges, hubMax = 8L)
    },
      // degree-only wedge mass census; d·(d−1)/2 is always even·odd/2 so
      // both engines' float division is exact, and the single final
      // division of two exact integers is IEEE-identical
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |e AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |deg AS (SELECT a AS v, COUNT(*) AS d FROM adj GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS centers_total,
        |  CAST(SUM(CASE WHEN d > 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS centers_dropped,
        |  CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS wedges_total,
        |  CAST(SUM(CASE WHEN d > 8 THEN d * (d - 1) / 2 ELSE 0 END)
        |    AS BIGINT) AS wedges_dropped,
        |  CAST(SUM(CASE WHEN d > 8 THEN d * (d - 1) / 2 ELSE 0 END)
        |      AS DOUBLE) / CAST(SUM(d * (d - 1) / 2) AS DOUBLE)
        |    AS dropped_frac
        |FROM deg""".stripMargin),

    // PageRank in integer fixed-point over the co-purchase graph: rank
    // carried in 10^12 units, share = r div deg, damping applied as
    // (85·inflow) div 100 — every step integer, so the 3-round unrolled
    // power iteration hash-matches DuckDB where float PageRank diverges
    // in the last ulp. The host-ranking quality signal of web-corpus
    // curation, engine-exact.
    Gate("graph_pagerank", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      // checkpoint once: the undirected union reads the frequent-pairs
      // lineage twice (interleaved A/B at sf0.1: 5.2 -> 2.6 s)
      operators.Graph.pageRank(edges, rounds = 3)
    },
    // integer fixed-point power iteration unrolled: // is DuckDB's
    // integer floor div == Spark's `div` on the non-negative ranks
    {
      val rounds = (1 to 3).map { k =>
        s"""s$k AS (SELECT e.b AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS inflow
           |  FROM e JOIN r${k - 1} p ON e.a = p.node
           |  JOIN deg d ON e.a = d.node GROUP BY 1),
           |r$k AS (SELECT d.node,
           |    150000000000 + (85 * COALESCE(s.inflow, 0)) // 100 AS r
           |  FROM deg d LEFT JOIN s$k s USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |p0 AS (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a, b FROM p0 UNION ALL SELECT b, a FROM p0),
         |deg AS (SELECT a AS node, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT node, r AS rank_units FROM r3 ORDER BY node""".stripMargin
    }),

    // k-truss peel: edges in < k−2 triangles dropped, 3 unrolled rounds
    // — the edge-support twin of graph_kcore that survives star spam
    // (a triangle-free hub is deg-huge but truss-empty).
    Gate("graph_ktruss", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.kTrussPeel(edges, k = 3, rounds = 3)
    },
    // unrolled support-count rounds; k=3 keeps edges with >= 1 triangle
    {
      // MATERIALIZED: each round reads e_{k-1} three times (adj's two
      // union arms + the support join's edge side) and adj_{k-1} twice;
      // DuckDB's default CTE inlining re-derives the whole peel prefix
      // at every reference — measured 41 s at sf0.01, ~1 s materialized
      val rounds = (1 to 3).map { k =>
        s"""adj${k - 1} AS MATERIALIZED (SELECT a AS s, b AS d FROM e${k - 1}
           |  UNION ALL SELECT b, a FROM e${k - 1}),
           |s$k AS MATERIALIZED (SELECT e.a, e.b, COUNT(*) AS sup
           |  FROM e${k - 1} e JOIN adj${k - 1} x ON x.s = e.a
           |  JOIN adj${k - 1} y ON y.s = e.b AND y.d = x.d
           |  GROUP BY 1, 2),
           |e$k AS MATERIALIZED (SELECT a, b FROM s$k WHERE sup >= 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS MATERIALIZED (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |e0 AS MATERIALIZED (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |$rounds,
         |adjf AS MATERIALIZED (SELECT a AS s, b AS d FROM e3
         |  UNION ALL SELECT b, a FROM e3)
         |SELECT e.a, e.b, COUNT(*) AS support
         |FROM e3 e JOIN adjf x ON x.s = e.a
         |JOIN adjf y ON y.s = e.b AND y.d = x.d
         |GROUP BY 1, 2 ORDER BY a, b""".stripMargin
    }),

    // TrustRank: teleport mass returns only to the vetted seed set
    // (every 50th node — a deterministic stand-in for a quality
    // whitelist), so trust decays with graph distance from the seeds —
    // the seed-and-propagate shape of web-corpus source scoring. Same
    // integer fixed-point carrier as graph_pagerank; unreachable nodes
    // hold exactly 0.
    Gate("graph_trustrank", (s, d) => {
      // same one-checkpoint rule as graph_bfs_distances: edges feed four
      // lazy branches, so cut the frequent-pairs lineage once up front
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      val nodes = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node"))).distinct()
      operators.Graph.trustRank(edges,
        nodes.where(col("node") % 50 === 0), rounds = 3)
    },
    // seed-conditional teleport + zero init; otherwise graph_pagerank's
    // integer iteration verbatim
    {
      val rounds = (1 to 3).map { k =>
        s"""s$k AS (SELECT e.b AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS inflow
           |  FROM e JOIN r${k - 1} p ON e.a = p.node
           |  JOIN deg d ON e.a = d.node GROUP BY 1),
           |r$k AS (SELECT d.node,
           |    (CASE WHEN d.node % 50 = 0 THEN 150000000000 ELSE 0 END)
           |      + (85 * COALESCE(s.inflow, 0)) // 100 AS r
           |  FROM deg d LEFT JOIN s$k s USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |p0 AS (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a, b FROM p0 UNION ALL SELECT b, a FROM p0),
         |deg AS (SELECT a AS node, COUNT(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CASE WHEN node % 50 = 0
         |    THEN CAST(1000000000000 AS BIGINT) ELSE 0 END AS r FROM deg),
         |$rounds
         |SELECT node, r AS trust_units FROM r3 ORDER BY node""".stripMargin
    }),

    // Degree assortativity in exact integer moments (one O(E) pass, one
    // final division): does this graph attach hubs to hubs (r>0) or
    // hubs to leaves (r<0)? The pre-flight that predicts whether the
    // X142 hub cap bites wedges or whole communities.
    Gate("graph_assortativity", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      // checkpoint once: undirect + two degree joins re-read the lineage
      // (A/B 2.5 -> 1.6 s)
      operators.Graph.assortativity(edges)
    },
      // integer moment sums over directed stubs, ONE final division
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |p0 AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT a, b FROM p0 UNION ALL SELECT b, a FROM p0),
        |deg AS (SELECT a AS node, COUNT(*) AS deg FROM e GROUP BY 1),
        |mo AS (SELECT COUNT(*) AS m,
        |    CAST(SUM(da.deg) AS BIGINT) AS s_x,
        |    CAST(SUM(da.deg * da.deg) AS BIGINT) AS s_xx,
        |    CAST(SUM(da.deg * db.deg) AS BIGINT) AS s_xy
        |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node)
        |SELECT m, s_x, s_xx, s_xy,
        |  ROUND(CAST(m * s_xy - s_x * s_x AS DOUBLE) /
        |    CAST(m * s_xx - s_x * s_x AS DOUBLE), 6) AS assortativity
        |FROM mo""".stripMargin),

    // Label-propagation communities, determinized: synchronous updates +
    // min-label tie-break remove LPA's run-order dependence; 3 unrolled
    // rounds. Density communities vs components' reachability classes.
    Gate("graph_label_communities", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      // checkpoint once: the undirected union reads the lineage twice
      // (A/B 3.3 -> 2.5 s)
      operators.Graph.labelCommunities(edges, rounds = 3)
    },
    // synchronous majority vote with min-label ties, unrolled
    {
      val rounds = (1 to 3).map { k =>
        s"""v$k AS (SELECT e.b AS node, l.label, COUNT(*) AS cnt
           |  FROM e JOIN l${k - 1} l ON e.a = l.node GROUP BY 1, 2),
           |l$k AS (SELECT node, label FROM (
           |  SELECT node, label, ROW_NUMBER() OVER (
           |    PARTITION BY node ORDER BY cnt DESC, label) AS rn
           |  FROM v$k) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |p0 AS (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a, b FROM p0 UNION ALL SELECT b, a FROM p0),
         |l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
         |$rounds
         |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin
    }),

    // Multi-source BFS: exact hop distance to the nearest seed (the same
    // every-50th whitelist as graph_trustrank), 3 frontier-delta rounds —
    // the distance TrustRank's decay is measuring, audited directly.
    // All-integer, so the unrolled oracle hash-matches.
    Gate("graph_bfs_distances", (s, d) => {
      // checkpoint the derived edge relation ONCE: it feeds four lazy
      // branches (both union directions + the seed derivation), and the
      // frequent-pairs self-join is the dominant cost — re-evaluating it
      // per branch quadruples the gate (measured 18s → 2s at sf0.1)
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b")).localCheckpoint()
      val nodes = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node"))).distinct()
      operators.Graph.bfsDistances(edges,
        nodes.where(col("node") % 50 === 0), rounds = 3)
    },
    // frontier-delta BFS unrolled: candidates from the previous frontier
    // only, anti-joined against the known set — all-integer hop counts
    {
      val rounds = (1 to 3).map { k =>
        s"""c$k AS (SELECT DISTINCT e.b AS node
           |  FROM e JOIN n${k - 1} f ON e.a = f.node),
           |n$k AS (SELECT c.node, CAST($k AS BIGINT) AS dist FROM c$k c
           |  WHERE c.node NOT IN (SELECT node FROM k${k - 1})),
           |k$k AS (SELECT * FROM k${k - 1} UNION ALL SELECT * FROM n$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |p0 AS (SELECT l.it AS a, r.it AS b
         |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS (SELECT a, b FROM p0 UNION ALL SELECT b, a FROM p0),
         |k0 AS (SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist
         |  FROM e WHERE a % 50 = 0),
         |n0 AS (SELECT node FROM k0),
         |$rounds
         |SELECT node, dist FROM k3 ORDER BY node""".stripMargin
    }),

    // HITS hubs/authorities over the DIRECTED buys-from bipartite graph
    // (customer → supplier via orders⋈lineitem): hub = a customer who
    // buys from authoritative suppliers, authority = a supplier bought
    // by hubby customers. Integer max-normalization (top node holds
    // exactly 10^6 units) replaces the float L2 norm, so the 2-round
    // power iteration is engine-exact.
    Gate("graph_hits", (s, d) => {
      val e = Tables.orders(s, d).join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      operators.Graph.hits(e, rounds = 2)
    },
    // integer max-normalized HITS unrolled: s' = (s_raw * 10^6) // max;
    // sums cast back to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
    {
      val rounds = (1 to 2).map { k =>
        s"""a${k}r AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS a_raw
           |  FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1),
           |a$k AS (SELECT node, (a_raw * 1000000)
           |    // (SELECT MAX(a_raw) FROM a${k}r) AS a FROM a${k}r),
           |h${k}r AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS h_raw
           |  FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1),
           |h$k AS (SELECT node, (h_raw * 1000000)
           |    // (SELECT MAX(h_raw) FROM h${k}r) AS h FROM h${k}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h
         |  FROM e),
         |$rounds
         |SELECT node, 'authority' AS side, a AS units FROM a2
         |UNION ALL SELECT node, 'hub' AS side, h AS units FROM h2
         |ORDER BY side, node""".stripMargin
    }),

    // Per-node local clustering coefficient: exact triangle credit per
    // corner + one rounded division — the node-grained spam signal (a
    // deg-huge, lcc-0 node is the bot shape) over the co-purchase graph.
    Gate("graph_local_clustering", (s, d) => {
      val edges = operators.MarketBasket.frequentPairs(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2)
        .select(col("a"), col("b"))
      operators.Graph.localClustering(edges)
    },
      // id-ordered triangle enumeration, corner explode, one division
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |e AS (SELECT l.it AS a, r.it AS b
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS (SELECT node, COUNT(*) AS deg FROM
        |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tr AS (SELECT e1.a, e1.b AS x, e2.b AS y
        |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tc AS (SELECT node, COUNT(*) AS triangles FROM (
        |  SELECT a AS node FROM tr UNION ALL SELECT x FROM tr
        |  UNION ALL SELECT y FROM tr) GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(tc.triangles, 0) AS triangles,
        |  CASE WHEN d.deg >= 2 THEN
        |    ROUND(2 * CAST(COALESCE(tc.triangles, 0) AS DOUBLE) /
        |      CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) END AS lcc
        |FROM deg d LEFT JOIN tc ON d.node = tc.node
        |ORDER BY d.node""".stripMargin),

    // Butterfly census (bipartite 4-cycles): Σ C(w,2) over co-purchase
    // pair supports — THE cohesion/spam statistic of bipartite graphs
    // (a burst of butterflies on one item pair = coordinated baskets);
    // all-integer from the one pair count the basket family already
    // shuffles, never a 4-way join.
    Gate("graph_butterflies", (s, d) => {
      val bi = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        .distinct()
        .localCheckpoint()
      bi.select(col("bk"), col("it").as("a"))
        .join(bi.select(col("bk"), col("it").as("b")), "bk")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("w") >= 2, 1L).otherwise(0L)).as("n_pairs_multi"),
          sum(expr("w * (w - 1) div 2")).as("butterflies"),
          max(col("w")).as("max_support"))
    },
      // Σ C(w,2) over the same distinct (basket, item) pair counts
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |p AS (SELECT l.it AS a, r.it AS b, COUNT(*) AS w
        |  FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |  GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_pairs,
        |  CAST(SUM(CASE WHEN w >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs_multi,
        |  CAST(SUM(w * (w - 1) // 2) AS BIGINT) AS butterflies,
        |  CAST(MAX(w) AS BIGINT) AS max_support
        |FROM p""".stripMargin),

    // Item-item collaborative filtering: cosine similarity on the
    // part co-order matrix — cooc(i,j)/√(n_i·n_j) where the pair
    // expansion is bounded by BASKET size (an order's few lineitems),
    // never the catalog — the recommender sibling of market-basket
    // lift (X129: P(j|i)/P(j); cosine is symmetric and
    // popularity-normalized on both sides). Top-20 by similarity with
    // min support, exact integers under the one sqrt.
    Gate("mine_item_cf", (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .localCheckpoint() // item counts + both pair sides read it
      val cnt = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("i"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("j")),
          "l_orderkey")
        .where(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c12"))
        .where(col("c12") >= 2)
      pairs
        .join(cnt.select(col("l_partkey").as("i"), col("n").as("ni")), "i")
        .join(cnt.select(col("l_partkey").as("j"), col("n").as("nj")), "j")
        .withColumn("cosine", round(col("c12").cast("double")
          / sqrt(col("ni").cast("double") * col("nj").cast("double")), 6))
        .select(col("i"), col("j"), col("c12"), col("ni"), col("nj"),
          col("cosine"))
        .orderBy(col("cosine").desc, col("i"), col("j")).limit(20)
    },
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |cnt AS (SELECT l_partkey, COUNT(*) AS n FROM li GROUP BY 1),
        |pairs AS (
        |  SELECT a.l_partkey AS i, b.l_partkey AS j, COUNT(*) AS c12
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.i, p.j, p.c12, ci.n AS ni, cj.n AS nj,
        |  ROUND(CAST(p.c12 AS DOUBLE)
        |    / SQRT(CAST(ci.n AS DOUBLE) * CAST(cj.n AS DOUBLE)), 6)
        |    AS cosine
        |FROM pairs p JOIN cnt ci ON p.i = ci.l_partkey
        |JOIN cnt cj ON p.j = cj.l_partkey
        |ORDER BY cosine DESC, p.i, p.j LIMIT 20""".stripMargin),
  )
}
