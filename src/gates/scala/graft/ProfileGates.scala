package graft

import graft.functions.HashFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data profiling and sketch audits (`profile_*`). */
private[graft] object ProfileGates {
  import GateHelpers._

  val gates: Seq[Gate] = Seq(

    // ---- Data profiling (ANALYZE-style artifacts) ----

    // One-pass column profile (nulls / distinct / min / max per column):
    // single agg with one Expand for the exact distincts; stack-unpivoted
    // plan-side.
    Gate("profile_columns", (s, d) => {
      operators.Profiling.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
        .orderBy(col("column"))
    },
    {
      def one(c: String) =
        s"""SELECT '$c' AS "column", n_rows, n_rows - cnt_$c AS n_nulls,
           |  dst_$c AS n_distinct, min_$c AS min_str, max_$c AS max_str FROM a""".stripMargin
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      val aggs = cols.map(c =>
        s"""COUNT($c) AS cnt_$c, COUNT(DISTINCT $c) AS dst_$c,
           |  CAST(MIN($c) AS VARCHAR) AS min_$c, CAST(MAX($c) AS VARCHAR) AS max_$c""".stripMargin)
        .mkString(",\n  ")
      s"""WITH a AS (SELECT COUNT(*) AS n_rows, $aggs FROM lineitem)
         |${cols.map(one).mkString("\nUNION ALL\n")}
         |ORDER BY "column"""".stripMargin
    }),

    // Statistics-driven equi-width histogram of event values per type:
    // bounds from one min/max agg, binning is a per-row Column tree, the
    // only shuffle is the (type, bucket) count.
    Gate("profile_histogram", (s, d) => {
      operators.Profiling.histogram(Tables.events(s, d), "value",
        "event_type", buckets = 20)
        .orderBy(col("event_type"), col("bucket"))
    },
      // identical IEEE binning: bounds CTE, w = (hi-lo)/20, floor + least
      """WITH b AS (SELECT CAST(MIN(value) AS DOUBLE) AS lo,
        |    CAST(MAX(value) AS DOUBLE) AS hi FROM events),
        |h AS (
        |  SELECT event_type,
        |    CASE WHEN hi = lo THEN 0 ELSE
        |      CAST(LEAST(FLOOR((CAST(value AS DOUBLE) - lo) / ((hi - lo) / 20)), 19) AS INT)
        |    END AS bucket
        |  FROM events, b WHERE value IS NOT NULL)
        |SELECT event_type, bucket, COUNT(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Data-contract expectations over orders: named violation counts in
    // ONE aggregation pass (nullability, range, positivity, key
    // uniqueness), stack-unpivoted — the dbt-test / GE health artifact.
    Gate("profile_expectations", (s, d) => {
      operators.Profiling.expectations(Tables.orders(s, d),
        rules = Seq(
          "orderkey_not_null" -> col("o_orderkey").isNull,
          "totalprice_positive" -> !(col("o_totalprice") > 0),
          "orderdate_in_range" ->
            !col("o_orderdate").between(lit("1990-01-01"), lit("2010-01-01"))),
        uniqueCols = Seq("o_orderkey"))
        .orderBy(col("rule"))
    },
      // identical one-pass contract: conditional sums + count-minus-distinct
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |    CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(SUM(CASE WHEN NOT (o_orderdate BETWEEN TIMESTAMP '1990-01-01'
        |      AND TIMESTAMP '2010-01-01') THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS vu
        |  FROM orders),
        |s AS (
        |  SELECT 'orderkey_not_null' AS rule, n_rows, v0 AS n_violations FROM a
        |  UNION ALL SELECT 'totalprice_positive', n_rows, v1 FROM a
        |  UNION ALL SELECT 'orderdate_in_range', n_rows, v2 FROM a
        |  UNION ALL SELECT 'unique_o_orderkey', n_rows, vu FROM a)
        |SELECT rule, n_rows, n_violations, (n_violations = 0) AS pass
        |FROM s ORDER BY rule""".stripMargin),

    // Join-key skew report on the events fact key: feeds the
    // SkewJoin.bucketsFor / hotKeys sizing decisions.
    // Embedding covariance/correlation matrix: the whitening/PCA
    // pre-flight over all d(d+1)/2 dimension pairs — exact double
    // products, DECIMAL sums, corr from the ROUNDED covs (sqrt is IEEE
    // correctly-rounded, so corr is as portable as cov).
    Gate("profile_embedding_cov", (s, d) => {
      operators.Profiling.embeddingCovariance(embs(s, d), "embedding",
        dims = 64)
        .orderBy(col("i"), col("j"))
    },
      // same exact-double products, DECIMAL sums, corr from rounded covs
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |x AS (SELECT v, unnest(v) AS xi,
        |  CAST(generate_subscripts(v, 1) - 1 AS INT) AS i FROM e),
        |p AS (SELECT i, unnest(range(i, 64)) AS j0, xi, v FROM x),
        |ps AS (SELECT i, CAST(j0 AS INT) AS j,
        |  CAST(xi * v[CAST(j0 AS INT) + 1] AS DECIMAL(28,16)) AS prod,
        |  CAST(xi AS DECIMAL(28,16)) AS xi_d FROM p),
        |sij AS (SELECT i, j, SUM(prod) AS s_ij FROM ps GROUP BY i, j),
        |si AS (SELECT i, SUM(xi_d) AS s_ FROM ps WHERE i = j GROUP BY i),
        |cov AS (SELECT sij.i, sij.j,
        |  ROUND((CAST(s_ij AS DOUBLE)
        |    - CAST(a.s_ AS DOUBLE) * CAST(b.s_ AS DOUBLE) / n) / n, 6) + 0.0
        |    AS cov
        |  FROM sij JOIN si a ON sij.i = a.i JOIN si b ON sij.j = b.i, nn),
        |diag AS (SELECT i AS d_, cov AS var_ FROM cov WHERE i = j)
        |SELECT c.i, c.j, c.cov,
        |  CASE WHEN di.var_ > 0 AND dj.var_ > 0
        |    THEN ROUND(c.cov / sqrt(di.var_ * dj.var_), 6) + 0.0 END AS corr
        |FROM cov c JOIN diag di ON c.i = di.d_ JOIN diag dj ON c.j = dj.d_
        |ORDER BY c.i, c.j""".stripMargin),

    Gate("profile_key_skew", (s, d) => {
      operators.Profiling.keyFrequencyProfile(Tables.events(s, d), "user_id")
        .orderBy(col("rows_per_key"))
    },
      // identical two-level aggregation
      """SELECT rows_per_key, COUNT(*) AS n_keys FROM (
        |  SELECT user_id, COUNT(*) AS rows_per_key FROM events GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Count-min heavy-hitter audit: estimate vs exact per key under the
    // deterministic md5 hash family — the ORACLE-EXACT sketch (HLL++/
    // t-digest internals are engine-defined, a CMS cell is just an
    // integer sum under a pinned hash). width=64 against ~1.5k keys per
    // 0.1 SF unit makes collision overcounts real and the calibration
    // question (does width fit the cardinality?) non-trivial.
    Gate("profile_cms_audit", (s, d) => {
      operators.CountMin.audit(Tables.events(s, d), "user_id",
        depth = 4, width = 64)
        .orderBy(col("key"))
    },
    // same md5-derived hash family (seed-prefixed, the minhash-oracle
    // pattern), same pmod bucketing, min-over-rows estimate
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

    // HyperLogLog NDV audit: estimate vs exact distinct event_ids per
    // event_type under the same pinned md5 family — the ORACLE-EXACT NDV
    // sketch (engine HLL++ register semantics are implementation-defined;
    // these registers are integer max-of-rho under integer bit math).
    // event_id NDV (~2k/type at sf0.01) against m=64 registers sits in
    // the raw-HLL regime (n/m ≈ 30), where the libm-free estimate is the
    // textbook one and the skipped linear-counting correction wouldn't
    // fire; v_empty rides along so a consumer can correct off-engine.
    Gate("profile_hll_audit", (s, d) => {
      operators.HyperLogLog.audit(Tables.events(s, d), "event_id",
        "event_type")
        .orderBy(col("event_type"))
    },
      // HLL oracle: same 60-bit md5 hash, top-6-bit bucket via integer
      // div, rho from a comparison-count bitlen (no log2), max-register,
      // integer harmonic sum scaled by 2^55, ONE double division. The
      // alpha·m²·2^55 numerator is built by exact power-of-two scaling of
      // the 0.709 literal on both sides, so association can't matter.
      hllAuditSql),

    // KMV NDV audit — the set-operation-capable member of the pinned-md5
    // sketch family: the k smallest distinct hashes per group are an
    // ORDER STATISTIC (merge-order-immune, unlike MG counts), so the
    // oracle replays the sketch itself bit-for-bit with a row_number
    // window — not just its guarantee.
    Gate("profile_kmv_audit", (s, d) => {
      operators.Kmv.audit(Tables.events(s, d), "user_id", "event_type",
        k = 64)
        .orderBy(col("event_type"))
    },
      // KMV replayed exactly: the sketch is the k=64 smallest distinct
      // md5-top-60-bit hashes per group (an order statistic — a window
      // reproduces it); est = 63·2^60 / h_(64), one int→double conversion
      // and one division. Shared with stream_kmv_audit: the
      // distinct-union-take-k fold is exact, so the fold's oracle IS the
      // batch oracle.
      kmvAuditSql),

    // KMV set-operation audit: |BUILDING customers ∩ urgent-order
    // customers| estimated from two mergeable 64-long sketches vs the
    // exact distinct join — "how many keys did BOTH things" over 100 TB
    // without a distinct-join (the sketch side is the product; the
    // exact side is the audit and only runs at audit scale).
    Gate("profile_kmv_intersect", (s, d) => {
      val cust = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"), lit("cust").as("grp"))
      val ords = Tables.orders(s, d)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("key"), lit("ord").as("grp"))
      operators.Kmv.intersectAudit(cust.unionByName(ords), "key", "grp",
        "cust", "ord", k = 64)
    },
      // two sketches merged: union sketch = 64 smallest of the merged
      // hash sets; jaccard = matches/|union sketch| over exact integers;
      // intersection estimate = (raw ratio) × (rounded union NDV) — the
      // same two-float-op chain as the engine
      s"""WITH a AS (SELECT DISTINCT c_custkey AS key FROM customer
         |  WHERE c_mktsegment = 'BUILDING'),
         |b AS (SELECT DISTINCT o_custkey AS key FROM orders
         |  WHERE o_orderpriority = '1-URGENT'),
         |ha AS (SELECT DISTINCT ${sqlHash64("CAST(key AS VARCHAR)")} AS h
         |  FROM a),
         |hb AS (SELECT DISTINCT ${sqlHash64("CAST(key AS VARCHAR)")} AS h
         |  FROM b),
         |ka AS (SELECT h FROM (SELECT h,
         |    ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha) WHERE rn <= 64),
         |kb AS (SELECT h FROM (SELECT h,
         |    ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb) WHERE rn <= 64),
         |ku AS (SELECT h FROM (SELECT h,
         |    ROW_NUMBER() OVER (ORDER BY h) AS rn
         |  FROM (SELECT h FROM ka UNION SELECT h FROM kb)) WHERE rn <= 64),
         |m AS (SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ka) AS na_held,
         |    (SELECT MAX(h) FROM ka) AS ha_k,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM kb) AS nb_held,
         |    (SELECT MAX(h) FROM kb) AS hb_k,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ku) AS ku_n,
         |    (SELECT MAX(h) FROM ku) AS hu_k,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ku
         |      WHERE h IN (SELECT h FROM ka)
         |        AND h IN (SELECT h FROM kb)) AS matches),
         |est AS (SELECT
         |    CASE WHEN na_held < 64 THEN CAST(na_held AS DOUBLE)
         |      ELSE ROUND(63 * CAST(1152921504606846976 AS DOUBLE)
         |        / CAST(ha_k AS DOUBLE), 4) END AS est_a,
         |    CASE WHEN nb_held < 64 THEN CAST(nb_held AS DOUBLE)
         |      ELSE ROUND(63 * CAST(1152921504606846976 AS DOUBLE)
         |        / CAST(hb_k AS DOUBLE), 4) END AS est_b,
         |    CASE WHEN ku_n < 64 THEN CAST(ku_n AS DOUBLE)
         |      ELSE ROUND(63 * CAST(1152921504606846976 AS DOUBLE)
         |        / CAST(hu_k AS DOUBLE), 4) END AS est_union,
         |    matches, ku_n FROM m)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
         |    (SELECT key FROM a UNION SELECT key FROM b)) AS n_union,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM a
         |    WHERE key IN (SELECT key FROM b)) AS n_inter,
         |  est_a, est_b, est_union,
         |  ROUND(CAST(matches AS DOUBLE) / CAST(ku_n AS DOUBLE), 4)
         |    AS jaccard_est,
         |  ROUND((CAST(matches AS DOUBLE) / CAST(ku_n AS DOUBLE))
         |    * est_union, 4) AS est_inter
         |FROM est""".stripMargin),

    // Misra-Gries guarantee audit — order-independent facts only (MG
    // counts are merge-order-dependent; its GUARANTEE is not): every
    // item with true frequency > n/(k+1) must sit in the k-counter
    // summary with its estimate in the error band. k=2 over the uniform
    // 3-way l_returnflag split puts the threshold AT the split point,
    // so which flags qualify flips with the data — discriminating, not
    // a tautology (at sf0.01 A and R clear it, N misses by 74).
    Gate("profile_mg_audit", (s, d) => {
      operators.MisraGries.audit(Tables.lineitem(s, d), "l_returnflag",
        k = 2)
        .orderBy(col("item"))
    },
      // MG guarantee audit: the oracle computes the exact frequent set and
      // asserts the theorem-forced booleans — present and est-in-band are
      // TRUE whenever the sketch honors the Misra-Gries contract (counts
      // themselves are merge-order-dependent and deliberately not emitted)
      """WITH ex AS (SELECT CAST(l_returnflag AS VARCHAR) AS item,
        |    COUNT(*) AS true_cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(true_cnt) AS BIGINT) AS n FROM ex)
        |SELECT item, true_cnt,
        |  CAST((SELECT n FROM t) // 3 AS BIGINT) AS thr,
        |  TRUE AS present, TRUE AS est_in_band
        |FROM ex WHERE true_cnt > (SELECT n FROM t) // 3
        |ORDER BY item""".stripMargin),

    // Calibration/reliability table: is a score an honest probability —
    // the pre-flight before trusting a model score as a sampling weight
    // or filter threshold (the importance-sampling and quality-filter
    // consumers assume calibrated scores; this measures the assumption).
    // Integer micro-unit normalization and binning, exact BIGINT/DECIMAL
    // aggregates, ONE float division per output cell.
    Gate("profile_calibration", (s, d) => {
      val ev = Tables.events(s, d).select(
        round(col("value") * 1000000, 0).cast("long").as("sm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      operators.Profiling.calibrationTable(ev, "sm", "y", bins = 10)
    },
      // micro-unit min-max normalization and equal-width binning in
      // integer division; per-bin sums exact; one float division per cell
      """WITH s AS (SELECT
        |    CAST(ROUND(value * 1000000, 0) AS BIGINT) AS sm,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |mm AS (SELECT MIN(sm) AS lo, MAX(sm) AS hi FROM s),
        |p AS (SELECT (1000000 * (sm - lo)) // (hi - lo) AS p, y
        |  FROM s, mm WHERE hi > lo),
        |b AS (SELECT LEAST((10 * p) // 1000000, 9) AS bin, p, y FROM p)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(p) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6) AS mean_pred,
        |  ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS obs_rate,
        |  ROUND(CAST(SUM((p - 1000000 * y) * (p - 1000000 * y)) AS DOUBLE)
        |    / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6) AS brier
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // k-anonymity audit on (lang, source, length-bucket) quasi-identifier
    // classes: classes under k=5 re-identify members by metadata alone —
    // the privacy pre-flight before a corpus release, dual of the PII
    // redaction pass (that one strips direct identifiers, this measures
    // the indirect ones). One combiner-heavy groupBy; class counts, not
    // rows, leave the executors.
    Gate("profile_k_anonymity", (s, d) => {
      operators.Profiling.kAnonymityAudit(
        docs(s, d).withColumn("len_bucket", expr("n_chars div 100")),
        Seq("lang", "source", "len_bucket"), k = 5)
        .orderBy(col("lang"), col("source"), col("len_bucket"))
    },
      // plain class-size census with the at-risk flag computed identically
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  COUNT(*) AS class_size, COUNT(*) < 5 AS at_risk
        |FROM documents GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin),

    // FD discovery (TANE-lite): violation mass per candidate X → Y —
    // the key/denormalization pre-flight on an undocumented dump;
    // event_id→user_id holds (key), the two behavioral pairs do not.
    Gate("profile_fd_discovery", (s, d) => {
      operators.Profiling.fdViolations(Tables.events(s, d), Seq(
        ("event_id", "user_id"),
        ("user_id", "event_type"),
        ("event_type", "user_id")))
        .orderBy(col("determinant"), col("dependent"))
    },
      // one (x,y) distinct + count per pair; zero violations == FD holds
      """WITH p1 AS (SELECT 'event_id' AS determinant, 'user_id' AS dependent,
        |    COUNT(*) AS n_groups,
        |    CAST(SUM(ndv - 1) AS BIGINT) AS n_violations
        |  FROM (SELECT event_id, COUNT(DISTINCT user_id) AS ndv
        |    FROM events GROUP BY 1)),
        |p2 AS (SELECT 'user_id', 'event_type', COUNT(*),
        |    CAST(SUM(ndv - 1) AS BIGINT)
        |  FROM (SELECT user_id, COUNT(DISTINCT event_type) AS ndv
        |    FROM events GROUP BY 1)),
        |p3 AS (SELECT 'event_type', 'user_id', COUNT(*),
        |    CAST(SUM(ndv - 1) AS BIGINT)
        |  FROM (SELECT event_type, COUNT(DISTINCT user_id) AS ndv
        |    FROM events GROUP BY 1)),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
        |  UNION ALL SELECT * FROM p3)
        |SELECT determinant, dependent, n_groups, n_violations,
        |  n_violations = 0 AS holds
        |FROM u ORDER BY determinant, dependent""".stripMargin),

    // Monotonicity audit: descent counts in arrival (event_id) order —
    // "is this feed already time-sorted" measured, the free-sortedness
    // check merge/as-of strategies and min/max pruning depend on.
    Gate("profile_monotonicity", (s, d) => {
      operators.Profiling.monotonicityAudit(Tables.events(s, d),
        "event_id", Seq("ts", "user_id"))
        .orderBy(col("value_col"))
    },
      // same lag windows, integer descent counts
      """WITH w1 AS (SELECT ts AS v, LAG(ts) OVER (ORDER BY event_id) AS p
        |  FROM events),
        |a1 AS (SELECT 'ts' AS value_col, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN p > v THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_descents FROM w1),
        |w2 AS (SELECT user_id AS v, LAG(user_id) OVER (ORDER BY event_id) AS p
        |  FROM events),
        |a2 AS (SELECT 'user_id', COUNT(*),
        |  CAST(SUM(CASE WHEN p > v THEN 1 ELSE 0 END) AS BIGINT) FROM w2),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
        |SELECT value_col, n_rows, n_descents, n_descents = 0 AS sorted
        |FROM u ORDER BY value_col""".stripMargin),

    // UCC discovery — candidate keys: distinct == rows; the almost-key
    // duplicate mass is the number that explains every "my join
    // doubled the rows" incident.
    Gate("profile_key_discovery", (s, d) => {
      operators.Profiling.keyDiscovery(Tables.lineitem(s, d), Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")))
        .orderBy(col("candidate"))
    },
      // distinct-vs-rows per combo
      """WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem),
        |c1 AS (SELECT 'l_orderkey' AS candidate, n_rows,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem))
        |    AS n_distinct FROM n),
        |c2 AS (SELECT 'l_orderkey,l_linenumber', n_rows,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber
        |    FROM lineitem)) FROM n),
        |c3 AS (SELECT 'l_orderkey,l_partkey,l_suppkey', n_rows,
        |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_partkey,
        |    l_suppkey FROM lineitem)) FROM n),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |  UNION ALL SELECT * FROM c3)
        |SELECT candidate, n_rows, n_distinct,
        |  n_rows = n_distinct AS is_key
        |FROM u ORDER BY candidate""".stripMargin),

    // Benford first-digit audit on order totals: observed shares vs the
    // hardcoded log10(1+1/d) literals — engine-exact forensics (no
    // runtime libm; first digit via the INTEGER part's string).
    Gate("profile_benford", (s, d) => {
      operators.Profiling.benfordAudit(Tables.orders(s, d), "o_totalprice")
        .orderBy(col("digit"))
    },
      // same integer-part first digit, same literal expectations
      """WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(ABS(o_totalprice))
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE ABS(o_totalprice) >= 1),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g),
        |e(digit, expected) AS (VALUES (1, 0.30103), (2, 0.176091),
        |  (3, 0.124939), (4, 0.09691), (5, 0.079181), (6, 0.066947),
        |  (7, 0.057992), (8, 0.051153), (9, 0.045757))
        |SELECT g.digit, g.n,
        |  ROUND(CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share,
        |  CAST(e.expected AS DOUBLE) AS expected,
        |  ROUND(ABS(CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE)
        |    - CAST(e.expected AS DOUBLE)), 6) AS deviation
        |FROM g CROSS JOIN t JOIN e ON g.digit = e.digit
        |ORDER BY g.digit""".stripMargin),

    // Pairwise Pearson over lineitem's numeric columns in exact integer
    // moments (money quantized ×100 — its true resolution), one scan,
    // one rounded double chain per pair: quantity↔extendedprice carries
    // the real signal (price = qty·unit), the tax/discount pairs read ~0.
    Gate("profile_numeric_corr", (s, d) => {
      operators.Profiling.numericCorr(Tables.lineitem(s, d), Seq(
        "l_quantity" -> 1L, "l_extendedprice" -> 100L,
        "l_discount" -> 100L, "l_tax" -> 100L))
    },
    // exact HUGEINT moments from one scan, same double chain per pair
    {
      val cs = Seq("l_quantity" -> 1L, "l_extendedprice" -> 100L,
        "l_discount" -> 100L, "l_tax" -> 100L)
      def sc(i: Int) =
        s"CAST(ROUND(${cs(i)._1} * ${cs(i)._2}) AS HUGEINT)"
      val moments =
        cs.indices.map(i => s"SUM(${sc(i)}) AS s_$i") ++
        (for { i <- cs.indices; j <- i until cs.size } yield
          s"SUM(${sc(i)} * ${sc(j)}) AS p_${i}_$j")
      def cm(i: Int, j: Int) = s"CAST(n * p_${i}_$j - s_$i * s_$j AS DOUBLE)"
      val pairs = for { i <- cs.indices; j <- (i + 1) until cs.size } yield
        s"""SELECT '${cs(i)._1}' AS col_x, '${cs(j)._1}' AS col_y, n,
           |  ROUND(${cm(i, j)} /
           |    (SQRT(${cm(i, i)}) * SQRT(${cm(j, j)})), 6) AS corr FROM m"""
          .stripMargin
      s"""WITH m AS (SELECT COUNT(*) AS n, ${moments.mkString(",\n  ")}
         |  FROM lineitem)
         |${pairs.mkString("\nUNION ALL\n")}
         |ORDER BY col_x, col_y""".stripMargin
    }),

    // Exact two-sample KS drift on event values, first half-month vs
    // rest: |i·m − j·n| per distinct value (integer cross-multiplied
    // ECDF gap — no binning choice, no float subtraction), one final
    // division. The exact-continuous upgrade of profile_drift's
    // histogram TV distance.
    Gate("profile_ks_drift", (s, d) => {
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-16").cast("timestamp")
      operators.Profiling.ksDrift(
        ev.where(col("ts") < cut), ev.where(col("ts") >= cut), "value")
    },
      // integer cross-multiplied ECDF gap per distinct value, one division
      """WITH t AS (SELECT value AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE value IS NOT NULL),
        |per AS (SELECT v, CAST(SUM(b) AS BIGINT) AS cb,
        |    CAST(SUM(1 - b) AS BIGINT) AS ca
        |  FROM t GROUP BY v),
        |tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS n,
        |  CAST(SUM(ca) AS BIGINT) AS m FROM per),
        |cum AS (SELECT v,
        |    CAST(SUM(cb) OVER w AS BIGINT) AS i,
        |    CAST(SUM(ca) OVER w AS BIGINT) AS j
        |  FROM per WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |dd AS (SELECT v, abs(i * m - j * n) AS d FROM cum CROSS JOIN tot),
        |mx AS (SELECT MAX(d) AS d_scaled FROM dd)
        |SELECT tot.n AS n_before, tot.m AS n_after,
        |  CAST(mx.d_scaled AS BIGINT) AS d_scaled,
        |  ROUND(CAST(mx.d_scaled AS DOUBLE)
        |    / CAST(tot.n * tot.m AS DOUBLE), 6) AS ks,
        |  (SELECT MIN(v) FROM dd WHERE dd.d = mx.d_scaled) AS at_value
        |FROM tot CROSS JOIN mx""".stripMargin),

    // Hampel outlier audit per event type: EXACT lower-median and MAD
    // via rank selection (no interpolated quantiles — engine-exact),
    // outlier = |x − med| > 3·MAD. The robust fence mean/stddev can't
    // give you: the tail being hunted drags the mean fence, not this one.
    Gate("profile_mad_outliers", (s, d) => {
      operators.Profiling.madOutliers(Tables.events(s, d),
        "event_type", "value", "event_id", k = 3)
    },
      // exact rank-selected median and MAD, Hampel fence at 3 MAD
      """WITH r AS (SELECT event_type AS g, value AS v, event_id AS id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (SELECT g, v AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT r.g, r.v, r.id, r.n, m.med,
        |    ABS(r.v - m.med) AS dev FROM r JOIN med m USING (g)),
        |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY dev, id) AS rn2 FROM d),
        |mad AS (SELECT g, dev AS mad FROM r2 WHERE rn2 = (n + 1) // 2)
        |SELECT r2.g AS group_key, MAX(r2.n) AS n, MAX(r2.med) AS median,
        |  MAX(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN r2.dev > 3 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM r2 JOIN mad USING (g)
        |GROUP BY 1 ORDER BY group_key""".stripMargin),

    // IND discovery — the foreign-key finder pairing with FD's key
    // finder: three real FK edges hold, the reversed direction counts
    // its missing mass (how many customers never emitted an event).
    Gate("profile_ind_discovery", (s, d) => {
      operators.Profiling.indViolations(Seq(
        ("events.user_id<customer.c_custkey",
          Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey"),
        ("lineitem.l_orderkey<orders.o_orderkey",
          Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
        ("orders.o_custkey<customer.c_custkey",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
        ("customer.c_custkey<events.user_id",
          Tables.customer(s, d), "c_custkey", Tables.events(s, d), "user_id")))
        .orderBy(col("candidate"))
    },
    // one distinct + one anti-join per candidate
    {
      val cands = Seq(
        ("events.user_id<customer.c_custkey", "user_id", "events",
          "c_custkey", "customer"),
        ("lineitem.l_orderkey<orders.o_orderkey", "l_orderkey", "lineitem",
          "o_orderkey", "orders"),
        ("orders.o_custkey<customer.c_custkey", "o_custkey", "orders",
          "c_custkey", "customer"),
        ("customer.c_custkey<events.user_id", "c_custkey", "customer",
          "user_id", "events"))
      val ctes = cands.zipWithIndex.map { case ((label, lc, lt, rc, rt), i) =>
        s"""a$i AS (SELECT '$label' AS candidate,
           |  (SELECT COUNT(*) FROM (SELECT DISTINCT $lc FROM $lt
           |     WHERE $lc IS NOT NULL)) AS n_left_distinct,
           |  (SELECT COUNT(*) FROM (SELECT DISTINCT $lc AS v FROM $lt
           |     WHERE $lc IS NOT NULL) lv
           |   WHERE v NOT IN (SELECT $rc FROM $rt WHERE $rc IS NOT NULL))
           |    AS n_missing)""".stripMargin
      }.mkString(",\n")
      val unions = cands.indices.map(i => s"SELECT * FROM a$i")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
         |u AS ($unions)
         |SELECT candidate, n_left_distinct, n_missing, n_missing = 0 AS holds
         |FROM u ORDER BY candidate""".stripMargin
    }),

    // Join-cardinality pre-flight: |events ⋈ orders| per user/customer
    // key from the two COUNT relations alone — the "does this join
    // explode, and on which keys" answer computed WITHOUT the join,
    // ranked by contribution (the keys salting would target).
    Gate("profile_join_cardinality", (s, d) => {
      operators.Profiling.joinCardinality(
        Tables.events(s, d).select(col("user_id")), "user_id",
        Tables.orders(s, d).select(col("o_custkey")), "o_custkey", k = 10)
    },
      // count-relation product, decimal-safe total, one share division
      """WITH ca AS (SELECT user_id AS key, COUNT(*) AS n_left
        |  FROM events GROUP BY 1),
        |cb AS (SELECT o_custkey AS key, COUNT(*) AS n_right
        |  FROM orders GROUP BY 1),
        |c AS (SELECT key, n_left, n_right, n_left * n_right AS pairs
        |  FROM ca JOIN cb USING (key)),
        |t AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs FROM c)
        |SELECT key, n_left, n_right, pairs, total_pairs,
        |  ROUND(CAST(pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE), 6)
        |    AS share
        |FROM c, t ORDER BY pairs DESC, key LIMIT 10""".stripMargin),

    // Bloom false-positive census: membership filter built on click
    // event_ids, probed with the (disjoint) view event_ids — the
    // decontamination prefilter (X58/X100) made standalone and
    // MEASURED: observed fp_rate vs the (1−e^(−kn/m))^k design point,
    // oracle-exact because membership under the pinned md5 family is a
    // pure function of the key set.
    Gate("profile_bloom_audit", (s, d) => {
      val e = Tables.events(s, d)
      operators.BloomFilter.fpAudit(
        e.where(col("event_type") === "click").select(col("event_id")),
        e.where(col("event_type") === "view").select(col("event_id")),
        "event_id", depth = 3, width = 16384L)
    },
    // bloom oracle: same seed-prefixed md5 positions, distinct set bits,
    // claimed iff all 3 positions hit
    {
      val h = sqlHash64("CAST(s.d AS VARCHAR) || ':' || k")
      s"""WITH ds AS (SELECT unnest([0,1,2]) AS d),
         |mem AS (SELECT DISTINCT event_id,
         |    CAST(event_id AS VARCHAR) AS k FROM events
         |  WHERE event_type = 'click'),
         |prq AS (SELECT DISTINCT event_id,
         |    CAST(event_id AS VARCHAR) AS k FROM events
         |  WHERE event_type = 'view'),
         |tn AS (SELECT * FROM prq WHERE event_id NOT IN
         |  (SELECT event_id FROM mem)),
         |bits AS (SELECT DISTINCT s.d,
         |    (($h % 16384) + 16384) % 16384 AS pos FROM mem, ds s),
         |pv AS (SELECT tn.event_id, s.d,
         |    (($h % 16384) + 16384) % 16384 AS pos FROM tn, ds s),
         |vc AS (SELECT pv.event_id, COUNT(b.pos) AS hits
         |  FROM pv LEFT JOIN bits b USING (d, pos) GROUP BY 1),
         |agg AS (SELECT
         |    (SELECT COUNT(*) FROM mem) AS n_members,
         |    (SELECT COUNT(*) FROM bits) AS n_bits_set,
         |    COUNT(*) AS n_probes,
         |    CAST(SUM(CASE WHEN hits = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_false_pos
         |  FROM vc)
         |SELECT CAST(16384 AS BIGINT) AS width, 3 AS depth, n_members,
         |  n_bits_set, n_probes, n_false_pos,
         |  ROUND(CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE), 6)
         |    AS fp_rate
         |FROM agg""".stripMargin
    }),

    // Distribution drift between the first and second half-month of
    // events: shared bins from one union min/max agg, per-side counts in
    // one tagged aggregation, exact-integer share deltas (no PSI/KL — ln
    // is not correctly-rounded across engines).
    Gate("profile_drift", (s, d) => {
      val e = Tables.events(s, d)
      operators.Profiling.histogramDrift(
        e.where(col("ts") < "2024-01-16").select(col("value")),
        e.where(col("ts") >= "2024-01-16").select(col("value")),
        "value", buckets = 20)
        .orderBy(col("bucket"))
    },
      // identical shared bins over the union, tagged per-side counts,
      // rounded shares subtracted after rounding (as the engine does)
      """WITH u AS (SELECT value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'b' ELSE 'a' END AS side
        |  FROM events),
        |bnd AS (SELECT CAST(MIN(value) AS DOUBLE) AS lo,
        |  CAST(MAX(value) AS DOUBLE) AS hi FROM u),
        |h AS (SELECT side,
        |    CASE WHEN hi = lo THEN 0 ELSE
        |      CAST(LEAST(FLOOR((CAST(value AS DOUBLE) - lo) / ((hi - lo) / 20)), 19) AS INT)
        |    END AS bucket
        |  FROM u, bnd WHERE value IS NOT NULL),
        |c AS (SELECT bucket,
        |    CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        |  FROM h GROUP BY 1),
        |p AS (SELECT bucket, n_before, n_after,
        |    ROUND(CAST(n_before AS DOUBLE) / CAST(SUM(n_before) OVER () AS DOUBLE), 6) AS p_before,
        |    ROUND(CAST(n_after AS DOUBLE) / CAST(SUM(n_after) OVER () AS DOUBLE), 6) AS p_after
        |  FROM c)
        |SELECT bucket, n_before, n_after, p_before, p_after,
        |  ROUND(ABS(p_after - p_before), 6) AS d_share
        |FROM p ORDER BY bucket""".stripMargin),

    // 10%-trimmed mean per event type: drop the exact-rank top and
    // bottom ⌈n/10⌉ values (rank under (value, id) — deterministic, no
    // interpolation) and mean the survivors through the decimal(18,2)
    // cents carrier — the robust location estimate between the mean
    // (breaks at one outlier) and the median (throws away 98% of the
    // data); the fence companion to profile_mad_outliers.
    Gate("profile_trimmed_mean", (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .where(col("rn") > expr("(n + 9) div 10") &&
          col("rn") <= expr("n - (n + 9) div 10"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("trimmed_mean"))
        .orderBy(col("event_type"))
    },
      // exact-rank trim of ⌈n/10⌉ per side, double mean of survivors
      """WITH r AS (SELECT event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_kept,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS trimmed_mean
        |FROM r
        |WHERE rn > (n + 9) // 10 AND rn <= n - (n + 9) // 10
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Overdispersion audit per event type: variance-to-mean ratio of
    // the DAILY count series in EXACT integer moments (n·Σc² − (Σc)²
    // over n², divided by the mean once at the end) — the "is this
    // Poisson or bursty" pre-flight that decides whether a rate alarm
    // can assume var≈mean; dispersion ≫ 1 says bursts are normal and
    // the alarm needs the measured variance.
    Gate("profile_dispersion", (s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("event_type"), col("n_days"),
          round(col("s1").cast("double") / col("n_days").cast("double"), 6)
            .as("mean_daily"),
          round((col("n_days") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
            (col("n_days") * col("n_days")).cast("double"), 6)
            .as("var_daily"),
          round(((col("n_days") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
            (col("n_days") * col("n_days")).cast("double")) /
            (col("s1").cast("double") / col("n_days").cast("double")), 6)
            .as("dispersion"))
        .orderBy(col("event_type"))
    },
      // integer moments over the day-grain series, one division chain
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(c) AS BIGINT) AS s1,
        |    CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
        |    AS mean_daily,
        |  ROUND(CAST(n_days * s2 - s1 * s1 AS DOUBLE)
        |    / CAST(n_days * n_days AS DOUBLE), 6) AS var_daily,
        |  ROUND((CAST(n_days * s2 - s1 * s1 AS DOUBLE)
        |    / CAST(n_days * n_days AS DOUBLE))
        |    / (CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE)), 6)
        |    AS dispersion
        |FROM m ORDER BY event_type""".stripMargin),

    // Herfindahl–Hirschman concentration per region: Σ share² of each
    // supplier's lineitem revenue = Σ s_i² / S², all-integer (revenue in
    // cents, squares in DECIMAL(38,0)/HUGEINT), one double division.
    // THE market-concentration pre-flight for partition skew too: an
    // HHI near 1 on a join key says one supplier owns the key space and
    // the join needs the salt path. Supplier grain reduces first; the
    // square-sum is a plain combiner-heavy reagg of that relation.
    Gate("profile_hhi", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("s_suppkey"))
        .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
          "AS DECIMAL(38,0))")).as("rev"))
      rev.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev")).as("tot"),
          sum(col("rev") * col("rev")).as("sq"))
        .select(col("r_name"), col("n_suppliers"),
          round(col("sq").cast("double") /
            (col("tot").cast("double") * col("tot").cast("double")), 6)
            .as("hhi"))
        .orderBy(col("r_name"))
    },
      // Σ s² / S² in exact cents, one division
      """WITH rev AS (
        |  SELECT r.r_name, s.s_suppkey,
        |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS HUGEINT)) AS HUGEINT) AS rev
        |  FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, COUNT(*) AS n_suppliers,
        |  ROUND(CAST(SUM(rev * rev) AS DOUBLE)
        |    / (CAST(SUM(rev) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE)), 6)
        |    AS hhi
        |FROM rev GROUP BY 1 ORDER BY r_name""".stripMargin),

    // Corpus length concentration: docs cut into NTILE(10) deciles by
    // (n_chars DESC, doc_id), per-decile char share and cumulative
    // share — the Lorenz view of "how much of the corpus the longest
    // 10% owns", which prices truncation/packing policy before a
    // training run. Integer sums, one division per row; the global
    // ntile sort is customer-grain-bounded (sketch boundaries + bucket
    // join at 100 TB, same note as customer_rfm).
    Gate("profile_length_deciles", (s, d) => {
      val per = Tables.documents(s, d)
        .withColumn("decile", ntile(10).over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      per
        .withColumn("tot", sum(col("chars")).over(Window.partitionBy()))
        .withColumn("cum", sum(col("chars")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n_docs"), col("chars"),
          round(col("chars").cast("double") / col("tot").cast("double"), 6)
            .as("share"),
          round(col("cum").cast("double") / col("tot").cast("double"), 6)
            .as("cum_share"))
        .orderBy(col("decile"))
    },
      // same pinned NTILE(10) cut; shares are one division per row
      """WITH cut AS (
        |  SELECT doc_id, n_chars,
        |    NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        |  FROM documents),
        |per AS (
        |  SELECT decile, COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars
        |  FROM cut GROUP BY 1)
        |SELECT CAST(decile AS INT) AS decile, n_docs, chars,
        |  ROUND(CAST(chars AS DOUBLE)
        |    / CAST(SUM(chars) OVER () AS DOUBLE), 6) AS share,
        |  ROUND(CAST(SUM(chars) OVER (ORDER BY decile
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(SUM(chars) OVER () AS DOUBLE), 6) AS cum_share
        |FROM per ORDER BY decile""".stripMargin),

    // Quantity-weighted median price per returnflag, EXACT: collapse to
    // one row per (flag, price-cents) with summed integer weight, running
    // weight via a cents-ordered window, median = least value whose
    // doubled running weight reaches the total (2·cum ≥ T — integer
    // compare, no halves). Ties need no tiebreak: equal values merged
    // before the scan, so the crossing value is unique by construction.
    Gate("profile_weighted_median", (s, d) => {
      val per = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 " +
            "AS BIGINT)").as("cents"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("l_returnflag"), col("cents"))
        .agg(sum(col("w")).as("w"))
      val win = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      per
        .withColumn("cum", sum(col("w")).over(win))
        .withColumn("tot", sum(col("w")).over(Window.partitionBy(col("l_returnflag"))))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("cum") * 2 >= col("tot"), col("cents")))
            .as("wmedian_cents"),
          max(col("tot")).as("total_weight"))
        .orderBy(col("l_returnflag"))
    },
      """WITH per AS (
        |  SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, cents, w,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM per)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN cum * 2 >= tot THEN cents END) AS wmedian_cents,
        |  MAX(tot) AS total_weight
        |FROM cum GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    // Exact mode (ordered-set aggregate) of quantity per returnflag:
    // value-merged counts ranked under (count DESC, value ASC) — the
    // deterministic tie-break engines' built-in mode() refuses to
    // promise. Two combiner-heavy aggregates, rank over group-grain rows.
    Gate("profile_mode", (s, d) => {
      val counts = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_returnflag"), col("qty"))
        .agg(count(lit(1)).as("cnt"))
      counts
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("l_returnflag"))
            .orderBy(col("cnt").desc, col("qty"))))
        .where(col("rk") === 1)
        .select(col("l_returnflag"), col("qty").as("mode_qty"), col("cnt"))
        .orderBy(col("l_returnflag"))
    },
      """WITH counts AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT l_returnflag, qty, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY cnt DESC, qty) AS rk
        |  FROM counts)
        |SELECT l_returnflag, qty AS mode_qty, cnt
        |FROM ranked WHERE rk = 1 ORDER BY l_returnflag""".stripMargin),

    // Referential-integrity census over the schema's natural FKs: child
    // rows whose parent key is missing, one left-anti count per edge —
    // the load-order/corruption smoke test that runs BEFORE anyone
    // trusts a join. Parent key sets reduce to distincts first; the
    // small ones broadcast.
    Gate("profile_fk_orphans", (s, d) => {
      def orphans(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val pkeys = parent.select(col(pk)).distinct()
        child.select(col(ck))
          .join(pkeys, col(ck) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .crossJoin(child.agg(count(lit(1)).as("n_child")))
          .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, d)
      orphans("lineitem.orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionByName(orphans("lineitem.partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(orphans("lineitem.suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionByName(orphans("orders.custkey->customer",
          Tables.orders(s, d), "o_custkey", Tables.customer(s, d),
          "c_custkey"))
        .unionByName(orphans("customer.nationkey->nation",
          Tables.customer(s, d), "c_nationkey", Tables.nation(s, d),
          "n_nationkey"))
        .unionByName(orphans("supplier.nationkey->nation",
          Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d),
          "n_nationkey"))
        .unionByName(orphans("nation.regionkey->region",
          Tables.nation(s, d), "n_regionkey", Tables.region(s, d),
          "r_regionkey"))
        .orderBy(col("fk"))
    },
      """SELECT 'lineitem.orderkey->orders' AS fk,
        |  (SELECT COUNT(*) FROM lineitem) AS n_child,
        |  (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey) AS n_orphans
        |UNION ALL SELECT 'lineitem.partkey->part',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem l ANTI JOIN part p
        |    ON l.l_partkey = p.p_partkey)
        |UNION ALL SELECT 'lineitem.suppkey->supplier',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem l ANTI JOIN supplier s
        |    ON l.l_suppkey = s.s_suppkey)
        |UNION ALL SELECT 'orders.custkey->customer',
        |  (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders o ANTI JOIN customer c
        |    ON o.o_custkey = c.c_custkey)
        |UNION ALL SELECT 'customer.nationkey->nation',
        |  (SELECT COUNT(*) FROM customer),
        |  (SELECT COUNT(*) FROM customer c ANTI JOIN nation n
        |    ON c.c_nationkey = n.n_nationkey)
        |UNION ALL SELECT 'supplier.nationkey->nation',
        |  (SELECT COUNT(*) FROM supplier),
        |  (SELECT COUNT(*) FROM supplier s ANTI JOIN nation n
        |    ON s.s_nationkey = n.n_nationkey)
        |UNION ALL SELECT 'nation.regionkey->region',
        |  (SELECT COUNT(*) FROM nation),
        |  (SELECT COUNT(*) FROM nation n ANTI JOIN region r
        |    ON n.n_regionkey = r.r_regionkey)
        |ORDER BY fk""".stripMargin),

    // Chi-square test of independence + Cramér's V over two categoricals
    // (nation × market segment) — the feature-association audit. One
    // contingency pass; marginals by window over the CELL grain (≤ r·c
    // rows, never the data); each cell's (o−e)²/e is quantized
    // floor(x·2^20) and summed in BIGINT so the Σ is order-free (the
    // per-cell double math is single-rounded IEEE ops, bit-identical
    // across engines; only the SUM order would not be).
    Gate("profile_chisq_assoc", (s, d) => {
      val ct = Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint() // three window marginals read the cell grain
      val cells = ct
        .withColumn("rt", sum(col("o")).over(
          Window.partitionBy(col("c_nationkey"))))
        .withColumn("colt", sum(col("o")).over(
          Window.partitionBy(col("c_mktsegment"))))
        .withColumn("n", sum(col("o")).over(Window.partitionBy()))
        .withColumn("e",
          col("rt").cast("double") * col("colt") / col("n"))
        .withColumn("q", floor((col("o") - col("e")) * (col("o") - col("e"))
          / col("e") * 1048576).cast("long"))
      cells.agg(
          max(col("n")).as("n"),
          countDistinct(col("c_nationkey")).as("r"),
          countDistinct(col("c_mktsegment")).as("c"),
          sum(col("q")).as("sq"))
        .select(col("n"), col("r"), col("c"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(col("sq").cast("double") / 1048576, 6).as("chi2"),
          round(sqrt((col("sq").cast("double") / 1048576)
            / (col("n") * least(col("r") - 1, col("c") - 1))), 6)
            .as("cramers_v"))
    },
      """WITH ct AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS o
        |  FROM customer GROUP BY 1, 2),
        |cells AS (
        |  SELECT o,
        |    SUM(o) OVER (PARTITION BY c_nationkey) AS rt,
        |    SUM(o) OVER (PARTITION BY c_mktsegment) AS colt,
        |    SUM(o) OVER () AS n,
        |    c_nationkey, c_mktsegment
        |  FROM ct),
        |qq AS (
        |  SELECT c_nationkey, c_mktsegment, o, n,
        |    CAST(FLOOR((o - e) * (o - e) / e * 1048576) AS BIGINT) AS q
        |  FROM (SELECT *,
        |    CAST(rt AS DOUBLE) * CAST(colt AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS e FROM cells)),
        |agg AS (
        |  SELECT CAST(MAX(n) AS BIGINT) AS n,
        |    COUNT(DISTINCT c_nationkey) AS r,
        |    COUNT(DISTINCT c_mktsegment) AS c,
        |    CAST(SUM(q) AS BIGINT) AS sq
        |  FROM qq)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  ROUND(CAST(sq AS DOUBLE) / 1048576, 6) AS chi2,
        |  ROUND(SQRT((CAST(sq AS DOUBLE) / 1048576)
        |    / (n * least(r - 1, c - 1))), 6) AS cramers_v
        |FROM agg""".stripMargin),

    // OLS trend of daily revenue — slope/intercept/R² from the six
    // sufficient statistics, which are EXACT BIGINT sums (one
    // combiner-heavy agg; the regression never sees row grain). The
    // final combine casts the stats to double and uses an identical
    // expression shape on both engines — every op is a single-rounded
    // IEEE multiply/subtract/divide, so the result is bit-identical
    // without any quantization dance.
    Gate("profile_ols_trend", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .as("x"))
        .agg(expr("sum(cast(round(o_totalprice * 100, 0) as bigint)) div 100")
          .as("y"))
      daily.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n").as("n_days"),
          expr("cast(n as double)").as("nd"),
          expr("cast(sx as double)").as("sxd"),
          expr("cast(sy as double)").as("syd"),
          expr("cast(sxy as double)").as("sxyd"),
          expr("cast(sxx as double)").as("sxxd"),
          expr("cast(syy as double)").as("syyd"))
        .select(col("n_days"),
          expr("round((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 6)")
            .as("slope"),
          expr("round((syd*sxxd - sxd*sxyd) / (nd*sxxd - sxd*sxd), 6)")
            .as("intercept"),
          expr("""round((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd)
            / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)), 6)""")
            .as("r2"))
    },
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS x,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // 100 AS y
        |  FROM orders GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM daily),
        |dd AS (
        |  SELECT n AS n_days, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM st)
        |SELECT n_days,
        |  ROUND((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 6) AS slope,
        |  ROUND((syd*sxxd - sxd*sxyd) / (nd*sxxd - sxd*sxd), 6)
        |    AS intercept,
        |  ROUND((nd*sxyd - sxd*syd) * (nd*sxyd - sxd*syd)
        |    / ((nd*sxxd - sxd*sxd) * (nd*syyd - syd*syd)), 6) AS r2
        |FROM dd""".stripMargin),

    // Top principal component by power iteration — PCA where it's
    // actually run at 100 TB: ONE distributed covariance pass
    // (profile_embedding_cov's engine), then d²-scale driver math on the
    // collected matrix. Ten max-abs-normalized rounds; the oracle
    // unrolls the identical rounds CTE-for-CTE (integer matrix×vector
    // via floor((c·v)·2^30) BIGINT sums, round-6 components) so every
    // intermediate is bit-equal.
    Gate("profile_pca_power", (s, d) => {
      operators.Profiling.pcaPower(embs(s, d), "embedding", dims = 64,
        rounds = 10).orderBy(col("pos"))
    },
    {
      val rounds = (1 to 10).map { k =>
        s"""mv$k AS MATERIALIZED (
           |  SELECT cf.i AS pos,
           |    CAST(SUM(CAST(FLOOR((cf.cov * p.v) * 1073741824.0) AS BIGINT))
           |      AS BIGINT) AS mv
           |  FROM cf JOIN v${k - 1} p ON cf.j = p.pos GROUP BY 1),
           |s$k AS (SELECT MAX(ABS(mv)) AS s FROM mv$k),
           |v$k AS MATERIALIZED (SELECT pos, ROUND(CAST(mv AS DOUBLE)
           |  / (SELECT s FROM s$k), 6) + 0.0 AS v FROM mv$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |nn AS (SELECT COUNT(*) AS n FROM e),
         |x AS (SELECT v, unnest(v) AS xi,
         |  CAST(generate_subscripts(v, 1) - 1 AS INT) AS i FROM e),
         |p AS (SELECT i, unnest(range(i, 64)) AS j0, xi, v FROM x),
         |ps AS (SELECT i, CAST(j0 AS INT) AS j,
         |  CAST(xi * v[CAST(j0 AS INT) + 1] AS DECIMAL(28,16)) AS prod,
         |  CAST(xi AS DECIMAL(28,16)) AS xi_d FROM p),
         |sij AS (SELECT i, j, SUM(prod) AS s_ij FROM ps GROUP BY i, j),
         |si AS (SELECT i, SUM(xi_d) AS s_ FROM ps WHERE i = j GROUP BY i),
         |cov AS (SELECT sij.i, sij.j,
         |  ROUND((CAST(s_ij AS DOUBLE)
         |    - CAST(a.s_ AS DOUBLE) * CAST(b.s_ AS DOUBLE) / n) / n, 6) AS cov
         |  FROM sij JOIN si a ON sij.i = a.i JOIN si b ON sij.j = b.i, nn),
         |cf AS MATERIALIZED (SELECT i, j, cov FROM cov
         |  UNION ALL SELECT j, i, cov FROM cov WHERE i <> j),
         |v0 AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS pos, 1.0 AS v),
         |$rounds
         |SELECT CAST(pos AS INTEGER) AS pos, v AS loading,
         |  (SELECT ROUND(CAST(s AS DOUBLE) / 1073741824.0, 6) + 0.0 FROM s10)
         |    AS lambda
         |FROM v10 ORDER BY pos""".stripMargin
    }),

    // Hampel filter on daily revenue — rolling-median outlier detection
    // (the robust cousin of the z-score: one freak day can't drag the
    // median the way it drags a mean). Centered 7-day window; median
    // and MAD come from the SORTED window array's exact middle element
    // (odd window ⇒ pure integers, no averaging, no engine median()
    // semantics in play); flag = dev > 3·MAD. Day grain — the window
    // never touches row-grain data.
    Gate("profile_hampel_outliers", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100, 0) as bigint)) div 100")
          .as("y"))
      val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
      daily
        .withColumn("arr", sort_array(collect_list(col("y")).over(w)))
        .where(size(col("arr")) === 7)
        .withColumn("med", element_at(col("arr"), 4))
        .withColumn("mad", element_at(sort_array(transform(col("arr"),
          e => abs(e - col("med")))), 4))
        .withColumn("dev", abs(col("y") - col("med")))
        .where(col("dev") > col("mad") * 3)
        .select(col("day").cast("long").as("day"), col("y"), col("med"),
          col("mad"), col("dev"))
        .orderBy(col("day"))
    },
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // 100 AS y
        |  FROM orders GROUP BY 1),
        |wa AS (
        |  SELECT day, y,
        |    list_sort(list(y) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        |  FROM daily),
        |f AS (SELECT day, y, arr, arr[4] AS med FROM wa WHERE len(arr) = 7),
        |g AS (
        |  SELECT day, y, med,
        |    list_sort(list_transform(arr, e -> abs(e - med)))[4] AS mad
        |  FROM f)
        |SELECT day, y, med, mad, ABS(y - med) AS dev
        |FROM g WHERE ABS(y - med) > 3 * mad ORDER BY day""".stripMargin),

    // Cochran-Mantel-Haenszel — the Simpson's-paradox-proof association
    // test: does segment=BUILDING associate with positive balance AFTER
    // controlling for nation? One pass to 2×2-per-stratum counts (a
    // combiner-heavy agg; the test never sees row grain), then exact
    // integer cell products; the only doubles are single divisions per
    // stratum, quantized floor(x·2^20) before the cross-stratum sums so
    // Σ order can't matter. MH pooled odds ratio rides the same pass.
    Gate("profile_cmh_strata", (s, d) => {
      val ct = Tables.customer(s, d).groupBy(col("c_nationkey")).agg(
          sum(when(col("c_mktsegment") === "BUILDING"
            && col("c_acctbal") > 0, 1).otherwise(0)).cast("long").as("a"),
          sum(when(col("c_mktsegment") === "BUILDING"
            && col("c_acctbal") <= 0, 1).otherwise(0)).cast("long").as("b"),
          sum(when(col("c_mktsegment") =!= "BUILDING"
            && col("c_acctbal") > 0, 1).otherwise(0)).cast("long").as("c"),
          sum(when(col("c_mktsegment") =!= "BUILDING"
            && col("c_acctbal") <= 0, 1).otherwise(0)).cast("long").as("dd"))
        .withColumn("n", col("a") + col("b") + col("c") + col("dd"))
        .where(col("n") >= 2)
        .withColumn("qe", floor((col("a")
          - expr("cast((a + b) * (a + c) as double) / n")) * 1048576)
          .cast("long"))
        .withColumn("qv", floor(
          expr("""cast((a + b) * (c + dd) * (a + c) * (b + dd) as double)
            / cast(n * n * (n - 1) as double)""") * 1048576).cast("long"))
        .withColumn("qn", floor(expr("cast(a * dd as double) / n") * 1048576)
          .cast("long"))
        .withColumn("qd", floor(expr("cast(b * c as double) / n") * 1048576)
          .cast("long"))
      ct.agg(count(lit(1)).as("n_strata"), sum(col("qe")).as("se"),
          sum(col("qv")).as("sv"), sum(col("qn")).as("sn"),
          sum(col("qd")).as("sd"))
        .select(col("n_strata"),
          expr("""round(cast(se as double) * cast(se as double)
            / (1048576.0 * cast(sv as double)), 6)""").as("cmh"),
          expr("round(cast(sn as double) / cast(sd as double), 6)")
            .as("or_mh"))
    },
      """WITH ct AS (
        |  SELECT c_nationkey,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' AND c_acctbal <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN c_mktsegment <> 'BUILDING' AND c_acctbal > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN c_mktsegment <> 'BUILDING' AND c_acctbal <= 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM customer GROUP BY 1),
        |q AS (
        |  SELECT a + b + c + dd AS n, a, b, c, dd,
        |    CAST(FLOOR((a - CAST((a + b) * (a + c) AS DOUBLE)
        |      / (a + b + c + dd)) * 1048576) AS BIGINT) AS qe,
        |    CAST(FLOOR((CAST((a + b) * (c + dd) * (a + c) * (b + dd)
        |        AS DOUBLE)
        |      / CAST((a + b + c + dd) * (a + b + c + dd)
        |        * (a + b + c + dd - 1) AS DOUBLE)) * 1048576) AS BIGINT)
        |      AS qv,
        |    CAST(FLOOR((CAST(a * dd AS DOUBLE) / (a + b + c + dd))
        |      * 1048576) AS BIGINT) AS qn,
        |    CAST(FLOOR((CAST(b * c AS DOUBLE) / (a + b + c + dd))
        |      * 1048576) AS BIGINT) AS qd
        |  FROM ct WHERE a + b + c + dd >= 2),
        |agg AS (
        |  SELECT COUNT(*) AS n_strata, CAST(SUM(qe) AS BIGINT) AS se,
        |    CAST(SUM(qv) AS BIGINT) AS sv, CAST(SUM(qn) AS BIGINT) AS sn,
        |    CAST(SUM(qd) AS BIGINT) AS sd
        |  FROM q)
        |SELECT n_strata,
        |  ROUND(CAST(se AS DOUBLE) * CAST(se AS DOUBLE)
        |    / (1048576.0 * CAST(sv AS DOUBLE)), 6) AS cmh,
        |  ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6) AS or_mh
        |FROM agg""".stripMargin),

    // Kendall tau-b between per-nation customer count and total balance
    // — the rank correlation that needs NO ranks: concordant/discordant/
    // tied pair counting over the stratum grain (25 rows → 300 pairs,
    // never the data), all integers until one sqrt and one division.
    // Pearson (profile_numeric_corr) sees linear structure; tau sees
    // monotone structure with exact tie handling.
    Gate("profile_kendall_tau", (s, d) => {
      val m = Tables.customer(s, d).groupBy(col("c_nationkey")).agg(
          count(lit(1)).as("x"),
          sum(expr("cast(round(c_acctbal * 100, 0) as bigint)")).as("y"))
        .localCheckpoint() // both sides of the pair panel read it
      val l = m.select(col("c_nationkey").as("i"), col("x").as("xi"),
        col("y").as("yi"))
      val r = m.select(col("c_nationkey").as("j"), col("x").as("xj"),
        col("y").as("yj"))
      val pairs = l.crossJoin(r).where(col("i") < col("j"))
        .withColumn("sx", signum((col("xi") - col("xj")).cast("double"))
          .cast("long"))
        .withColumn("sy", signum((col("yi") - col("yj")).cast("double"))
          .cast("long"))
      pairs.agg(
          sum(when(col("sx") * col("sy") === 1, 1).otherwise(0)).cast("long")
            .as("c_pairs"),
          sum(when(col("sx") * col("sy") === -1, 1).otherwise(0)).cast("long")
            .as("d_pairs"),
          sum(when(col("sx") === 0 && col("sy") =!= 0, 1).otherwise(0))
            .cast("long").as("tx"),
          sum(when(col("sy") === 0 && col("sx") =!= 0, 1).otherwise(0))
            .cast("long").as("ty"))
        .select(col("c_pairs"), col("d_pairs"), col("tx"), col("ty"),
          expr("""round(cast(c_pairs - d_pairs as double)
            / sqrt(cast(c_pairs + d_pairs + tx as double)
              * cast(c_pairs + d_pairs + ty as double)), 6)""")
            .as("tau_b"))
    },
      """WITH m AS (
        |  SELECT c_nationkey, COUNT(*) AS x,
        |    CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM customer GROUP BY 1),
        |p AS (
        |  SELECT CAST(SIGN(l.x - r.x) AS BIGINT) AS sx,
        |    CAST(SIGN(l.y - r.y) AS BIGINT) AS sy
        |  FROM m l JOIN m r ON l.c_nationkey < r.c_nationkey),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c_pairs,
        |    CAST(SUM(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_pairs,
        |    CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ty
        |  FROM p)
        |SELECT c_pairs, d_pairs, tx, ty,
        |  ROUND(CAST(c_pairs - d_pairs AS DOUBLE)
        |    / SQRT(CAST(c_pairs + d_pairs + tx AS DOUBLE)
        |      * CAST(c_pairs + d_pairs + ty AS DOUBLE)), 6) AS tau_b
        |FROM agg""".stripMargin),

    // Autocorrelation function (lags 1..7) of daily revenue — Pearson r
    // over (y_t, y_{t−k}) pairs from the SAME six-sufficient-stat recipe
    // as profile_ols_trend: exact BIGINT sums per lag (one explode to 7
    // lag rows per day, one combiner-heavy agg), double combine with
    // identical expression shape on both engines. The weekly-seasonality
    // detector a forecasting pipeline runs before choosing features.
    Gate("profile_acf", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .as("day"))
        .agg(expr("sum(cast(round(o_totalprice * 100, 0) as bigint)) div 100")
          .as("y"))
        .localCheckpoint() // both sides of the lag join read it
      val lagged = daily.withColumn("lag", explode(typedLit((1 to 7).toList)))
        .select((col("day") + col("lag")).as("day"), col("lag"),
          col("y").as("x"))
      val pairs = daily.join(lagged, "day")
      pairs.groupBy(col("lag")).agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag").cast("long").as("lag"), col("n").as("n_pairs"),
          expr("""round((cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
            / (sqrt(cast(n as double) * cast(sxx as double)
                - cast(sx as double) * cast(sx as double))
              * sqrt(cast(n as double) * cast(syy as double)
                - cast(sy as double) * cast(sy as double))), 6)""")
            .as("r"))
        .orderBy(col("lag"))
    },
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // 100 AS y
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT day + lag AS day, lag, y AS x
        |  FROM daily, (SELECT unnest(range(1, 8)) AS lag)),
        |pairs AS (
        |  SELECT l.lag, l.x, d.y FROM daily d JOIN lagged l USING (day)),
        |st AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r
        |FROM st ORDER BY lag""".stripMargin),

    // Split-conformal prediction interval — distribution-free coverage
    // the modern-ML way: fit the OLS trend on even days, take the
    // ceil(0.9(n+1))-th smallest |residual| as the interval half-width
    // (EXACT rank selection, no quantile interpolation semantics), and
    // audit the realized coverage on odd days. Slope/intercept stay
    // UNROUNDED doubles — both engines build them from the same casted
    // integer stats with identical expression shape, so residual
    // ordering is bit-identical.
    Gate("profile_conformal_interval", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .as("x"))
        .agg(expr("sum(cast(round(o_totalprice * 100, 0) as bigint)) div 100")
          .as("y"))
        .localCheckpoint() // stats, calibration ranks and test all read it
      val cal = daily.where(pmod(col("x"), lit(2)) === 0)
      val fit = cal.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          expr("""(cast(n as double) * cast(sxy as double)
            - cast(sx as double) * cast(sy as double))
            / (cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))""").as("b1"),
          expr("""(cast(sy as double) * cast(sxx as double)
            - cast(sx as double) * cast(sxy as double))
            / (cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))""").as("b0"))
      val withR = daily.crossJoin(broadcast(fit))
        .withColumn("ar", abs(col("y") - (col("b0") + col("b1") * col("x"))))
      val calR = withR.where(pmod(col("x"), lit(2)) === 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("ar"), col("x"))))
        .withColumn("k", expr("cast(ceil(0.9 * (n + 1)) as bigint)"))
      val qhat = calR.where(col("rk") === col("k"))
        .select(col("ar").as("qhat"), col("n").as("n_cal"))
      withR.where(pmod(col("x"), lit(2)) === 1)
        .crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"),
          count(lit(1)).as("n_test"),
          sum(when(col("ar") <= col("qhat"), 1).otherwise(0)).cast("long")
            .as("n_covered"),
          max(round(col("qhat"), 2)).as("qhat_r"))
        .select(col("n_cal"), col("n_test"), col("n_covered"),
          expr("(1000000 * n_covered) div n_test").as("coverage_ppm"),
          col("qhat_r"))
    },
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS x,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // 100 AS y
        |  FROM orders GROUP BY 1),
        |fit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b1,
        |    (CAST(SUM(y) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b0
        |  FROM daily WHERE ((x % 2) + 2) % 2 = 0),
        |wr AS (
        |  SELECT x, ABS(y - (b0 + b1 * x)) AS ar, n FROM daily, fit),
        |calr AS (
        |  SELECT ar, n, ROW_NUMBER() OVER (ORDER BY ar, x) AS rk,
        |    CAST(CEIL(0.9 * (n + 1)) AS BIGINT) AS k
        |  FROM wr WHERE ((x % 2) + 2) % 2 = 0),
        |qh AS (SELECT ar AS qhat, n AS n_cal FROM calr WHERE rk = k),
        |t AS (SELECT ar FROM wr WHERE ((x % 2) + 2) % 2 = 1)
        |SELECT (SELECT n_cal FROM qh) AS n_cal,
        |  COUNT(*) AS n_test,
        |  CAST(SUM(CASE WHEN ar <= (SELECT qhat FROM qh) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  CAST((1000000 * SUM(CASE WHEN ar <= (SELECT qhat FROM qh)
        |    THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS coverage_ppm,
        |  (SELECT ROUND(qhat, 2) FROM qh) AS qhat_r
        |FROM t""".stripMargin),

    // Winsorized mean per event type — the clamp-don't-drop twin of
    // profile_trimmed_mean: values outside the exact rank-selected
    // p10/p90 order statistics are pulled TO those bounds (robust to
    // tails without discarding mass). Rank bounds from one window pass,
    // mean in integer micro-units.
    Gate("profile_winsorized_mean", (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("vm"), col("event_id"))
      val ranked = Tables.events(s, d)
        .select(col("event_type"),
          expr("cast(round(value * 1000000, 0) as bigint)").as("vm"),
          col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .localCheckpoint() // bounds and clamp both read it
      val bounds = ranked
        .groupBy(col("event_type"), col("n")).agg(
          min(when(col("rn") === expr("(n + 9) div 10"), col("vm")))
            .as("lo"),
          min(when(col("rn") === expr("n - (n + 9) div 10 + 1"), col("vm")))
            .as("hi"))
        .select(col("event_type"), col("lo"), col("hi"))
      ranked.join(bounds, "event_type")
        .withColumn("cl", least(greatest(col("vm"), col("lo")), col("hi")))
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n_events"),
          max(col("lo")).as("lo_micro"), max(col("hi")).as("hi_micro"),
          expr("sum(cl) div count(1)").as("winsorized_mean_micro"))
        .orderBy(col("event_type"))
    },
      """WITH ranked AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 1000000, 0) AS BIGINT) AS vm, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ROUND(value * 1000000, 0) AS BIGINT), event_id)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |bounds AS (
        |  SELECT event_type,
        |    MIN(CASE WHEN rn = (n + 9) // 10 THEN vm END) AS lo,
        |    MIN(CASE WHEN rn = n - (n + 9) // 10 + 1 THEN vm END) AS hi
        |  FROM ranked GROUP BY event_type, n),
        |cl AS (
        |  SELECT r.event_type,
        |    LEAST(GREATEST(r.vm, b.lo), b.hi) AS cl
        |  FROM ranked r JOIN bounds b USING (event_type))
        |SELECT event_type, COUNT(*) AS n_events,
        |  (SELECT MAX(lo) FROM bounds b2 WHERE b2.event_type = cl.event_type)
        |    AS lo_micro,
        |  (SELECT MAX(hi) FROM bounds b2 WHERE b2.event_type = cl.event_type)
        |    AS hi_micro,
        |  CAST(SUM(cl) AS BIGINT) // COUNT(*) AS winsorized_mean_micro
        |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Benford SECOND-digit audit — the forensic refinement of X-benford:
    // fabricated numbers often survive the first-digit test and fail the
    // second. Expected proportions Σ_d1 log10(1+1/(10·d1+d)) are
    // embedded as integer ppm LITERALS computed once at plan-build (no
    // runtime log10 on either engine); observed counts are one
    // scan-agg over the cents string.
    Gate("profile_benford2", (s, d) => {
      val exp = (0 to 9).map(d2 => (d2,
        math.round((1 to 9).map(d1 =>
          math.log10(1.0 + 1.0 / (10 * d1 + d2))).sum * 1000000)))
      val expDf = s.createDataFrame(exp).toDF("digit", "exp_ppm")
      val obs = Tables.orders(s, d)
        .select(substring(expr(
          "cast(cast(round(o_totalprice * 100, 0) as bigint) as string)"),
          2, 1).cast("int").as("digit"))
        .where(col("digit").isNotNull)
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .withColumn("obs_ppm", expr("(1000000 * n) div tot"))
      obs.join(broadcast(expDf), "digit")
        .select(col("digit").cast("long").as("digit"), col("n"),
          col("obs_ppm"), col("exp_ppm"),
          (col("obs_ppm") - col("exp_ppm")).as("dev_ppm"))
        .orderBy(col("digit"))
    },
    {
      val expVals = (0 to 9).map(d2 => s"($d2, ${
        math.round((1 to 9).map(d1 =>
          math.log10(1.0 + 1.0 / (10 * d1 + d2))).sum * 1000000)}::BIGINT)")
        .mkString(", ")
      s"""WITH exp AS (SELECT * FROM (VALUES $expVals) AS t(digit, exp_ppm)),
         |obs AS (
         |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0)
         |      AS BIGINT) AS VARCHAR), 2, 1) AS INTEGER) AS digit,
         |    COUNT(*) AS n
         |  FROM orders GROUP BY 1),
         |o2 AS (
         |  SELECT digit, CAST(n AS BIGINT) AS n,
         |    CAST((1000000 * n) // (SELECT SUM(n) FROM obs) AS BIGINT)
         |      AS obs_ppm
         |  FROM obs WHERE digit IS NOT NULL)
         |SELECT CAST(o2.digit AS BIGINT) AS digit, o2.n, o2.obs_ppm,
         |  e.exp_ppm, o2.obs_ppm - e.exp_ppm AS dev_ppm
         |FROM o2 JOIN exp e ON o2.digit = e.digit
         |ORDER BY digit""".stripMargin
    }),

    // Influence diagnostics on the OLS trend — leverage and Cook's
    // distance per day, top-10: WHICH days bend the fit (the follow-up
    // to X295's "which days are outliers" — an outlier at the center
    // has little pull; a mild one at the edge can steer the slope).
    // Residual sum-of-squares quantized floor(r²/2^10) — COARSENED, not
    // scaled up, so the BIGINT Σ can't overflow at any SF — making the
    // Σ order-free; everything else is identical-shape single-rounded
    // doubles from exact integer stats.
    Gate("profile_ols_influence", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .as("x"))
        .agg(expr("sum(cast(round(o_totalprice * 100, 0) as bigint)) div 100")
          .as("y"))
        .localCheckpoint() // fit, RSS and the per-day pass all read it
      val fit = daily.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"), col("sx"), col("sxx"),
          expr("""(cast(n as double) * cast(sxy as double)
            - cast(sx as double) * cast(sy as double))
            / (cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))""").as("b1"),
          expr("""(cast(sy as double) * cast(sxx as double)
            - cast(sx as double) * cast(sxy as double))
            / (cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))""").as("b0"))
      val withR = daily.crossJoin(broadcast(fit))
        .withColumn("resid", col("y") - (col("b0") + col("b1") * col("x")))
        .withColumn("hi", expr("""1.0 / n
          + (x - cast(sx as double) / n) * (x - cast(sx as double) / n)
          / (cast(sxx as double) - cast(sx as double) * cast(sx as double) / n)"""))
        .localCheckpoint() // RSS agg + per-day Cook's D read it
      val s2 = withR.agg(
          sum(floor(col("resid") * col("resid") / 1024).cast("long"))
            .as("sq"), max(col("n")).as("nn"))
        .select(expr("(cast(sq as double) * 1024) / (nn - 2)").as("s2"))
      withR.crossJoin(broadcast(s2))
        .withColumn("cookd", expr("""round((resid * resid * hi)
          / (2.0 * s2 * (1.0 - hi) * (1.0 - hi)), 6)"""))
        .select(col("x").cast("long").as("day"), col("y"),
          round(col("resid"), 2).as("resid_r"),
          round(col("hi"), 6).as("leverage"), col("cookd"))
        .orderBy(col("cookd").desc, col("day")).limit(10)
    },
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1995-01-01',
        |      CAST(o_orderdate AS DATE)) AS x,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // 100 AS y
        |  FROM orders GROUP BY 1),
        |fit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b1,
        |    (CAST(SUM(y) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
        |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b0
        |  FROM daily),
        |wr AS (
        |  SELECT x, y, y - (b0 + b1 * x) AS resid,
        |    1.0 / n
        |      + (x - CAST(sx AS DOUBLE) / n) * (x - CAST(sx AS DOUBLE) / n)
        |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |      AS hi,
        |    n
        |  FROM daily, fit),
        |s2 AS (
        |  SELECT (CAST(SUM(CAST(FLOOR(resid * resid / 1024) AS BIGINT))
        |    AS DOUBLE) * 1024) / (MAX(n) - 2) AS s2
        |  FROM wr)
        |SELECT CAST(x AS BIGINT) AS day, y, ROUND(resid, 2) AS resid_r,
        |  ROUND(hi, 6) AS leverage,
        |  ROUND((resid * resid * hi)
        |    / (2.0 * s2 * (1.0 - hi) * (1.0 - hi)), 6) AS cookd
        |FROM wr, s2
        |ORDER BY cookd DESC, day LIMIT 10""".stripMargin),

    // Gini coefficient of per-user activity — inequality the
    // scale-honest way: NO row-grain sort. The rank-sum Σi·xᵢ collapses
    // to the VALUE grain via tie blocks (2Σi·x = Σ_x x·(2·cum_below·c +
    // c·(c+1)), all integers), so the only ordered pass runs over
    // distinct activity levels. G in micro-units, pure integer ratio.
    // Contrast orders_gini (row-grain ranked window per region): same
    // statistic, but THIS form survives a 10^9-user table — ranks never
    // materialize, only the value histogram does.
    Gate("profile_gini_activity", (s, d) => {
      val ux = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"))
      val byX = ux.groupBy(col("x")).agg(count(lit(1)).as("c"))
        .withColumn("cb", coalesce(sum(col("c")).over(
          Window.orderBy(col("x"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      byX.agg(
          sum(col("c")).as("n"),
          sum(col("x") * col("c")).as("sx"),
          sum(col("x") * (lit(2L) * col("cb") * col("c")
            + col("c") * (col("c") + 1))).as("s2ix"))
        .select(col("n").as("n_users"), col("sx").as("total_events"),
          expr("(1000000 * (s2ix - (n + 1) * sx)) div (n * sx)")
            .as("gini_micro"))
    },
      """WITH ux AS (
        |  SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
        |byx AS (
        |  SELECT x, COUNT(*) AS c FROM ux GROUP BY 1),
        |cb AS (
        |  SELECT x, c,
        |    COALESCE(SUM(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM byx),
        |agg AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(x * c) AS BIGINT) AS sx,
        |    CAST(SUM(x * (2 * cb * c + c * (c + 1))) AS BIGINT) AS s2ix
        |  FROM cb)
        |SELECT n AS n_users, sx AS total_events,
        |  CAST((1000000 * (s2ix - (n + 1) * sx)) // (n * sx) AS BIGINT)
        |    AS gini_micro
        |FROM agg""".stripMargin),

    // Minimum detectable effect — the pre-experiment power analysis
    // that closes the experimentation suite (X300 tests, X303 tightens,
    // X306/X315 attribute, THIS sizes): MDE = (z_α/2+z_β)·√(2p̂(1−p̂)/n)
    // at 80% power / 5% α from the same hash-arm counts, z constants as
    // shared literals, one sqrt over single-rounded exact-integer
    // ratios.
    Gate("profile_power_mde", (s, d) => {
      val ev = Tables.events(s, d).select(
        pmod(HashFunctions.hash64(concat(col("user_id").cast("string"),
          lit("#ab"))), lit(2)).as("arm"),
        when(col("event_type") === "error", 1).otherwise(0).as("bad"))
      ev.agg(count(lit(1)).as("n"), sum(col("bad")).cast("long").as("x"))
        .select(col("n"), col("x"),
          expr("(1000000 * x) div n").as("base_rate_ppm"),
          expr("""round((1.96 + 0.8416)
            * sqrt(2.0 * (cast(x as double) / n)
              * (1.0 - cast(x as double) / n) / (cast(n as double) / 2)),
            6)""").as("mde_abs"))
    },
    {
      val h = sqlHash64("CAST(user_id AS VARCHAR) || '#ab'")
      s"""WITH ev AS (
         |  SELECT (($h % 2) + 2) % 2 AS arm,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS bad
         |  FROM events),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(bad) AS BIGINT) AS x
         |  FROM ev)
         |SELECT n, x,
         |  CAST((1000000 * x) // n AS BIGINT) AS base_rate_ppm,
         |  ROUND((1.96 + 0.8416)
         |    * SQRT(2.0 * (CAST(x AS DOUBLE) / n)
         |      * (1.0 - CAST(x AS DOUBLE) / n) / (CAST(n AS DOUBLE) / 2)),
         |    6) AS mde_abs
         |FROM agg""".stripMargin
    }),
  )
}
