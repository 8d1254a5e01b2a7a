package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution (`er_*`). */
private[graft] object ErGates {
  val gates: Seq[Gate] = Seq(

    // `_fixed` REGRESSION TWIN, audit-only: entity resolution over the
    // customer dim with the RAW (nation, segment) 125-block key —
    // native codegen'd Jaro-Winkler per candidate pair, 0.97 cut on the
    // ROUNDED score. Pair volume is Σ block², and with a FIXED block
    // count that is quadratic in the corpus (51.7× at 10×, SCALE_NOTES
    // r10) — reach for the unsuffixed `er_scored_pairs`, whose block
    // key is extended by a corpus-sized prefix.
    Gate("er_scored_pairs_fixed", (s, d) => {
      operators.EntityResolution.scoredPairs(Tables.customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
        minSim = 0.97)
        .orderBy(col("a"), col("b"))
    },
      // DuckDB ships the same textbook Jaro-Winkler (empirically pinned:
      // 0-for-empty, integer half-transpositions, 0.7 boost gate, prefix
      // cap 4) — scores rounded to 6dp on BOTH sides before the threshold
      """SELECT a.c_custkey AS a, b.c_custkey AS b,
        |  ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey
        |WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97
        |ORDER BY a, b""".stripMargin),

    // THE default ER gate (r11 VERDICT ask #1: the sized form owns the
    // unsuffixed name — formerly `er_prefix_blocked`; the raw-key form
    // above is the `_fixed` twin): the natural 125-block nation×segment
    // key is EXTENDED by a name-prefix sub-key whose length prefixLenFor
    // derives from the corpus (shortest prefix bringing expected
    // occupancy under the target) — in-block pair work stays
    // ≤ target·n at any corpus size, vs the 51.7× quadratic the fixed
    // key measured at 10× (SCALE_NOTES r10; probe_er_prefix_blocked
    // measured the cure linear over two decades). Gate-scale target = 8
    // so the rule ENGAGES at the sf0.01 oracle corpus (1500 records /
    // 125 blocks → len 1); the production default target of 128 only
    // engages past ~16k records. The prefix is taken from the name's
    // significant digits ("Customer#%09d" — the lpad zeros carry no
    // entropy; keying on them was the probe's kept first-run lesson).
    // The oracle derives the SAME length from COUNT(*) with the same
    // integer occupancy rule.
    Gate("er_scored_pairs", (s, d) => {
      val c = Tables.customer(s, d)
      val len = operators.EntityResolution.prefixLenFor(c.count(),
        naturalBlocks = 125L, targetBlockSize = 8)
      val keyed =
        if (len == 0) c.withColumn("pfx", lit(""))
        else c.withColumn("pfx",
          substring(regexp_replace(substring(col("c_name"), 10, 9),
            "^0+", ""), 1, len))
      operators.EntityResolution.scoredPairs(keyed, "c_custkey", "c_name",
        Seq("c_nationkey", "c_mktsegment", "pfx"), minSim = 0.97)
        .orderBy(col("a"), col("b"))
    },
      // prefix length derived IN SQL from COUNT(*) with prefixLenFor's
      // exact occupancy rule in INTEGER arithmetic (smallest len with
      // 1000·10^len >= n, via a powers-of-10 VALUES probe — no LN/CEIL, so
      // no libm 1-ulp flip at boundary sizes n = 1000·10^k) — both engines
      // size from the corpus, so the gate stays valid at any sf
      """WITH nc AS (SELECT COUNT(*) AS n FROM customer),
        |p AS (SELECT CAST(MIN(L) AS INT) AS len
        |  FROM (VALUES (0, 1), (1, 10), (2, 100), (3, 1000), (4, 10000),
        |    (5, 100000), (6, 1000000), (7, 10000000), (8, 100000000),
        |    (9, 1000000000), (10, 10000000000), (11, 100000000000),
        |    (12, 1000000000000)) pow(L, v), nc
        |  WHERE CAST(v AS BIGINT) >= (n + 999) // 1000),
        |k AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    CASE WHEN len = 0 THEN ''
        |      ELSE substr(regexp_replace(substr(c_name, 10, 9), '^0+', ''),
        |        1, len) END AS pfx
        |  FROM customer, p)
        |SELECT a.c_custkey AS a, b.c_custkey AS b,
        |  ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
        |FROM k a JOIN k b
        |  ON a.c_nationkey = b.c_nationkey
        |  AND a.c_mktsegment = b.c_mktsegment
        |  AND a.pfx = b.pfx
        |  AND a.c_custkey < b.c_custkey
        |WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97
        |ORDER BY a, b""".stripMargin),

    // Multi-pass blocking (round-10 #4 — the prefix pass retains only
    // 19% of raw in-block matches on digit-derived names): the DISTINCT
    // union of a prefix pass and a suffix pass over the same sized key
    // length — a match survives if EITHER end of the name agrees, at
    // twice the (linear) candidate budget. Candidate volume is the SUM
    // of two linear passes; the rounded JW score is pass-independent so
    // distinct collapses doubly-blocked pairs exactly. Oracle = the two
    // branches unioned with the same SQL-derived length.
    Gate("er_multipass_blocked", (s, d) => {
      val c = Tables.customer(s, d)
      val len = operators.EntityResolution.prefixLenFor(c.count(),
        naturalBlocks = 125L, targetBlockSize = 8)
      val keyed =
        if (len == 0) c.withColumn("pfx", lit("")).withColumn("sfx", lit(""))
        else c
          .withColumn("pfx", substring(regexp_replace(
            substring(col("c_name"), 10, 9), "^0+", ""), 1, len))
          .withColumn("sfx", substring(col("c_name"), -len, len))
      operators.EntityResolution.multiPassPairs(keyed, "c_custkey",
        "c_name",
        Seq(Seq("c_nationkey", "c_mktsegment", "pfx"),
          Seq("c_nationkey", "c_mktsegment", "sfx")), minSim = 0.97)
        .orderBy(col("a"), col("b"))
    },
      // union of the prefix pass and a suffix pass over the same
      // SQL-derived length; UNION (not ALL) is the engine's distinct —
      // the rounded JW score is pass-independent so doubly-blocked pairs
      // collapse exactly
      """WITH nc AS (SELECT COUNT(*) AS n FROM customer),
        |p AS (SELECT CAST(MIN(L) AS INT) AS len
        |  FROM (VALUES (0, 1), (1, 10), (2, 100), (3, 1000), (4, 10000),
        |    (5, 100000), (6, 1000000), (7, 10000000), (8, 100000000),
        |    (9, 1000000000), (10, 10000000000), (11, 100000000000),
        |    (12, 1000000000000)) pow(L, v), nc
        |  WHERE CAST(v AS BIGINT) >= (n + 999) // 1000),
        |k AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    CASE WHEN len = 0 THEN ''
        |      ELSE substr(regexp_replace(substr(c_name, 10, 9), '^0+', ''),
        |        1, len) END AS pfx,
        |    CASE WHEN len = 0 THEN ''
        |      ELSE right(c_name, len) END AS sfx
        |  FROM customer, p)
        |SELECT a, b, sim FROM (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b,
        |    ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
        |  FROM k a JOIN k b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.pfx = b.pfx
        |    AND a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97
        |  UNION
        |  SELECT a.c_custkey, b.c_custkey,
        |    ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6)
        |  FROM k a JOIN k b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.sfx = b.sfx
        |    AND a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97)
        |ORDER BY a, b""".stripMargin),

    // Phonetic blocking — the third ER blocking family (round-10 #4):
    // TextFunctions.phoneticKey (simplified Soundex as a pure Column
    // tree, identical translate/regexp chain in the oracle) blocks the
    // part names; output is the per-key blocking audit (block size,
    // candidate volume, JW-matched pairs) — the retention/candidate
    // instrument, not a 30k-row pair dump. 48 phonetic blocks over 2000
    // parts at sf0.01, max block 77 — the key discriminates real words
    // where the digit-tail prefix key cannot.
    Gate("er_phonetic_blocked", (s, d) => {
      // NOTE (r12): keyed feeds four lazy branches (8 parquet scans in
      // the plan), but checkpointing it measured as a no-op (matched
      // A/B warm min 3.77 -> 3.73 s) — the in-block JW census dominates
      // and the repeated part scans are page-cache-cheap. Left lazy.
      val keyed = Tables.part(s, d)
        .withColumn("pkey", TextFunctions.phoneticKey(col("p_name")))
      val sizes = keyed.groupBy(col("pkey"))
        .agg(count(lit(1)).as("block_size"))
        .withColumn("n_candidates",
          (col("block_size") * (col("block_size") - 1) / 2).cast("long"))
      val matches = operators.EntityResolution.scoredPairs(keyed,
        "p_partkey", "p_name", Seq("pkey"), minSim = 0.95)
        .join(keyed.select(col("p_partkey").as("a"), col("pkey")), "a")
        .groupBy(col("pkey")).agg(count(lit(1)).as("n_matches"))
      sizes.join(matches, Seq("pkey"), "left")
        .na.fill(0L, Seq("n_matches"))
        .orderBy(col("pkey"))
    },
    // the identical translate/regexp chain as TextFunctions.phoneticKey
    // (DuckDB regexp_replace needs the explicit 'g' flag Spark implies);
    // audit tail = block sizes, pair candidates, JW-matched pairs
    {
      val collapsed = (0 to 6).foldLeft("coded")((e, d) =>
        s"regexp_replace($e, '$d+', '$d', 'g')")
      s"""WITH u AS (SELECT p_partkey, p_name,
         |    upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS up
         |  FROM part),
         |c AS (SELECT p_partkey, p_name, up,
         |    translate(substr(up, 2), 'AEIOUYHWBFPVCGJKQSXZDTLMNR',
         |      '00000000111122222222334556') AS coded FROM u),
         |k AS (SELECT p_partkey, p_name,
         |    concat(substr(up, 1, 1),
         |      rpad(substr(regexp_replace($collapsed, '0', '', 'g'),
         |        1, 3), 3, '0')) AS pkey
         |  FROM c),
         |sz AS (SELECT pkey, COUNT(*) AS block_size FROM k GROUP BY 1),
         |m AS (SELECT a.pkey, COUNT(*) AS n_matches
         |  FROM k a JOIN k b ON a.pkey = b.pkey
         |    AND a.p_partkey < b.p_partkey
         |  WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.95
         |  GROUP BY 1)
         |SELECT s.pkey, s.block_size,
         |  CAST(s.block_size * (s.block_size - 1) / 2 AS BIGINT) AS n_candidates,
         |  COALESCE(m.n_matches, 0) AS n_matches
         |FROM sz s LEFT JOIN m USING (pkey)
         |ORDER BY pkey""".stripMargin
    }),

    // Blocking-quality audit: reduction ratio from COUNT relations only
    // (no pair materialized) + pair completeness on a deterministic
    // record sample whose all-pairs JW truth is computable — the RR↑ vs
    // PC↓ instrument that places a blocking scheme in its design space.
    Gate("er_blocking_audit", (s, d) => {
      operators.EntityResolution.blockingAudit(Tables.customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
        minSim = 0.97, sampleMod = 10)
    },
      // count-only RR; sample all-pairs JW truth with block-equality flag
      """WITH n AS (SELECT COUNT(*) AS n_records FROM customer),
        |cand AS (SELECT COALESCE(CAST(SUM(c * (c - 1) // 2) AS BIGINT), 0)
        |    AS n_candidates
        |  FROM (SELECT COUNT(*) AS c FROM customer
        |    GROUP BY c_nationkey, c_mktsegment)),
        |s AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 10 = 0),
        |sn AS (SELECT COUNT(*) AS sample_n FROM s),
        |tr AS (SELECT COUNT(*) AS n_true,
        |    CAST(SUM(CASE WHEN a.c_nationkey = b.c_nationkey
        |      AND a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_captured
        |  FROM s a JOIN s b ON a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97)
        |SELECT n_records, n_records * (n_records - 1) // 2 AS total_pairs,
        |  n_candidates,
        |  ROUND(1.0 - CAST(n_candidates AS DOUBLE) /
        |    CAST(n_records * (n_records - 1) // 2 AS DOUBLE), 6)
        |    AS reduction_ratio,
        |  sample_n, COALESCE(n_true, 0) AS n_true,
        |  COALESCE(n_captured, 0) AS n_captured,
        |  CASE WHEN COALESCE(n_true, 0) > 0 THEN
        |    ROUND(CAST(n_captured AS DOUBLE) / CAST(n_true AS DOUBLE), 6)
        |  END AS pair_completeness
        |FROM n, cand, sn, tr""".stripMargin),

    // Sorted-neighborhood blocking: rank by name, compare each record to
    // its next 4 neighbors — catches the cross-block near-matches hash
    // blocking misses, at a fixed n·(w−1) candidate budget.
    Gate("er_sorted_neighborhood", (s, d) => {
      operators.EntityResolution.sortedNeighborhoodPairs(
        Tables.customer(s, d), "c_custkey", "c_name",
        windowSize = 5, minSim = 0.97)
        .orderBy(col("a"), col("b"))
    },
      // same total-order ranks, same offset join, same rounded JW gate
      """WITH rk AS (SELECT c_custkey, c_name,
        |    ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rk
        |  FROM customer),
        |cand AS (SELECT l.c_custkey AS a, l.c_name AS na,
        |    r.c_custkey AS b, r.c_name AS nb
        |  FROM rk l CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS off) o
        |  JOIN rk r ON r.rk = l.rk + o.off)
        |SELECT a, b, ROUND(jaro_winkler_similarity(na, nb), 6) AS sim
        |FROM cand
        |WHERE ROUND(jaro_winkler_similarity(na, nb), 6) >= 0.97
        |ORDER BY a, b""".stripMargin),

    // The full linkage: same blocked pair graph closed to entity ids via
    // the size-adaptive component resolver (min-id labels; singletons
    // label themselves).
    Gate("er_entities", (s, d) => {
      operators.EntityResolution.entities(Tables.customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
        minSim = 0.97)
        .orderBy(col("id"))
    },
      // same pair graph closed with the recursive-reach min-label pattern
      // (dedup_components' oracle shape)
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1)
        |SELECT c.c_custkey AS id,
        |  least(c.c_custkey, coalesce(m.mn, c.c_custkey)) AS component
        |FROM customer c LEFT JOIN mins m ON c.c_custkey = m.src
        |ORDER BY id""".stripMargin),

    // Merge-conflict audit: per multi-member entity, do members agree on
    // a strong attribute the block key doesn't force equal (name length
    // here — near-identical names at JW ≥ 0.97 usually agree; a chained
    // A≈B≈C over-merge is where they don't). Post-closure governance,
    // the PRE-closure blocking audits' missing twin.
    Gate("er_conflict_audit", (s, d) => {
      operators.EntityResolution.conflictAudit(Tables.customer(s, d),
        "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
        minSim = 0.97, strongCol = length(col("c_name")))
        .orderBy(col("component"))
    },
      // the er_entities closure + a strong-attribute census per entity
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
        |lab AS (SELECT c.c_custkey AS id,
        |    least(c.c_custkey, coalesce(m.mn, c.c_custkey)) AS component,
        |    length(c.c_name) AS strong
        |  FROM customer c LEFT JOIN mins m ON c.c_custkey = m.src)
        |SELECT component, COUNT(*) AS n_members,
        |  COUNT(DISTINCT strong) AS n_strong_values,
        |  COUNT(DISTINCT strong) > 1 AS conflict
        |FROM lab GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY component""".stripMargin),

    // Survivorship (golden records) — the step AFTER entity resolution
    // that MDM actually ships: one record per resolved entity, each field
    // by its own rule (name: longest-then-lexicographic; categorical
    // fields: mode with min tie-break). Deterministic rules only — no
    // "first seen", which depends on arrival order. The entity-joined
    // relation checkpoints at its fan-out (member count + three ranked
    // field picks all read it); everything downstream is component grain.
    Gate("er_golden_record", (s, d) => {
      val cust = Tables.customer(s, d)
      val ent = operators.EntityResolution.entities(cust, "c_custkey",
        "c_name", Seq("c_nationkey", "c_mktsegment"), minSim = 0.97)
      val full = cust.join(ent, col("c_custkey") === col("id"))
        .select(col("component"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"))
        .localCheckpoint()
      val nm = full.withColumn("rk", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(length(col("c_name")).desc, col("c_name"))))
        .where(col("rk") === 1)
        .select(col("component"), col("c_name").as("golden_name"))
      def moded(c: String, out: String) = full.groupBy(col("component"), col(c))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("component"))
            .orderBy(col("cnt").desc, col(c))))
        .where(col("rk") === 1)
        .select(col("component"), col(c).as(out))
      full.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
        .join(nm, "component")
        .join(moded("c_nationkey", "golden_nationkey"), "component")
        .join(moded("c_mktsegment", "golden_mktsegment"), "component")
        .select(col("component").as("entity_id"), col("n_members"),
          col("golden_name"), col("golden_nationkey"),
          col("golden_mktsegment"))
        .orderBy(col("entity_id"))
    },
      // the er_entities component chain + per-field survivorship picks
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS a, b.c_custkey AS b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |    AND a.c_mktsegment = b.c_mktsegment
        |    AND a.c_custkey < b.c_custkey
        |  WHERE ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.97),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |  UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
        |ent AS (
        |  SELECT least(c.c_custkey, coalesce(m.mn, c.c_custkey)) AS component,
        |    c.c_name, c.c_nationkey, c.c_mktsegment
        |  FROM customer c LEFT JOIN mins m ON c.c_custkey = m.src),
        |nm AS (
        |  SELECT component, c_name AS golden_name FROM (
        |    SELECT component, c_name,
        |      ROW_NUMBER() OVER (PARTITION BY component
        |        ORDER BY length(c_name) DESC, c_name) AS rk
        |    FROM ent) WHERE rk = 1),
        |nk AS (
        |  SELECT component, c_nationkey AS golden_nationkey FROM (
        |    SELECT component, c_nationkey,
        |      ROW_NUMBER() OVER (PARTITION BY component
        |        ORDER BY COUNT(*) DESC, c_nationkey) AS rk
        |    FROM ent GROUP BY component, c_nationkey) WHERE rk = 1),
        |mk AS (
        |  SELECT component, c_mktsegment AS golden_mktsegment FROM (
        |    SELECT component, c_mktsegment,
        |      ROW_NUMBER() OVER (PARTITION BY component
        |        ORDER BY COUNT(*) DESC, c_mktsegment) AS rk
        |    FROM ent GROUP BY component, c_mktsegment) WHERE rk = 1),
        |cnt AS (SELECT component, COUNT(*) AS n_members FROM ent GROUP BY 1)
        |SELECT component AS entity_id, n_members, golden_name,
        |  golden_nationkey, golden_mktsegment
        |FROM cnt JOIN nm USING (component) JOIN nk USING (component)
        |  JOIN mk USING (component)
        |ORDER BY entity_id""".stripMargin),

    // Blocking-quality audit for entity resolution — the two numbers
    // every blocking scheme is judged by: reduction ratio (how much of
    // the n² pair space the blocks prune) and pair completeness (how
    // many TRUE matches survive the pruning). Ground truth is exact
    // Jaro-Winkler ≥ 0.94 over a bounded panel (the audit's quadratic
    // is panel², never corpus² — you sample the audit, not the ER run).
    Gate("er_blocking_truth_audit", (s, d) => {
      val panel = Tables.customer(s, d).where(col("c_custkey") <= 300)
        .select(col("c_custkey").as("id"), col("c_name").as("nm"),
          col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .localCheckpoint()
      val l = panel.select(col("id").as("a"), col("nm").as("na"),
        col("nk").as("nka"), col("seg").as("sega"))
      val r = panel.select(col("id").as("b"), col("nm").as("nb"),
        col("nk").as("nkb"), col("seg").as("segb"))
      val all = l.crossJoin(r).where(col("a") < col("b"))
        .withColumn("is_true", (round(functions.JaroWinkler.sim(
          col("na"), col("nb")), 6) >= 0.94).cast("int"))
        .withColumn("is_cand",
          (col("nka") === col("nkb") && col("sega") === col("segb"))
            .cast("int"))
      all.agg(count(lit(1)).as("n_all_pairs"),
          sum(col("is_cand")).cast("long").as("n_cand"),
          sum(col("is_true")).cast("long").as("n_true"),
          sum(col("is_true") * col("is_cand")).cast("long").as("n_found"))
        .select(col("n_all_pairs"), col("n_cand"), col("n_true"),
          col("n_found"),
          expr("(1000000 * n_found) div n_true").as("pc_micro"),
          expr("1000000 - (1000000 * n_cand) div n_all_pairs")
            .as("rr_micro"))
    },
      """WITH p AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nk,
        |    c_mktsegment AS seg
        |  FROM customer WHERE c_custkey <= 300),
        |pairs AS (
        |  SELECT l.id AS a, r.id AS b,
        |    CASE WHEN ROUND(jaro_winkler_similarity(l.nm, r.nm), 6) >= 0.94
        |      THEN 1 ELSE 0 END AS is_true,
        |    CASE WHEN l.nk = r.nk AND l.seg = r.seg THEN 1 ELSE 0 END
        |      AS is_cand
        |  FROM p l JOIN p r ON l.id < r.id)
        |SELECT COUNT(*) AS n_all_pairs,
        |  CAST(SUM(is_cand) AS BIGINT) AS n_cand,
        |  CAST(SUM(is_true) AS BIGINT) AS n_true,
        |  CAST(SUM(is_true * is_cand) AS BIGINT) AS n_found,
        |  CAST((1000000 * SUM(is_true * is_cand)) // SUM(is_true)
        |    AS BIGINT) AS pc_micro,
        |  CAST(1000000 - (1000000 * SUM(is_cand)) // COUNT(*) AS BIGINT)
        |    AS rr_micro
        |FROM pairs""".stripMargin),

    // Fellegi-Sunter linkage scoring — the probabilistic record-linkage
    // decision model over the agreement-pattern lattice: three feature
    // agreements (name JW ≥ 0.94, nation, segment) on a bounded panel,
    // likelihood ratio Π (mᵢ/uᵢ or (1−mᵢ)/(1−uᵢ)) from literal m/u
    // parameters in FIXED feature order (same three multiplies both
    // engines), thresholded into link / possible / non-link. Pattern
    // grain: 8 rows whatever the corpus.
    Gate("er_fellegi_sunter", (s, d) => {
      val panel = Tables.customer(s, d).where(col("c_custkey") <= 200)
        .select(col("c_custkey").as("id"), col("c_name").as("nm"),
          col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .localCheckpoint()
      val l = panel.select(col("id").as("a"), col("nm").as("na"),
        col("nk").as("nka"), col("seg").as("sega"))
      val r = panel.select(col("id").as("b"), col("nm").as("nb"),
        col("nk").as("nkb"), col("seg").as("segb"))
      val pat = l.crossJoin(r).where(col("a") < col("b"))
        .select(
          (round(functions.JaroWinkler.sim(col("na"), col("nb")), 6)
            >= 0.94).cast("int").as("a1"),
          (col("nka") === col("nkb")).cast("int").as("a2"),
          (col("sega") === col("segb")).cast("int").as("a3"))
        .groupBy(col("a1"), col("a2"), col("a3"))
        .agg(count(lit(1)).as("n_pairs"))
      pat.withColumn("score", round(
          expr("case when a1 = 1 then 0.95e0 / 0.05e0 else 0.05e0 / 0.95e0 end")
            * expr("case when a2 = 1 then 0.9e0 / 0.04e0 else 0.1e0 / 0.96e0 end")
            * expr("case when a3 = 1 then 0.85e0 / 0.2e0 else 0.15e0 / 0.8e0 end"),
          6))
        .withColumn("decision",
          when(col("score") > 100, "link")
            .when(col("score") > 1, "possible").otherwise("non-link"))
        .orderBy(col("a1"), col("a2"), col("a3"))
    },
      """WITH p AS (
        |  SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nk,
        |    c_mktsegment AS seg
        |  FROM customer WHERE c_custkey <= 200),
        |pat AS (
        |  SELECT
        |    CASE WHEN ROUND(jaro_winkler_similarity(l.nm, r.nm), 6) >= 0.94
        |      THEN 1 ELSE 0 END AS a1,
        |    CASE WHEN l.nk = r.nk THEN 1 ELSE 0 END AS a2,
        |    CASE WHEN l.seg = r.seg THEN 1 ELSE 0 END AS a3
        |  FROM p l JOIN p r ON l.id < r.id),
        |g AS (
        |  SELECT CAST(a1 AS INTEGER) AS a1, CAST(a2 AS INTEGER) AS a2,
        |    CAST(a3 AS INTEGER) AS a3, COUNT(*) AS n_pairs
        |  FROM pat GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT a1, a2, a3, n_pairs,
        |    ROUND((CASE WHEN a1 = 1 THEN 0.95e0 / 0.05e0 ELSE 0.05e0 / 0.95e0 END)
        |      * (CASE WHEN a2 = 1 THEN 0.9e0 / 0.04e0 ELSE 0.1e0 / 0.96e0 END)
        |      * (CASE WHEN a3 = 1 THEN 0.85e0 / 0.2e0 ELSE 0.15e0 / 0.8e0 END), 6)
        |      AS score
        |  FROM g)
        |SELECT a1, a2, a3, n_pairs, score,
        |  CASE WHEN score > 100 THEN 'link'
        |    WHEN score > 1 THEN 'possible' ELSE 'non-link' END AS decision
        |FROM sc ORDER BY a1, a2, a3""".stripMargin),
  )
}
