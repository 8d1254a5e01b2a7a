package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data profiling — the ANALYZE-style artifacts a pipeline's health
  * checks read: per-column statistics and statistics-driven value
  * histograms. Both are one-pass, combiner-heavy shapes that hold at any
  * scale; both exist in the reference's world as Qdrant collection
  * telemetry (point counts, payload-index cardinalities) and here become
  * first-class queries.
  */
object Profiling {

  /** Long-form column profile: one row per requested column with
    * `(column, n_rows, n_nulls, n_distinct, min_str, max_str)`.
    *
    * Physical shape (the naive all-in-one `agg` is a trap): string
    * min/max buffers are immutable, which drops the WHOLE aggregate to
    * SortAggregate — combined with the multi-DISTINCT Expand that means
    * fully sorting (cols+1)× the input on a wide key (measured 4.2 s on
    * 600k rows). Instead:
    *   - counts + min/max run in one no-grouping agg: empty grouping key
    *     means SortAggregate needs NO sort — a streaming fold per
    *     partition plus a single-row merge;
    *   - the exact distinct counts run in a separate agg whose buffers
    *     are all longs, so the Expand feeds hash aggregation throughout;
    *   - the two single rows cross-join (trivially broadcast) and the
    *     result is unpivoted plan-side with `stack`, never collected.
    * With `exact = false` the distincts become `approx_count_distinct`
    * (fixed-size HLL buffers) and everything fuses into ONE pass with no
    * Expand — the 100 TB default; exact mode is the oracle/audit path.
    * min/max stringify via CAST — callers profiling double columns whose
    * magnitude crosses 1e7 should pre-format them (engines disagree on
    * scientific notation there).
    */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty)
    // internal aliases are INDEX-based (cnt_0, min_0, …) so no
    // user-supplied name ever appears as a SQL identifier in the stack()
    // string below; the column's display name enters only as an escaped
    // string literal
    val idx = cols.zipWithIndex
    def c0(c: String) = col("`" + c.replace("`", "``") + "`")
    val basicAggs = idx.flatMap { case (c, i) =>
      Seq(count(c0(c)).as(s"cnt_$i"),
        min(c0(c)).cast("string").as(s"min_$i"),
        max(c0(c)).cast("string").as(s"max_$i"))
    }
    val row =
      if (exact) {
        val dstAggs = idx.map { case (c, i) => countDistinct(c0(c)).as(s"dst_$i") }
        df.agg(count(lit(1)).as("n_rows_"), basicAggs: _*)
          .crossJoin(df.agg(dstAggs.head, dstAggs.tail: _*))
      } else {
        val dstAggs = idx.map { case (c, i) => approx_count_distinct(c0(c)).as(s"dst_$i") }
        df.agg(count(lit(1)).as("n_rows_"), (basicAggs ++ dstAggs): _*)
      }
    val stacked = idx.map { case (c, i) =>
      val nameLit = c.replace("\\", "\\\\").replace("'", "\\'")
      s"'$nameLit', n_rows_, n_rows_ - cnt_$i, dst_$i, min_$i, max_$i"
    }.mkString(", ")
    row.select(expr(
      s"stack(${cols.size}, $stacked) AS (column, n_rows, n_nulls, n_distinct, min_str, max_str)"))
  }

  /** Equi-width value histogram per group with statistics-driven bounds:
    * `buckets` bins over the column's observed [min, max], the top edge
    * closed (a max-valued row lands in the last bin via `least`). Bounds
    * come from one min/max aggregate (two doubles to the driver); the
    * binning itself is a pure per-row Column tree and the only shuffle is
    * the (group, bucket) count — uniform keys, combiner-heavy. NULL
    * values are excluded (they are the profiler's `n_nulls`, not a bin).
    */
  def histogram(df: DataFrame, valueCol: String, groupCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1)
    val b = df.agg(min(col(valueCol)).cast("double"),
      max(col(valueCol)).cast("double")).collect()(0)
    require(!b.isNullAt(0), "histogram: no non-null values")
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val w = (hi - lo) / buckets
    val bucket =
      if (w == 0.0) lit(0) // constant column: everything in bin 0
      else least(floor((col(valueCol).cast("double") - lit(lo)) / lit(w)),
        lit(buckets - 1)).cast("int")
    df.where(col(valueCol).isNotNull)
      .withColumn("bucket", bucket)
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Data-contract expectations — the dbt-test / Great-Expectations
    * shape: named per-rule violation counts plus a pass flag, ALL
    * evaluated in ONE aggregation pass (each predicate is a conditional
    * sum; uniqueness checks ride the same agg as `count − countDistinct`,
    * whose all-long buffers keep the multi-distinct Expand on hash
    * aggregation — the [[profile]] lesson). The single aggregated row is
    * stack-unpivoted plan-side, never collected. Output:
    * (rule, n_rows, n_violations, pass), one row per rule.
    *
    * `rules` maps rule name → VIOLATION predicate (true = bad row);
    * `uniqueCols` adds a `unique_<col>` rule per column.
    */
  def expectations(df: DataFrame, rules: Seq[(String, org.apache.spark.sql.Column)],
      uniqueCols: Seq[String] = Nil): DataFrame = {
    require(rules.nonEmpty || uniqueCols.nonEmpty)
    val ruleAggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"v_$i")
    }
    val uniqAggs = uniqueCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"uc_$i"), countDistinct(col(c)).as(s"ud_$i"))
    }
    val row = df.agg(count(lit(1)).as("n_rows_"), (ruleAggs ++ uniqAggs): _*)
    // rule names are display strings spliced into a SQL stack() — escape
    // quotes so "isn't null" can't break (or silently re-shape) the parse
    def q(s: String) = s.replace("'", "''")
    val stacked = (
      rules.zipWithIndex.map { case ((name, _), i) => s"'${q(name)}', n_rows_, v_$i" } ++
      uniqueCols.zipWithIndex.map { case (c, i) =>
        s"'unique_${q(c)}', n_rows_, uc_$i - ud_$i" }
    ).mkString(", ")
    val n = rules.size + uniqueCols.size
    row.select(expr(
      s"stack($n, $stacked) AS (rule, n_rows, n_violations)"))
      .withColumn("pass", col("n_violations") === 0L)
  }

  /** Join-key frequency-of-frequencies — the skew diagnostic read before
    * planning a join on `keyCol` (feeds SkewJoin.bucketsFor / hotKeys
    * thresholds): how many keys appear once, how many appear a million
    * times. Two combiner-heavy aggregations; the second one's input is
    * already key-cardinality-sized, and its key space (distinct
    * frequencies) is tiny. NULL keys count as a group — a null-heavy join
    * key is exactly what this report exists to expose.
    */
  def keyFrequencyProfile(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("rows_per_key"))
      .groupBy(col("rows_per_key"))
      .agg(count(lit(1)).as("n_keys"))

  /** Distribution drift report between two slices of the same column —
    * the data-drift check ML pipelines run before trusting a new batch
    * (input shift, upstream breakage, seasonality). Deliberately NOT a
    * PSI/KL score: those need ln(), which is not correctly-rounded across
    * engines; per-bucket share deltas (total variation mass) carry the
    * same signal with only exact-integer ratios.
    *
    * Shared equi-width bins from ONE min/max aggregate over the UNION of
    * both slices (two scalars to the driver — bins must be shared or the
    * comparison is meaningless); per-side bucket counts in one combined
    * aggregation over a side tag (no second scan, no join of two
    * histograms); shares are single divisions of exact integers. Output:
    * one row per bucket with counts, shares, and |Δshare|; Σ|Δshare|/2 is
    * the total variation distance if a scalar is wanted downstream.
    */
  def histogramDrift(before: DataFrame, after: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1)
    val b = before.select(col(valueCol)).unionAll(after.select(col(valueCol)))
      .agg(min(col(valueCol)).cast("double"), max(col(valueCol)).cast("double"))
      .collect()(0)
    require(!b.isNullAt(0), "histogramDrift: no non-null values")
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val w = (hi - lo) / buckets
    val bucket =
      if (w == 0.0) lit(0)
      else least(floor((col(valueCol).cast("double") - lit(lo)) / lit(w)),
        lit(buckets - 1)).cast("int")
    val tagged = before.select(col(valueCol)).withColumn("side_", lit("b"))
      .unionAll(after.select(col(valueCol)).withColumn("side_", lit("a")))
    val counts = tagged
      .where(col(valueCol).isNotNull)
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(sum(when(col("side_") === "b", 1L).otherwise(0L)).as("n_before"),
        sum(when(col("side_") === "a", 1L).otherwise(0L)).as("n_after"))
    val totals = Window.partitionBy(lit(1))
    counts
      .withColumn("p_before",
        round(col("n_before").cast("double") /
          sum(col("n_before")).over(totals), 6))
      .withColumn("p_after",
        round(col("n_after").cast("double") /
          sum(col("n_after")).over(totals), 6))
      .withColumn("d_share", round(abs(col("p_after") - col("p_before")), 6))
  }

  /** Embedding covariance/correlation matrix — the whitening / PCA
    * pre-flight (are dimensions redundant? is the space isotropic enough
    * for the RHP/IVF tiers?). For every dimension pair i ≤ j:
    * `cov_ij = (Σ xᵢxⱼ − Σxᵢ·Σxⱼ/n)/n`, correlation from the ROUNDED
    * covariances so both factors are engine-identical before the
    * division; sqrt is IEEE correctly-rounded (unlike ln/exp), so corr
    * is as portable as cov.
    *
    * Determinism: each xᵢxⱼ product is one exact double multiply, summed
    * through DECIMAL (order-independent); the d(d+1)/2-term expansion is
    * per-row (no shuffle) into ONE combiner-heavy (i, j) aggregation.
    * Cost is n·d²/2 expanded rows — at 100 TB run it on a sample; the
    * statistic converges long before the corpus ends.
    */
  def embeddingCovariance(vecs: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 2)
    val spark = vecs.sparkSession
    import spark.implicits._
    val n = vecs.count()
    require(n > 0, "embeddingCovariance: empty input")
    // ONE pass: d(d+1)/2 per-row pair expansion into a single
    // combiner-heavy agg; Σxᵢ rides the diagonal rows of the SAME agg
    // (sum(xi) over (i,i) rows = S_i), so the expensive expansion is
    // never re-planned for the moment tables
    val stats = vecs
      .select(explode(transform(sequence(lit(0), lit(dims - 1)),
        i => struct(i.as("i"),
          element_at(col(vecCol), i + 1).cast("double").as("xi")))).as("a"),
        col(vecCol).as("v_"))
      .select(col("a.i").as("i"), col("a.xi").as("xi"),
        explode(transform(sequence(col("a.i"), lit(dims - 1)),
          j => struct(j.as("j"),
            element_at(col("v_"), j + 1).cast("double").as("xj")))).as("b"))
      .select(col("i"), col("b.j").as("j"),
        (col("xi") * col("b.xj")).cast("decimal(28,16)").as("prod"),
        col("xi").cast("decimal(28,16)").as("xi_d"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("prod")).as("s_ij"), sum(col("xi_d")).as("sxi"))
      .collect() // d(d+1)/2 rows — model-size, the centroidsFromLong bound
    // moments are exact decimals; the double chain below is the same IEEE
    // ops as the SQL oracle, and round6 mirrors Spark's HALF_UP round
    // + 0.0 collapses IEEE −0.0 to +0.0 (the oracle SQL appends the same
    // term after ROUND) — value-equal cells must also be byte-equal
    def r6(v: Double): Double =
      BigDecimal(java.math.BigDecimal.valueOf(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val sMap = stats.map(r => (r.getInt(0), r.getInt(1)) ->
      ((r.getDecimal(2).doubleValue, r.getDecimal(3).doubleValue))).toMap
    val sI = (0 until dims).map(i => i -> sMap((i, i))._2).toMap
    val cov = sMap.map { case ((i, j), (sij, _)) =>
      (i, j) -> r6((sij - sI(i) * sI(j) / n) / n)
    }
    val rows = cov.toSeq.sortBy(_._1).map { case ((i, j), c) =>
      val vi = cov((i, i)); val vj = cov((j, j))
      val corr = if (vi > 0 && vj > 0) Some(r6(c / math.sqrt(vi * vj))) else None
      (i, j, c, corr)
    }
    rows.toDF("i", "j", "cov", "corr")
  }

  /** Dominant principal component by max-abs-normalized power iteration
    * over [[embeddingCovariance]]'s matrix. The distributed work is the
    * one covariance pass; the iteration itself is d²-scale driver math —
    * exactly where a 100 TB PCA runs it too (the model is tiny, the data
    * is not). Determinism: each round's matrix×vector goes through
    * floor((c·v)·2^30) BIGINT sums (order-free integers), normalization
    * divides by the integer max-abs (any norm works for power iteration;
    * max-abs needs no cross-engine sqrt-of-sum), and components re-round
    * to 6 half-up — the oracle unrolls the same rounds CTE-for-CTE, so
    * every intermediate is bit-identical. Sign follows the all-ones
    * start, same on both engines.
    */
  def pcaPower(vecs: DataFrame, vecCol: String, dims: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    val spark = vecs.sparkSession
    import spark.implicits._
    val cells = embeddingCovariance(vecs, vecCol, dims)
      .select(col("i"), col("j"), col("cov")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    def c(i: Int, j: Int): Double =
      cells.getOrElse((math.min(i, j), math.max(i, j)), 0.0)
    def r6(v: Double): Double = // + 0.0: −0.0 → +0.0, mirrors oracle
      BigDecimal(java.math.BigDecimal.valueOf(v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    var v = Array.fill(dims)(1.0)
    var scale = 0L
    for (_ <- 1 to rounds) {
      val mv = Array.tabulate(dims)(i => (0 until dims).map(j =>
        math.floor((c(i, j) * v(j)) * 1073741824.0).toLong).sum)
      scale = mv.map(math.abs).max
      require(scale > 0, "pcaPower: zero covariance matrix")
      v = mv.map(m => r6(m.toDouble / scale.toDouble))
    }
    val lambda = r6(scale.toDouble / 1073741824.0)
    spark.createDataFrame(
      v.zipWithIndex.toSeq.map { case (l, p) => (p, l, lambda) })
      .toDF("pos", "loading", "lambda")
  }

  /** Functional-dependency discovery (TANE-lite): for each candidate
    * pair X → Y, the violation mass Σ_x (distinct-Y-per-x − 1) — zero
    * iff the FD holds exactly — plus group counts, from ONE
    * combiner-heavy (x, y) distinct + count per pair. The
    * schema-inference pre-flight that finds the real keys and
    * denormalization opportunities in an undocumented 100 TB dump
    * before anyone trusts a join on them. All-integer.
    * Output per pair: (determinant, dependent, n_groups, n_violations,
    * holds).
    */
  def fdViolations(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty)
    pairs.map { case (x, y) =>
      df.select(col(x).as("x_"), col(y).as("y_")).distinct()
        .groupBy(col("x_")).agg(count(lit(1)).as("ndv_"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("ndv_") - 1).as("n_violations"))
        .select(lit(x).as("determinant"), lit(y).as("dependent"),
          col("n_groups"), col("n_violations"),
          (col("n_violations") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Inclusion-dependency discovery — the FOREIGN-KEY finder that pairs
    * with [[fdViolations]]'s key finder: A ⊆ B holds iff no distinct
    * A-value is missing from B (one distinct + one anti-join per
    * candidate, never row-scale joins). A holding IND is a joinable
    * edge in an undocumented schema; the violation count says how
    * dirty a almost-FK is before anyone writes the join that silently
    * drops those rows. Output per candidate: (candidate,
    * n_left_distinct, n_missing, holds).
    */
  def indViolations(
      cands: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(cands.nonEmpty)
    cands.map { case (label, lf, lc, rf, rc) =>
      val lv = lf.select(col(lc).as("v_")).where(col("v_").isNotNull).distinct()
      val rv = rf.select(col(rc).as("v_")).where(col("v_").isNotNull).distinct()
      val missing = lv.join(rv, Seq("v_"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      lv.agg(count(lit(1)).as("n_left_distinct"))
        .crossJoin(missing)
        .select(lit(label).as("candidate"), col("n_left_distinct"),
          col("n_missing"), (col("n_missing") === 0).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Monotonicity audit: for each value column, the count of adjacent
    * DESCENTS when rows are read in `orderCol` order — zero means the
    * column is already sorted in that order (merge/as-of strategies and
    * parquet min/max pruning get it for free), and the descent count
    * says how far from sorted it is. One total-order window per value
    * column; integers throughout. Output: (value_col, n_rows,
    * n_descents, sorted).
    */
  def monotonicityAudit(df: DataFrame, orderCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(orderCol))
    // one shared ordered pass for every column (the runLengthAudit
    // one-sort treatment — the global sort is this audit's cost)
    // value columns are aliased v<i>_, so every staged name is unique: a
    // column listed twice would otherwise make its desc_/d_ names collide
    val vs = valueCols.indices.map(i => s"v${i}_")
    val desc = df.select(col(orderCol) +: valueCols.zip(vs).map { case (v, a) =>
        col(v).as(a) }: _*)
      .select(vs.map(v =>
        when(lag(col(v), 1).over(w) > col(v), 1L).otherwise(0L)
          .as(s"desc_${v}")): _*)
    val one = desc.agg(count(lit(1)).as("n_rows"),
      vs.map(v => sum(col(s"desc_${v}")).as(s"d_${v}")): _*)
      .localCheckpoint()
    valueCols.zip(vs).map { case (v, a) =>
      one.select(lit(v).as("value_col"), col("n_rows"),
        col(s"d_${a}").as("n_descents"),
        (col(s"d_${a}") === 0).as("sorted"))
    }.reduce(_ unionByName _)
  }

  /** Run-length (RLE) advisor: how well each column would RLE-compress
    * under a given sort order — n_runs = 1 + Σ (value ≠ previous), and
    * the average run length in integer fixed-point (×1000). The
    * columnar-encoding pre-flight behind "sort by X before writing":
    * a 1000-row column with 5 runs RLEs ~200×, the same column in hash
    * order doesn't. Null-safe change detection (a null→value edge is a
    * run boundary). Output: (value_col, n_rows, n_runs, avg_run_x1000).
    */
  def runLengthAudit(df: DataFrame, orderCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty && valueCols.nonEmpty)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(orderCols.map(col): _*)
    // ONE global sort carries every column's lag comparison (all lag
    // expressions share the window spec, so Spark plans a single Window
    // operator): the per-column form paid the whole ordered pass —
    // a single-task sort, this audit's dominant cost — once PER column
    // (r13 TimeOne: 3.41 -> 1.47 s warm at 3 columns on lineitem sf0.1).
    // The 1-row aggregate is checkpointed so the per-column output
    // branches don't re-execute the sort; run math is unchanged.
    // value columns aliased v<i>_, as in monotonicityAudit
    val vs = valueCols.indices.map(i => s"v${i}_")
    val chg = df.select(orderCols.map(col) ++ valueCols.zip(vs).map {
        case (v, a) => col(v).as(a) }: _*)
      .select(vs.map(v =>
        when(col(v) <=> lag(col(v), 1).over(w), 0L).otherwise(1L)
          .as(s"chg_${v}")): _*)
    val one = chg.agg(count(lit(1)).as("n_rows"),
      vs.map(v => sum(col(s"chg_${v}")).as(s"runs_${v}")): _*)
      .localCheckpoint()
    valueCols.zip(vs).map { case (v, a) =>
      one.select(lit(v).as("value_col"), col("n_rows"),
        col(s"runs_${a}").as("n_runs"))
        .select(col("value_col"), col("n_rows"), col("n_runs"),
          expr("(n_rows * 1000) div greatest(n_runs, 1L)").as("avg_run_x1000"))
    }.reduce(_ unionByName _)
  }

  /** Unique-column-combination discovery — the KEY finder completing
    * the dependency-profiling trio ([[fdViolations]] FDs,
    * [[indViolations]] FKs, this one candidate keys): a combo is a key
    * iff its distinct count equals the row count; `n_rows − n_distinct`
    * is the duplicate mass an almost-key carries. One distinct+count
    * pass per candidate combo. Output: (candidate, n_rows, n_distinct,
    * is_key).
    */
  def keyDiscovery(df: DataFrame, combos: Seq[Seq[String]]): DataFrame = {
    require(combos.nonEmpty && combos.forall(_.nonEmpty))
    combos.map { cols =>
      df.agg(count(lit(1)).as("n_rows"))
        .crossJoin(df.select(cols.map(col): _*).distinct()
          .agg(count(lit(1)).as("n_distinct")))
        .select(lit(cols.mkString(",")).as("candidate"), col("n_rows"),
          col("n_distinct"), (col("n_rows") === col("n_distinct")).as("is_key"))
    }.reduce(_ unionByName _)
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938): organic
    * multi-scale magnitudes put digit d first with probability
    * log10(1+1/d) — fabricated or truncated numbers don't. The nine
    * expected shares are HARDCODED LITERALS (log10 at fixed arguments —
    * constants, not runtime libm), so the audit stays engine-exact:
    * observed integer counts, one share division, literal expectation,
    * rounded deviation. The forensic pre-flight for any money/metric
    * column. Output per digit: (digit, n, share, expected, deviation).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    // log10(1 + 1/d), d = 1..9, to 6 dp
    val expected = Seq(0.30103, 0.176091, 0.124939, 0.09691, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    // first digit via the INTEGER part's string — double→string
    // formatting is engine-specific (scientific notation thresholds),
    // int64→string is not
    val digit = substring(floor(abs(col(valueCol))).cast("long")
      .cast("string"), 1, 1).cast("int")
    val expectedExpr = expected.zipWithIndex
      .foldLeft(lit(null).cast("double")) { case (acc, (e, i)) =>
        when(col("digit") === (i + 1), lit(e)).otherwise(acc)
      }
    df.where(abs(col(valueCol)) >= 1)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("total_", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total_").cast("double"), 6)
          .as("share"),
        expectedExpr.as("expected"),
        round(abs(col("n").cast("double") / col("total_").cast("double") -
          expectedExpr), 6).as("deviation"))
  }

  /** Partition-layout advisor: for each CANDIDATE partition expression,
    * the directory-count / balance / skew numbers that decide a store
    * layout — n_partitions (too many → small-files + metadata pressure),
    * rows in the biggest vs the median partition (the skew a hot
    * partition inflicts on every writer and compaction), and verdict
    * flags evaluated with the thresholds spelled out in the output
    * rather than buried in code. ONE combiner-heavy count per candidate
    * over the same scan; candidates are expressions, so `date(ts)` and
    * bucketing transforms audit exactly like raw columns.
    *
    * The advisor answers the question [[graft.sink.StoreLayout]] takes
    * as GIVEN (which columns to `partitionBy`) — measured on the data,
    * before the first write bakes a bad layout into 100 TB of
    * directories. Output per candidate: (candidate, n_partitions,
    * n_rows, max_rows, median_rows, skew_x1000, too_many, skewed).
    */
  def partitionAdvisor(df: DataFrame, candidates: Seq[(String, Column)],
      maxPartitions: Long = 10000L, skewMax: Double = 10.0): DataFrame = {
    require(candidates.nonEmpty)
    candidates.map { case (name, expr0) =>
      val per = df.select(expr0.as("pv_"))
        .groupBy(col("pv_")).agg(count(lit(1)).as("c_"))
      per.agg(count(lit(1)).as("n_partitions"),
          sum(col("c_")).as("n_rows"),
          max(col("c_")).as("max_rows"),
          expr("percentile(c_, 0.5)").as("med_"))
        .select(lit(name).as("candidate"), col("n_partitions"),
          col("n_rows"), col("max_rows"),
          // floor BEFORE the int cast: Spark's double→bigint cast
          // truncates but DuckDB's ROUNDS — floor() agrees everywhere
          expr("CAST(floor(med_) AS BIGINT)").as("median_rows"),
          // integer fixed-point skew (×1000) keeps the compare exact
          expr("(max_rows * 1000) div greatest(CAST(floor(med_) AS BIGINT), 1L)")
            .as("skew_x1000"),
          (col("n_partitions") > maxPartitions).as("too_many"),
          (expr("(max_rows * 1000) div greatest(CAST(floor(med_) AS BIGINT), 1L)")
            > (skewMax * 1000).toLong).as("skewed"))
    }.reduce(_ unionByName _)
  }

  /** k-anonymity audit over a quasi-identifier tuple (Sweeney 2002): an
    * equivalence class smaller than k re-identifies its members by the
    * quasi-identifiers alone — the privacy pre-flight a corpus release
    * runs BEFORE publishing, and the dual of the PII redaction pass
    * (X76 removes direct identifiers; this measures the indirect ones).
    * Output: one row per equivalence class (quasiCols..., class_size,
    * at_risk), so the caller can both count exposure and target
    * suppression/generalization at the violating classes.
    *
    * Physical shape at 100 TB: ONE combiner-heavy groupBy on the quasi
    * tuple — class counts, not rows, leave the executors. Skewed quasi
    * tuples (the giant "en/web" class) are absorbed map-side; the at-risk
    * tail is by definition the SMALL classes, so the interesting output
    * is never the hot keys.
    */
  /** Exact equi-join cardinality pre-flight — |A ⋈ B| = Σ_k cA(k)·cB(k)
    * computed from the two per-key COUNT relations, never the join
    * itself: two combiner-heavy aggregations + one key-count join whose
    * input is distinct keys, not rows. The answer a planner needs before
    * committing a 100 TB shuffle ("does this join explode, and on which
    * keys"), with the top contributors ranked — the keys
    * [[graft.operators.SkewJoin]]'s salting would target.
    *
    * All-integer until the one share division. Per-key products stay in
    * int64 to a 10^9×10^9 hot key; the TOTAL is summed through
    * DECIMAL(38,0) and emitted as long (the gate scale never overflows;
    * at web scale read the decimal before the cast).
    *
    * Output: top `k` keys by (key, n_left, n_right, pairs, total_pairs,
    * share), ties broken by key.
    */
  def joinCardinality(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, k: Int): DataFrame = {
    require(k >= 1)
    val ca = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val cb = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    val contrib = ca.join(cb, "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("pairs"))
    val total = contrib
      .agg(sum(col("pairs").cast("decimal(38,0)")).cast("long")
        .as("total_pairs"))
    contrib.crossJoin(broadcast(total))
      .select(col("key"), col("n_left"), col("n_right"), col("pairs"),
        col("total_pairs"),
        round(col("pairs").cast("double") /
          col("total_pairs").cast("double"), 6).as("share"))
      .orderBy(col("pairs").desc, col("key"))
      .limit(k)
  }

  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2)
    def qc(c: String) = col("`" + c.replace("`", "``") + "`")
    df.groupBy(quasiCols.map(qc): _*)
      .agg(count(lit(1)).as("class_size"))
      .select(quasiCols.map(qc) :+ col("class_size") :+
        (col("class_size") < k).as("at_risk"): _*)
  }

  /** Two-sample Kolmogorov–Smirnov distance in EXACT integers — the
    * distribution-drift statistic with NO binning choice (the histogram
    * drift audit's resolution is its bin width; KS has none): at every
    * distinct value v, the scaled ECDF gap is |i·m − j·n| (i, j =
    * at-or-below counts per sample — integer cross-multiplication
    * instead of the float i/n − j/m), D = max over v, divided once at
    * the end. Tie-proof by construction: the gap is evaluated per
    * DISTINCT value after both samples' ties are fully counted, so no
    * within-value order exists to disagree on.
    *
    * One (value)-grouped conditional count is the only row-scale pass;
    * the ordered cumsum runs over the distinct-VALUE series (its
    * single-partition sort is the distinct-value cardinality, not the
    * row count — for genuinely high-cardinality columns, range-partition
    * the sort and prefix-offset the partial cumsums, same contract).
    * Output one row: (n_before, n_after, d_scaled, ks, at_value) with
    * at_value = the smallest value attaining D.
    */
  def ksDrift(before: DataFrame, after: DataFrame,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = before
      .select(col(valueCol).as("v")).where(col("v").isNotNull)
      .select(col("v"), lit(1L).as("b"), lit(0L).as("a"))
      .unionAll(after
        .select(col(valueCol).as("v")).where(col("v").isNotNull)
        .select(col("v"), lit(0L).as("b"), lit(1L).as("a")))
    // the distinct-value series is the fan-out point (totals, cumsum,
    // argmax) — checkpoint it so the row-scale pass happens ONCE
    val per = tagged.groupBy(col("v"))
      .agg(sum(col("b")).as("cb"), sum(col("a")).as("ca"))
      .localCheckpoint()
    val tot = per.agg(sum(col("cb")).as("n"), sum(col("ca")).as("m"))
    val wc = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("i", sum(col("cb")).over(wc))
      .withColumn("j", sum(col("ca")).over(wc))
      .crossJoin(broadcast(tot))
      .withColumn("d", abs(col("i") * col("m") - col("j") * col("n")))
      .localCheckpoint()
    cum.crossJoin(broadcast(cum.agg(max(col("d")).as("d_scaled"))))
      .where(col("d") === col("d_scaled"))
      .orderBy(col("v")).limit(1)
      .select(col("n").as("n_before"), col("m").as("n_after"),
        col("d_scaled"),
        round(col("d_scaled").cast("double") /
          (col("n") * col("m")).cast("double"), 6).as("ks"),
        col("v").as("at_value"))
  }

  /** Pairwise Pearson correlation over a table's numeric columns in
    * EXACT integer moments — the feature-redundancy / leakage pre-flight
    * ("is this column just a rescaling of that one") run before any
    * model sees the table. Each column is quantized to integers by its
    * declared fixed-point multiplier (money ×100, counts ×1 — the
    * columns' true resolutions, so quantization is lossless), every
    * moment (Σx, Σxy, Σx²) is a DECIMAL(38) sum of exact products in
    * ONE combiner-heavy pass over the table, and corr is one final
    * double chain per pair — identical IEEE ops to the oracle, so the
    * rounded value is engine-exact. corr is scale-invariant, so the
    * multipliers cancel and never appear in the output.
    *
    * Physical shape at 100 TB: a single full-scan aggregate producing
    * k + k(k+1)/2 moment cells (column-count-sized, never row-sized);
    * the per-pair fan-out reads that one-row relation k(k−1)/2 times.
    * int128/DECIMAL(38) bound: n · max|x·scale|² must stay under 10^38
    * — 10^12 rows of 10^12-unit values fit with room.
    * Output: (col_x, col_y, n, corr) for each unordered pair.
    */
  def numericCorr(df: DataFrame, cols: Seq[(String, Long)]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8, "2..8 columns")
    def scaled(c: String, m: Long): Column =
      expr(s"CAST(ROUND(`${c.replace("`", "``")}` * $m) AS DECIMAL(38,0))")
    val aggs: Seq[Column] =
      cols.map { case (c, m) => sum(scaled(c, m)).as(s"s_$c") } ++
      (for { i <- cols.indices; j <- i until cols.size } yield
        sum(scaled(cols(i)._1, cols(i)._2) * scaled(cols(j)._1, cols(j)._2))
          .as(s"p_${i}_$j")) :+
      count(lit(1)).cast("decimal(38,0)").as("n_d") :+
      count(lit(1)).as("n")
    val m = df.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    def cm(i: Int, j: Int) =
      (col("n_d") * col(s"p_${i}_$j") -
        col(s"s_${cols(i)._1}") * col(s"s_${cols(j)._1}")).cast("double")
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield
      m.select(lit(cols(i)._1).as("col_x"), lit(cols(j)._1).as("col_y"),
        col("n"),
        round(cm(i, j) / (sqrt(cm(i, i)) * sqrt(cm(j, j))), 6).as("corr"))
    pairs.reduce(_ unionAll _).orderBy(col("col_x"), col("col_y"))
  }

  /** Robust per-group outlier audit on the median/MAD scale — the
    * anomaly pre-flight that survives the outliers it is hunting (mean/
    * stddev fences get dragged by the very tail they should flag). Both
    * statistics are EXACT order statistics, not interpolated quantiles:
    * the lower median is the element at rank ⌊(n+1)/2⌋ under the total
    * order (value, id) — engine-exact where interpolating medians split
    * on float arithmetic — and the MAD repeats the same rank trick on
    * |x − median| (an IEEE-exact-rounded subtraction both engines agree
    * on). A row is an outlier when |x − median| > k·MAD, the Hampel
    * identifier with integer k.
    *
    * Physical shape at 100 TB: two node-key windows + one small join
    * back — all shuffled on the group key (same skew caveat as every
    * per-group window: a dominant group serializes its partition; salt
    * or pre-filter it). Output per group:
    * (group_key, n, median, mad, n_outliers).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int = 3): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    val byV = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val byG = Window.partitionBy(col("g"))
    // both ranked relations are fan-out points (median select + the
    // deviation pass; MAD select + the final census) — checkpoint each
    // so the raw rows are ranked once, not once per lazy branch
    val ranked = df
      .select(col(groupCol).as("g"), col(valueCol).as("v"),
        col(idCol).as("id"))
      .withColumn("rn", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(byG))
      .localCheckpoint()
    val meds = ranked.where(col("rn") === expr("(n + 1) div 2"))
      .select(col("g"), col("v").as("med"))
    val byDev = Window.partitionBy(col("g")).orderBy(col("dev"), col("id"))
    val devs = ranked.join(meds, "g")
      .withColumn("dev", abs(col("v") - col("med")))
      .withColumn("rn2", row_number().over(byDev))
      .localCheckpoint()
    val mads = devs.where(col("rn2") === expr("(n + 1) div 2"))
      .select(col("g"), col("dev").as("mad"))
    devs.join(mads, "g")
      .groupBy(col("g").as("group_key"))
      .agg(max(col("n")).as("n"), max(col("med")).as("median"),
        max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("group_key"))
  }

  /** Calibration / reliability table for a score against a binary label —
    * "when the quality classifier says 0.8, is it right 80% of the
    * time": the pre-flight before TRUSTING a model score as a sampling
    * weight or filter threshold (the `sample_importance_dsir` /
    * `text_quality` consumers assume calibrated scores; this measures
    * whether they are). Complements `events_predictor_auc` (ranking
    * skill) with the orthogonal axis (probability faithfulness) and
    * `events_lift_deciles` (business yield) with the statistical one.
    *
    * Input: `scoreMicroCol` — the score in INTEGER micro-units (the
    * caller quantizes; keeping the contract integer makes every
    * aggregate exact), `labelCol` ∈ {0,1}. Scores are min-max normalized
    * to [0,1] probabilities IN INTEGER ARITHMETIC — p_micro =
    * (10^6·(s−min)) div (max−min) — and cut into `bins` equal-width
    * probability bins by integer division.
    *
    * Per bin, everything is one exact BIGINT aggregate then ONE float
    * division: mean predicted probability, observed positive rate, and
    * the Brier contribution Σ(p−y)² carried as Σ(p_micro − 10^6·y)² in
    * micro² BIGINT (max 10^12 per row — 10^6 rows per bin before
    * overflow would need 10^18; cast to DECIMAL(38,0) for headroom).
    *
    * Physical shape at 100 TB: one min/max aggregate (2 scalars to the
    * driver), one combiner-heavy groupBy on ≤`bins` keys. Output:
    * (bin, n, n_pos, mean_pred, obs_rate, brier) ordered by bin.
    */
  def calibrationTable(df: DataFrame, scoreMicroCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2)
    val Micro = 1000000L
    val mm = df.agg(min(col(scoreMicroCol)).as("lo_"),
      max(col(scoreMicroCol)).as("hi_"))
    df.crossJoin(broadcast(mm))
      .where(col("hi_") > col("lo_"))
      .select(
        expr(s"($Micro * (${scoreMicroCol} - lo_)) div (hi_ - lo_)")
          .as("p"),
        col(labelCol).cast("long").as("y"))
      // top edge closed: p = 10^6 lands in the last bin, not bin `bins`
      .withColumn("bin",
        least(expr(s"($bins * p) div $Micro"), lit(bins - 1)))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        sum(col("p").cast("decimal(38,0)")).as("sp_"),
        sum(((col("p") - lit(Micro) * col("y")) *
          (col("p") - lit(Micro) * col("y"))).cast("decimal(38,0)"))
          .as("sq_"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("sp_").cast("double") /
          (col("n").cast("double") * Micro.toDouble), 6).as("mean_pred"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("obs_rate"),
        round(col("sq_").cast("double") /
          (col("n").cast("double") * (Micro.toDouble * Micro.toDouble)), 6)
          .as("brier"))
      .orderBy(col("bin"))
  }
}
