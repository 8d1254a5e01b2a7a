package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining: frequent co-occurring item pairs
  * with support / confidence / lift — the pairwise core of Apriori
  * (the k=2 level is where the real signal and the real data volume
  * live; higher levels filter THIS output).
  *
  * Physical shape at 100 TB:
  *  - the (basket, item) relation is DISTINCT-ed first — multiplicity
  *    inside a basket is not co-occurrence, and the distinct also
  *    bounds the self-join fan-out at basketSize² per basket;
  *  - candidate pairs come from a self-equi-join on the basket key —
  *    pairs meet only inside a basket, never across the catalog (the
  *    blocking discipline shared with ER/dedup). A pathological mega-
  *    basket fans out quadratically: cap with `basketMax` (window
  *    count, the df-cap pattern) — a basket that large is a bot or a
  *    crawl artifact, not a signal;
  *  - the support threshold prunes BEFORE the metric joins, so the
  *    item-count join runs over surviving pairs only; item counts are
  *    a broadcast (|catalog| rows);
  *  - metrics are each ONE division over exact integer counts
  *    (support = w/n, confidence = w/cnt_a, lift = w·n/(cnt_a·cnt_b)),
  *    so the emitted doubles are engine-exact — no rounding games.
  */
object MarketBasket {

  /** Frequent item pairs (a < b) with co-occurrence count w >= minSupport
    * and exact-ratio metrics. Output:
    * (a, b, w, support, confidence, lift), one row per surviving pair.
    * Lazy: building the plan runs no Spark job.
    */
  def frequentPairs(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, basketMax: Long = Long.MaxValue): DataFrame = {
    // null basket/item keys are dropped (a null basket can form no pairs
    // in the equi-join anyway, and counting it in the support denominator
    // would be a phantom basket — inner-join semantics, as in
    // Sampling.temperatureSample's null-group rule)
    val bi0 = df.select(col(basketCol).as("bk"), col(itemCol).as("it"))
      .where(col("bk").isNotNull && col("it").isNotNull)
      .distinct()
    // read by the pair join (twice), the item counts and n; not
    // materialized: the readers share the one distinct exchange, which
    // Spark reuses. Where a reader needs only the distinct keys (n, and
    // the item set once a caller drops the counts) Spark elides the
    // distinct and re-reads just those input columns — cheaper than
    // building bi twice, and no cache entry outlives the call
    val bi =
      if (basketMax == Long.MaxValue) bi0
      else bi0
        .withColumn("bs_", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
        .where(col("bs_") <= basketMax)
        .drop("bs_")
    // basket total stays a LAZY one-row aggregate joined in by broadcast
    // (the oracle's CROSS JOIN n shape) — an eager count() here would run
    // a Spark job every time a caller merely CONSTRUCTS the plan
    val nB = bi.agg(count_distinct(col("bk")).as("nb_"))
    val itemCnt = bi.groupBy(col("it")).agg(count(lit(1)).as("c"))
    val pairs = bi.select(col("bk"), col("it").as("a"))
      .join(bi.select(col("bk"), col("it").as("b")), "bk")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= minSupport)
    pairs
      .join(broadcast(itemCnt.select(col("it").as("a"), col("c").as("ca_"))), "a")
      .join(broadcast(itemCnt.select(col("it").as("b"), col("c").as("cb_"))), "b")
      .crossJoin(broadcast(nB))
      .select(col("a"), col("b"), col("w"),
        (col("w").cast("double") / col("nb_")).as("support"),
        (col("w").cast("double") / col("ca_")).as("confidence"),
        // ca_·cb_ multiplied in DOUBLE, not BIGINT: two item counts can
        // each exceed 3e9 at 100 TB and Spark wraps 64-bit overflow
        // silently (a SQL engine would error) — the double product is
        // exact below 2^53 and merely rounds above, never corrupts
        ((col("w").cast("double") * col("nb_")) /
          (col("ca_").cast("double") * col("cb_").cast("double")))
          .as("lift"))
  }

  /** [[frequentPairs]] with the support threshold as a FRACTION of
    * baskets — the scale-robust form. An absolute minSupport is a
    * density probe, not a frequency one: on the r9 scale soak a 10×
    * corpus over the same catalog pushed every w=1 pair past
    * minSupport=2 and the qualifying-pair output grew 335× (SCALE_NOTES)
    * — correct arithmetic, wrong question at scale. "Co-occurs in
    * ≥ frac of baskets" keeps meaning the same thing at every corpus
    * size, exactly the cosinePairsAuto/planesFor statistics-driven-
    * parameter discipline. Costs one distinct-count on the basket key;
    * floor threshold 2 (a pair seen once is never "frequent").
    */
  def frequentPairsRelative(df: DataFrame, basketCol: String,
      itemCol: String, minSupportFrac: Double,
      basketMax: Long = Long.MaxValue): DataFrame = {
    require(minSupportFrac > 0.0 && minSupportFrac <= 1.0)
    val nb = df.select(col(basketCol)).where(col(basketCol).isNotNull)
      .distinct().count()
    val thr = math.max(2L, math.ceil(minSupportFrac * nb).toLong)
    frequentPairs(df, basketCol, itemCol, thr, basketMax)
  }

  /** Sequential pair mining — the ORDER-AWARE twin of [[frequentPairs]]
    * (PrefixSpan's length-2 level): a→b counts only baskets where a's
    * first occurrence strictly precedes b's first occurrence under
    * `orderCol`, so "users who viewed X later bought Y" is distinguishable
    * from mere co-occurrence. Directional: (a→b) and (b→a) are separate
    * rows with separate supports.
    *
    * Semantics pinned for the oracle: position = MIN(orderCol) per
    * (basket, item) — multiplicity collapses to first occurrence;
    * equal-position pairs are DROPPED (their order is unobserved, and
    * any tie-break would fabricate a sequence). Threshold is relative —
    * GREATEST(2, CEIL(frac·distinct-baskets)) — the scale-robust form
    * ([[frequentPairsRelative]]'s soak lesson). Metrics over exact
    * integers: support = w/n_baskets, confidence = w/baskets-containing-a
    * (the rule-strength denominator: of the baskets where the antecedent
    * appears at all, how many realize the sequence).
    *
    * Physical shape: identical blocking discipline to [[frequentPairs]]
    * — pairs meet only inside a basket via the basket-key equi-join,
    * `basketMax` caps mega-basket fan-out, threshold prunes before the
    * metric joins, item counts broadcast. Eager, unlike [[frequentPairs]]:
    * the threshold is a driver scalar from the basket count, so the call
    * checkpoints the (basket, item, pos) table, counts it, and the
    * returned plan reads the checkpoint — one pass over the input, and
    * the blocks are freed with the plan.
    */
  def sequentialPairs(df: DataFrame, basketCol: String, itemCol: String,
      orderCol: String, minSupportFrac: Double,
      basketMax: Long = Long.MaxValue): DataFrame = {
    require(minSupportFrac > 0.0 && minSupportFrac <= 1.0)
    val bi0 = df
      .select(col(basketCol).as("bk"), col(itemCol).as("it"),
        col(orderCol).as("pos"))
      .where(col("bk").isNotNull && col("it").isNotNull &&
        col("pos").isNotNull)
      .groupBy(col("bk"), col("it")).agg(min(col("pos")).as("pos"))
    val bi = (
      if (basketMax == Long.MaxValue) bi0
      else bi0
        .withColumn("bs_", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
        .where(col("bs_") <= basketMax)
        .drop("bs_")
      ).localCheckpoint() // the eager basket count and the query both read it
    val nb = bi.select(col("bk")).distinct().count()
    val thr = math.max(2L, math.ceil(minSupportFrac * nb).toLong)
    val itemCnt = bi.groupBy(col("it")).agg(count(lit(1)).as("c"))
    bi.select(col("bk"), col("it").as("a"), col("pos").as("pa"))
      .join(bi.select(col("bk"), col("it").as("b"), col("pos").as("pb")),
        "bk")
      .where(col("pa") < col("pb"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= thr)
      .join(broadcast(itemCnt.select(col("it").as("a"),
        col("c").as("ca_"))), "a")
      .select(col("a"), col("b"), col("w"),
        (col("w").cast("double") / lit(nb)).as("support"),
        (col("w").cast("double") / col("ca_")).as("confidence"))
  }
}
