package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct sketch — the third member of the
  * oracle-exact pinned-md5 sketch family next to [[CountMin]] and
  * [[HyperLogLog]], and the one that supports SET OPERATIONS: two KMV
  * sketches intersect/union directly (Beyer et al., SIGMOD 2007), which
  * HLL registers cannot do without inclusion-exclusion error stacking.
  * "How many users did BOTH of these two things" over 100 TB without a
  * distinct-join is this sketch's reason to exist.
  *
  * Every piece is deterministic, so an external SQL engine replays the
  * sketch bit-for-bit (no approx-distinct black box):
  *
  *   - hash = [[HashFunctions.hash64]] (top 60 md5 bits) — uniform on
  *     [0, 2^60), engine-portable;
  *   - sketch = the k smallest DISTINCT hash values per group — an order
  *     statistic, order-independent under any partitioning/merge order
  *     (unlike Misra-Gries counts); replayed in SQL as
  *     `row_number() over (order by h) <= k` on the distinct hashes;
  *   - NDV estimate = (k−1) · 2^60 / h_(k): the numerator is an integer
  *     times the exactly-representable 2^60 (one exact power-of-two
  *     scale), so the whole estimate is ONE correctly-rounded int→double
  *     conversion and ONE division — identical on any IEEE engine. A
  *     group holding fewer than k distinct keys keeps them ALL, and the
  *     "estimate" is its exact count;
  *   - union sketch = k smallest of the merged hash sets; Jaccard =
  *     |union-sketch ∩ A ∩ B| / k (exact integers, one division);
  *     intersection estimate = Jaccard × union-NDV (one product of two
  *     correctly-rounded values, same evaluation shape both engines).
  *
  * Physical shape at 100 TB: the build is a typed [[Aggregator]] with a
  * bounded k-element buffer (the [[TopK.TopKAggregator]] discipline), so
  * map-side partial aggregation shrinks every partition to ≤k longs
  * BEFORE the shuffle — the distinct-(group,hash) exchange a window
  * formulation would pay never happens; a group's sketch is ≤k longs
  * however many rows fed it. Merges are associative/commutative/
  * idempotent (set-union then take-k), so streaming folds are
  * replay-safe like HLL's max-registers (strictly stronger than CMS's
  * additive fold).
  *
  * Reference anchor: the reference has no sketches; this extends the
  * profiling family (X147/X148 pinned-sketch rows) with the set-operation
  * NDV member.
  */
object Kmv {

  /** 2^60 as an exactly-representable double — the hash-space width. */
  private val HashSpace = (1L << 60).toDouble

  /** Bounded k-min buffer over distinct hash values: sorted ascending,
    * deduplicated, capped at k. Merge order cannot change the result
    * (set union then order statistic). */
  class KminAggregator(k: Int) extends Aggregator[Long, List[Long], Seq[Long]] {
    override def zero: List[Long] = Nil
    override def reduce(buf: List[Long], h: Long): List[Long] =
      if (buf.contains(h)) buf else (h :: buf).sorted.take(k)
    override def merge(a: List[Long], b: List[Long]): List[Long] =
      (a ++ b).distinct.sorted.take(k)
    override def finish(buf: List[Long]): Seq[Long] = buf
    override def bufferEncoder: Encoder[List[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Per-group KMV sketch: (group, kmv array<long> sorted asc, n_held).
    * One aggregation, ≤k longs per group after map-side combine. */
  def build(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df
      // null keys are dropped BEFORE hashing: a null hash would hit the
      // non-nullable Long of the typed encoder at runtime, and the exact
      // side (countDistinct) ignores nulls too
      .where(col(keyCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        HashFunctions.hash64(col(keyCol).cast("string")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new KminAggregator(k).toColumn.name("kmv"))
      .toDF(groupCol, "kmv")
      .select(col(groupCol), col("kmv"),
        size(col("kmv")).cast("long").as("n_held"))
  }

  /** NDV estimate column from a sketch array: (k−1)·2^60 / h_(k) when the
    * sketch is full, else the exact held count. (Shared with the
    * streaming fold, which stores the sketch exploded and re-arrays it
    * at read time.) */
  private[graft] def estCol(kmv: org.apache.spark.sql.Column, k: Int) =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(round(
        lit((k - 1).toDouble * HashSpace) / element_at(kmv, k).cast("double"),
        4))

  /** Estimate vs exact NDV per group — the calibration artifact
    * (the [[HyperLogLog.audit]] twin). Output: (group, true_ndv, est,
    * n_held, rel_err). */
  def audit(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    val est = build(df, keyCol, groupCol, k)
      .select(col(groupCol), estCol(col("kmv"), k).as("est"), col("n_held"))
    val exact = df.groupBy(col(groupCol))
      .agg(countDistinct(col(keyCol)).as("true_ndv"))
    est.join(exact, groupCol)
      .select(col(groupCol), col("true_ndv"), col("est"), col("n_held"),
        round((col("est") - col("true_ndv")) / col("true_ndv"), 4)
          .as("rel_err"))
  }

  /** Set-operation audit between two groups' key sets: union/intersection
    * NDV from the MERGED sketches vs exact, one row out.
    *
    * Output: (n_a, n_b, n_union, n_inter — exact; est_a, est_b,
    * est_union, jaccard_est, est_inter — sketch). The exact side costs
    * the distinct-join the sketch exists to avoid; it is the audit, not
    * the product — at 100 TB only the sketch side runs.
    */
  def intersectAudit(df: DataFrame, keyCol: String, groupCol: String,
      groupA: String, groupB: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val both = df.where(col(groupCol).isin(groupA, groupB))
    val sk = build(both, keyCol, groupCol, k)
    // two rows -> one row of arrays; tiny by construction (<= 2k longs)
    val paired = sk
      .groupBy()
      .agg(
        max(when(col(groupCol) === groupA, col("kmv"))).as("ka"),
        max(when(col(groupCol) === groupB, col("kmv"))).as("kb"))
      .select(col("ka"), col("kb"),
        // union sketch: k smallest of the merged distinct hash sets
        slice(array_sort(array_union(col("ka"), col("kb"))), 1, k).as("ku"))
    val ests = paired.select(
      estCol(col("ka"), k).as("est_a"),
      estCol(col("kb"), k).as("est_b"),
      estCol(col("ku"), k).as("est_union"),
      // matches: union-sketch values present in BOTH input sketches
      size(array_intersect(array_intersect(col("ku"), col("ka")), col("kb")))
        .cast("long").as("matches"),
      size(col("ku")).cast("long").as("ku_n"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        round(col("matches").cast("double") / col("ku_n").cast("double"), 4)
          .as("jaccard_est"),
        round((col("matches").cast("double") / col("ku_n").cast("double")) *
          col("est_union"), 4).as("est_inter"))
    val a = df.where(col(groupCol) === groupA).select(col(keyCol).as("ka_key"))
      .distinct()
    val b = df.where(col(groupCol) === groupB).select(col(keyCol).as("kb_key"))
      .distinct()
    val exact = a.join(b, col("ka_key") === col("kb_key"), "full_outer")
      .agg(
        count(col("ka_key")).as("n_a"), count(col("kb_key")).as("n_b"),
        count(lit(1)).as("n_union"),
        sum(when(col("ka_key").isNotNull && col("kb_key").isNotNull, 1L)
          .otherwise(0L)).cast("long").as("n_inter"))
    exact.crossJoin(ests)
  }
}
