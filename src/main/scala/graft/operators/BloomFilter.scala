package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom filter (Bloom 1970) under the pinned md5 hash family — the third
  * member of the oracle-exact sketch family ([[CountMin]] counts,
  * [[HyperLogLog]] cardinality, this one MEMBERSHIP). Engine-native bloom
  * pushdown filters are implementation-defined; this one's verdicts are a
  * pure function of (key set, depth, width, md5), so a false-positive
  * census hash-matches external SQL — the property that lets a deployment
  * CALIBRATE width/depth on real data instead of trusting the formula.
  *
  * The "bitmap" is the sparse relation of set positions (d, pos) — at
  * most depth·n rows, distinct — which broadcasts for probes exactly like
  * the dense bitmap would, and unions ACROSS BATCHES idempotently (set
  * bits are a max-fold like HLL registers: replay-safe, order-free;
  * [[graft.streaming.Folds.hllRegisters]] is the fold shape, bloom's is
  * identical so it carries no separate streaming gate).
  *
  * Probe semantics: claimed-member iff ALL depth positions are set. No
  * false negatives ever; false positives exactly when every position
  * collides — which the audit measures against a disjoint probe set.
  *
  * Physical shape at 100 TB: build is one explode to depth·n position
  * rows + one distinct (combiner-heavy, cells bounded by width·depth);
  * probes broadcast the position relation and never shuffle the probe
  * side. The decontamination pipeline (X58/X100) uses exactly this probe
  * as its map-side prefilter; this operator is that filter made
  * standalone and measurable.
  */
object BloomFilter {

  private def posArray(c: Column, depth: Int, width: Long): Column =
    array((0 until depth).map(d =>
      struct(lit(d).as("d"),
        pmod(HashFunctions.hash64(c.cast("string"), seed = d),
          lit(width)).as("pos"))): _*)

  /** Sparse set-bit relation: (d, pos), distinct. */
  def build(df: DataFrame, keyCol: String, depth: Int, width: Long): DataFrame = {
    require(depth >= 1 && depth <= 16 && width >= 2)
    df.select(explode(posArray(col(keyCol), depth, width)).as("cell"))
      .select(col("cell.d").as("d"), col("cell.pos").as("pos"))
      .distinct()
  }

  /** Membership verdict per distinct probe key: (key, claimed). */
  def probe(bloom: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Long): DataFrame =
    keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"), explode(posArray(col("key"), depth, width)).as("cell"))
      .select(col("key"), col("cell.d").as("d"), col("cell.pos").as("pos"))
      .join(broadcast(bloom.withColumn("set_", lit(1))), Seq("d", "pos"), "left")
      .groupBy(col("key"))
      .agg((count(col("set_")) === depth).as("claimed"))

  /** False-positive census: build on `members`, probe the keys of
    * `probes` that are NOT members (no false negatives to count — the
    * filter can't produce them). One summary row:
    * (width, depth, n_members, n_bits_set, n_probes, n_false_pos,
    * fp_rate) — the observed point to hold against the
    * (1−e^(−kn/m))^k design formula when sizing a production filter.
    */
  def fpAudit(members: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int, width: Long): DataFrame = {
    val bloom = build(members, keyCol, depth, width).localCheckpoint()
    val mKeys = members.select(col(keyCol).as("key")).distinct()
    val trueNeg = probes.select(col(keyCol).as("key")).distinct()
      .join(mKeys, Seq("key"), "left_anti")
    val verdicts = probe(bloom, trueNeg, "key", depth, width)
    mKeys.agg(count(lit(1)).as("n_members"))
      .crossJoin(bloom.agg(count(lit(1)).as("n_bits_set")))
      .crossJoin(verdicts.agg(count(lit(1)).as("n_probes"),
        sum(when(col("claimed"), 1L).otherwise(0L)).as("n_false_pos")))
      .select(lit(width).as("width"), lit(depth).as("depth"),
        col("n_members"), col("n_bits_set"), col("n_probes"),
        col("n_false_pos"),
        round(col("n_false_pos").cast("double") /
          col("n_probes").cast("double"), 6).as("fp_rate"))
  }
}
