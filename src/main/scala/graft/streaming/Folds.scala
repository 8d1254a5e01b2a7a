package graft.streaming

import graft.operators.{CountMin, Dedup, HyperLogLog, Kmv, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The per-micro-batch steps of the streaming folds. Each step builds the
  * next version of a fold's store from one micro-batch and the previous
  * version (None before the first batch), and reads or writes nothing
  * else: a `foreachBatch` saves each version under a new path. Each step
  * says which columns its batch needs and under which micro-batch splits
  * it is correct: ADDITIVE stores count a batch once per application,
  * IDEMPOTENT ones (max, min, set union, k-min) are unchanged by a
  * re-delivered batch, and steps over a grouping (baskets, documents,
  * users) need each group to arrive in one batch.
  */
object Folds {

  /** `prev` ∪ `delta`, regrouped by `keys` with each of `sums` summed: the
    * merge of every additive store. No keys sums to one row. */
  private def addInto(prev: Option[DataFrame], delta: DataFrame,
      keys: Seq[String], sums: Seq[String]): DataFrame =
    prev.fold(delta)(_.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(sums.head)).as(sums.head), sums.tail.map(c => sum(col(c)).as(c)): _*))

  /** `df` as one kind of a store of several: `cols` (name -> SQL type) in
    * order, a typed null for each `df` lacks. Kinds union by name, so a
    * reordered or retyped kind fails instead of cross-wiring columns. */
  private def padded(df: DataFrame, cols: Seq[(String, String)]): DataFrame =
    df.select(cols.map { case (c, t) =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(t).as(c) }: _*)

  /** BM25 corpus statistics, the streaming twin of
    * [[graft.operators.Bm25.corpusStats]], as (term, df, n_docs, sum_dl):
    * a df row per term, and one totals row (doc count, token count) with
    * a null term. The df table is vocabulary-scale, so a step moves the
    * vocabulary, not the corpus. Additive, DOC-COMPLETE: a document
    * arrives in one batch. Batch: (text). Reads the batch twice.
    */
  def bm25Stats(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val toks = batch.select(
      graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks_"))
    val df = addInto(
      prev.map(_.where(col("term").isNotNull).select(col("term"), col("df"))),
      toks.select(explode(array_distinct(col("toks_"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df")),
      Seq("term"), Seq("df"))
    val totals = addInto(
      prev.map(_.where(col("term").isNull).select(col("n_docs"), col("sum_dl"))),
      toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(col("toks_"))), lit(0L)).as("sum_dl")),
      Nil, Seq("n_docs", "sum_dl"))
    val cols = Seq("term" -> "string", "df" -> "long", "n_docs" -> "long", "sum_dl" -> "long")
    padded(df, cols).unionByName(padded(totals, cols))
  }

  /** Count-min sketch cells, (d, bucket, cnt): a cell is an integer sum
    * under a pinned hash, so per-batch cell deltas add up to exactly the
    * one-pass [[CountMin.build]] — bit for bit, not approximately. The
    * store is depth × width cells whatever the stream's volume. Additive,
    * any split. Batch: (k) as LONG.
    */
  def cmsCells(batch: DataFrame, prev: Option[DataFrame], depth: Int, width: Int): DataFrame =
    addInto(prev, CountMin.build(batch, "k", depth, width),
      Seq("d", "bucket"), Seq("cnt"))

  /** A/B test counts per arm, (arm, n, x): events and errors, arms split
    * by user hash as in the batch z-test. The store is two rows. Additive,
    * any split. Batch: (user_id, event_type).
    */
  def abArmCounts(batch: DataFrame, prev: Option[DataFrame]): DataFrame =
    addInto(prev,
      batch.select(
          pmod(graft.functions.HashFunctions.hash64(concat(
            col("user_id").cast("string"), lit("#ab"))), lit(2)).as("arm"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("bad"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("bad")).as("x")),
      Seq("arm"), Seq("n", "x"))

  /** The (user_id, day) presence SET behind a rolling-actives view: union
    * and dedup, so the store is the view's own grain (users × active
    * days), never the event stream. Idempotent, any split. Batch:
    * (user_id, day).
    */
  def presence(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val delta = batch.select(col("user_id"), col("day")).distinct()
    prev.fold(delta)(_.unionByName(delta).distinct())
  }

  /** Session boundaries for peak concurrency, (t, d, starts): a session
    * (split by a `gapUs` inactivity gap) adds +1 at its start and −1 at
    * its end, netted per timestamp; the running maximum is taken at read
    * time. Additive, USER-COMPLETE: a user's events arrive in one batch.
    * Batch: (user_id, us). Reads the batch twice.
    */
  def peakBoundaries(batch: DataFrame, prev: Option[DataFrame],
      gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val sessions = batch
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull
        || col("us") - col("prev") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("st"), max(col("us")).as("en"))
    addInto(prev,
      sessions.select(col("st").as("t"), lit(1L).as("d"), lit(1L).as("starts"))
        .unionByName(sessions.select(col("en").as("t"),
          lit(-1L).as("d"), lit(0L).as("starts")))
        .groupBy(col("t"))
        .agg(sum(col("d")).as("d"), sum(col("starts")).as("starts")),
      Seq("t"), Seq("d", "starts"))
  }

  /** k-gram counts, (h, cnt), over [[Dedup.shinglePositions]]: exact
    * counts, so a gram that needs two batches to reach count 2 is found
    * when duplication is decided at read time. Additive, DOC-COMPLETE: a
    * document's grams arrive in one batch. Batch: (doc_id, text).
    */
  def gramCounts(batch: DataFrame, prev: Option[DataFrame], k: Int): DataFrame =
    addInto(prev,
      Dedup.shinglePositions(batch, "text", "doc_id", k)
        .groupBy(col("h")).agg(count(lit(1)).as("cnt")),
      Seq("h"), Seq("cnt"))

  /** The accepted corpus of semantic dedup, (cell, vec_id, embedding):
    * a batch vector, assigned to a FIXED cell of `cents`, is kept unless a
    * stored vector in its cell has cosine ≥ `tau` (rounded to 6 decimals,
    * so wire precision never decides); with no `prev` all are kept.
    * ORDER-DEPENDENT: an accepted vector rejects a later batch's
    * near-duplicate, but two within one batch are both kept. Batch:
    * (vec_id, embedding). Reads the batch twice.
    */
  def semanticDedupAccept(batch: DataFrame, prev: Option[DataFrame],
      cents: Seq[(Int, Seq[Double])], tau: Double, dims: Int): DataFrame = {
    val assigned = Similarity.ivfAssign(batch, "embedding", "vec_id", cents)
      .select(col("cell"), col("vec_id"), col("embedding"))
    prev.fold(assigned) { stored =>
      val dupIds = assigned.alias("n")
        .join(stored.alias("c"), col("n.cell") === col("c.cell"))
        .where(round(graft.functions.VectorFunctions.cosine(
          col("n.embedding"), col("c.embedding"), dims), 6) >= tau)
        .select(col("n.vec_id")).distinct()
      stored.unionByName(assigned.join(dupIds, Seq("vec_id"), "left_anti")
        .select(col("cell"), col("vec_id"), col("embedding")))
    }
  }

  /** Market-basket counts in one store (one write and one read a batch,
    * not three): pair counts (kind "p": a, b, w), item counts ("i": it, c)
    * and the basket count ("n": nb). Support thresholds and ratios belong
    * at read time, or mass later batches push over the line is lost.
    * Additive, BASKET-COMPLETE: a basket arrives in one batch, or its
    * cross-batch pairs are lost. Batch: (bk, it). Reads the batch 3 times.
    */
  def frequentPairCounts(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val bi = batch.select(col("bk"), col("it")).distinct()
    def kind(k: String, cols: String*): Option[DataFrame] =
      prev.map(_.where(col("kind") === k).select(cols.map(col): _*))
    val pairs = addInto(kind("p", "a", "b", "w"),
      bi.select(col("bk"), col("it").as("a"))
        .join(bi.select(col("bk"), col("it").as("b")), "bk")
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w")),
      Seq("a", "b"), Seq("w"))
    val items = addInto(kind("i", "it", "c"),
      bi.groupBy(col("it")).agg(count(lit(1)).as("c")), Seq("it"), Seq("c"))
    val baskets = addInto(kind("n", "nb"),
      bi.agg(count_distinct(col("bk")).as("nb")), Nil, Seq("nb"))
    val cols = ("kind" -> "string") +: Seq("a", "b", "w", "it", "c", "nb").map(_ -> "long")
    padded(pairs.withColumn("kind", lit("p")), cols)
      .unionByName(padded(items.withColumn("kind", lit("i")), cols))
      .unionByName(padded(baskets.withColumn("kind", lit("n")), cols))
  }

  /** HyperLogLog registers per group, (g, bucket, reg): registers merge by
    * max, so the store equals the one-pass [[HyperLogLog.build]] bit for
    * bit, holds m longs per group, and a re-delivered batch cannot change
    * it. Idempotent, any split. Batch: (k) as LONG, (g).
    */
  def hllRegisters(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val delta = HyperLogLog.build(batch, "k", Seq("g"))
    prev.fold(delta)(_.unionByName(delta)
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("reg")).as("reg")))
  }

  /** A KMV sketch per group, exploded to (g, h) rows, at most `k` a
    * group: distinct union, then the `k` smallest hashes. An order
    * statistic, so the store equals the one-pass [[Kmv.build]] bit for
    * bit. Idempotent, any split. Batch: (k) as LONG, (g).
    */
  def kmvSketch(batch: DataFrame, prev: Option[DataFrame], k: Int): DataFrame = {
    val delta = Kmv.build(batch, "k", "g", k)
      .select(col("g"), explode(col("kmv")).as("h"))
    prev.fold(delta)(_.unionByName(delta).distinct())
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("h"))))
      .where(col("rn") <= k).drop("rn")
  }

  /** Per-subject lifetimes, (u, first_d, last_d): the minimum first-seen
    * and maximum last-seen day, one row per subject whatever the event
    * volume. A survival curve is computed from them at read time.
    * Idempotent, any split. Batch: (u, dd) with `dd` a yyyy-MM-dd string.
    */
  def lifetimes(batch: DataFrame, prev: Option[DataFrame]): DataFrame = {
    val delta = batch.groupBy(col("u"))
      .agg(min(col("dd")).as("first_d"), max(col("dd")).as("last_d"))
    prev.fold(delta)(_.unionByName(delta))
      .groupBy(col("u"))
      .agg(min(col("first_d")).as("first_d"), max(col("last_d")).as("last_d"))
  }
}
