package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Okapi BM25 keyword ranking — the explicit form of the SPARSE half of the
  * reference's hybrid search (the reference's fastembed `query` ranks with
  * an opaque sparse BM25-family model alongside the dense embedding,
  * handler.py:52, strategies.py:263; SURVEY §4.3 names BM25 as the open
  * equivalent). Scoring a corpus against a literal query:
  *
  *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *   idf(t)   = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  *
  * Physical shape at 100 TB — two passes over the corpus, no shuffle:
  *  - [[corpusStats]] is ONE job: each row projects its length and the
  *    distinct query terms it holds, an RDD `aggregate` folds them into
  *    (N, Σ|d|, df per query term) per partition, and only those |q| + 2
  *    numbers per partition reach the driver.
  *  - [[score]] is a per-row projection: a document with no query term is
  *    dropped, and every other one gets tf(t,d) for each query term by
  *    counting that term in its own token array. No (doc, term) row is
  *    ever exploded or shuffled; the output is one row per document.
  *  - idf/avgdl ride into the scoring expression as literals; idf is
  *    computed on the driver with `math.log` (Spark's `log` is `StrictMath`
  *    and may differ in the last ulp).
  *
  * Determinism for cross-engine parity: idf is rounded to 6 digits, each
  * term contribution to 9, and the per-doc sum runs in DECIMAL (exact,
  * order-independent; each add is cast back to `decimal(37,12)`, so a
  * 1024-term chain never reaches Spark's precision-loss rescaling at 38
  * digits) — the same discipline as the engine's k-means/PQ paths. In
  * production the rounds can be dropped; they exist so two engines summing
  * in different orders agree bit-for-bit.
  */
object Bm25 {

  final case class Stats(n: Long, avgdl: Double, df: Map[String, Long])

  private def toks(c: Column): Column = TextFunctions.tokens(lower(c))

  /** Whitespace-tokenized, lowercased, deduped query terms. */
  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** N, avgdl and per-term df in one job.
    *
    * Each row projects its token count and `array_intersect` of its tokens
    * with the query's terms (≤|q| distinct strings); the partition-local
    * fold then counts rows, sums lengths and bumps one df counter per term
    * held. `Σ|d|` follows SQL `sum`: a null length adds nothing, and a
    * corpus with no non-null length has no Σ|d| at all. What reaches the
    * driver is 2 + `terms.size` numbers per partition — that bound is what
    * makes it driver-safe, and the `require` pins it.
    */
  def corpusStats(docs: DataFrame, textCol: String,
      terms: Seq[String]): Stats = {
    require(terms.size <= 1024,
      s"corpusStats collects one df counter per query term; ${terms.size} terms " +
        "exceeds the driver-safe bound (1024) — this API is for queries, " +
        "not corpus vocabularies (use TextAnalysis.vocabulary for those)")
    val index = terms.zipWithIndex.toMap
    val perDoc = docs.select(toks(col(textCol)).as("toks_"))
      .select(size(col("toks_")).as("dl"),
        array_intersect(col("toks_"), typedLit(terms)).as("held"))
    val agg = perDoc.rdd.aggregate(new StatsAcc(terms.size))((acc, r) => {
      acc.n += 1
      if (!r.isNullAt(0)) { acc.total += r.getInt(0); acc.lengths = true }
      if (!r.isNullAt(1)) r.getSeq[String](1).foreach(t => acc.df(index(t)) += 1)
      acc
    }, (a, b) => a.merge(b))
    // empty corpus (or all-null text): SUM has no value — report zero
    // stats; score() then yields no rows
    if (agg.n == 0 || !agg.lengths) return Stats(0L, 0.0, Map.empty)
    val df = terms.indices.collect { case i if agg.df(i) > 0 => terms(i) -> agg.df(i) }
    Stats(agg.n, agg.total.toDouble / agg.n, df.toMap)
  }

  /** The partial (N, Σ|d|, any non-null length, df per term) of
    * [[corpusStats]]'s fold. */
  private final class StatsAcc(terms: Int) extends Serializable {
    var n = 0L
    var total = 0L
    var lengths = false
    val df = new Array[Long](terms)
    def merge(o: StatsAcc): StatsAcc = {
      n += o.n; total += o.total; lengths ||= o.lengths
      df.indices.foreach(i => df(i) += o.df(i))
      this
    }
  }

  /** Per-document BM25 scores for `query`; documents sharing no term with
    * the query are absent (score 0 by definition). Output: (idCol, score),
    * one row per input row — `idCol` must be unique.
    *
    * Shape: after [[corpusStats]], one projection with no shuffle. tf of
    * each query term is `size(filter(tokens, _ === t))` over the row's own
    * token array, a term's contribution is rounded to 9 digits and taken
    * to `decimal(28,12)`, and the per-document sum adds them in decimal.
    * Every row is tokenized once, kept or dropped.
    */
  def score(docs: DataFrame, textCol: String, idCol: String, query: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val st = corpusStats(docs, textCol, terms)
    val idf: Map[String, Double] = terms.map { t =>
      val df = st.df.getOrElse(t, 0L).toDouble
      t -> BigDecimal(math.log(1.0 + (st.n - df + 0.5) / (df + 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    // tokens, then per-term tf as real columns: each HOF pass runs once
    // per row, not once per reference. The tokens come out of a
    // one-element explode so the no-query-term filter stays above them:
    // over a plain projection Catalyst pushes the filter below it and
    // inlines the token expression, tokenizing every kept row twice.
    val tfs = docs
      .select(col(idCol), explode(array(toks(col(textCol)))).as("toks_"))
      .where(arrays_overlap(col("toks_"), typedLit(terms)))
      .select(col(idCol) +: size(col("toks_")).as("dl") +: terms.indices.map(i =>
        size(filter(col("toks_"), _ === lit(terms(i)))).cast("double").as(s"tf${i}_")): _*)
    val contribs = terms.indices.map { i =>
      val tf = col(s"tf${i}_")
      when(tf > 0, round(lit(idf(terms(i))) * ((tf * lit(k1 + 1)) /
          (tf + lit(k1) * (lit(1 - b) + (lit(b) * col("dl")) / lit(st.avgdl)))), 9)
        .cast("decimal(28,12)"))
        .otherwise(lit(0).cast("decimal(28,12)"))
    }
    // cast back after each add: a sum type of precision 38 would make the
    // next add rescale and drop digits
    val sum = contribs.reduceLeft((acc, c) => (acc + c).cast("decimal(37,12)"))
    tfs.select(col(idCol), sum.cast("double").as("score"))
  }

  /** Top-k BM25 hits: TakeOrderedAndProject over [[score]]. */
  def topK(docs: DataFrame, textCol: String, idCol: String, query: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    score(docs, textCol, idCol, query, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
}
