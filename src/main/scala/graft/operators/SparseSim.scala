package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (term-vector) cosine similarity via an inverted index — the
  * exact lexical twin of the dense embedding near-dup pass
  * (Dedup.embeddingNearDupPairs) and the all-pairs form of BM25-style
  * retrieval: each document is its bag-of-words count vector, similarity
  * is the cosine between those sparse vectors, and candidate generation
  * is a self-join of the postings list — two documents meet ONLY on terms
  * they share, never in an all-pairs cross join.
  *
  * Reference anchor: the reference ranks with an opaque sparse model next
  * to its dense vectors (fegis/search/handler.py:52); this operator is
  * the transparent corpus-level form of that sparse half.
  *
  * Physical shape at 100 TB:
  *  - postings build: explode → (doc, term) count — uniform shuffle keys,
  *    combiner-heavy (map-side partial counts absorb token repeats);
  *  - df cap: `count over (partition by term)` drops stop-terms BEFORE
  *    the pair join. Without it one term appearing in f docs fans out f²
  *    candidate rows — the cap bounds every term's fan-out at maxDf² and
  *    is what keeps the global form runnable (same hazard and same cure
  *    as ngramJaccardPairs' hot-shingle cap). Dropping near-universal
  *    terms barely moves cosine: they add nearly-equal mass to every dot
  *    product and both norms. Norms are recomputed over the SURVIVING
  *    terms so the similarity stays a true cosine of the capped space;
  *  - pair scoring: postings self-join on the term key (the only data-
  *    scale shuffle), then one combiner-heavy (a, b) aggregation. Dot
  *    products are integer tf sums — exact on any engine; the final
  *    cosine divides once through correctly-rounded sqrt/mul/div, so a
  *    single end round(6) is cross-engine stable.
  */
object SparseSim {

  /** All document pairs with df-capped bag-of-words cosine >= minSim.
    * Output: (a, b, cosine) with a < b.
    *
    * `termK` picks the term space: 1 = unigrams, k>1 = word k-shingles
    * WITH multiplicity (counts, not the distinct sets Jaccard uses).
    * Corpora with tiny vocabularies (or heavy boilerplate) make unigram
    * cosine non-discriminative — every pair shares most of the vocab — so
    * the shingle space is the robust default for near-dup work, while
    * unigrams fit topical retrieval.
    *
    * The capped postings table fans out to THREE consumers (norms + both
    * join sides) and is not materialized: all three read one postings
    * exchange, which Spark reuses, so the tokenize → shingle → explode
    * pipeline runs once per query, runs no job when the plan is built,
    * and leaves no cache entry behind. Only the counts' final merge and
    * the df-cap window repeat per consumer, over shuffle output. (A
    * persisted table pays off only when the same corpus is queried again
    * while its cache entry is held, and that entry outlives the call.)
    * Hashing terms to 64 bits before the join (ngramJaccardPairs' trick)
    * measured SLOWER here, not faster — the md5 expression is
    * interpreted (no codegen) and its 3× re-evaluation cost exceeded the
    * narrower-shuffle win.
    *
    * Full A/B sweep (tools.ProbeSparse2, sf0.1 warm): the pair join +
    * dot aggregate IS the cost (2.5 s of 3.6 s) and is insensitive to
    * key width — codegen'd xxhash64 keys timed identical to strings, so
    * the fan-out row volume, not bytes-per-key, bounds it. The window
    * df-cap beats a groupBy(df)+broadcast-anti shape warm (0.8 s vs
    * 1.5 s — the anti join re-shuffles what the window reads in place),
    * and carrying norms through the term join loses to the two post-agg
    * norm joins (4.0 s vs 3.1 s — norm doubles ride every fanned-out
    * candidate row instead of only the surviving (a,b) groups).
    */
  def cosinePairs(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double = 0.5, maxDf: Long = Long.MaxValue,
      termK: Int = 1): DataFrame =
    scorePairs(termCounts(docs, textCol, idCol, termK), minSim, maxDf)

  /** The postings table: one (id, term, tf) row per document and term. */
  private def termCounts(docs: DataFrame, textCol: String, idCol: String,
      termK: Int): DataFrame = {
    require(termK >= 1)
    // tokens staged as a REAL column before shingling — an inline token
    // expression captured by the transform lambda re-tokenizes the doc
    // once per element (HOFs are interpreted, no CSE): O(tokens²)
    val terms = if (termK == 1) col("toks_")
      else TextFunctions.shinglesFromTokens(col("toks_"), termK)
    docs
      .select(col(idCol).as("id"),
        TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .select(col("id"), explode(terms).as("term"))
      // a no-op (tokens are never null) stated once here, so the null
      // filter Spark infers for the term join sides holds on every reader
      // alike and they all share one postings exchange
      .where(col("term").isNotNull)
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Pairs (a < b) with cosine >= minSim over the postings whose term
    * appears in at most maxDf documents. */
  private def scorePairs(tfAll: DataFrame, minSim: Double,
      maxDf: Long): DataFrame = {
    val tf =
      if (maxDf == Long.MaxValue) tfAll
      else tfAll // df = docs per term (tf rows are per (doc, term))
        .withColumn("df_", count(lit(1)).over(Window.partitionBy(col("term"))))
        .where(col("df_") <= maxDf)
        .drop("df_")
    // per-doc norm over surviving terms: sqrt of an exact integer sum
    val norms = tf.groupBy(col("id"))
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("norm"))
    val l = tf.select(col("term"), col("id").as("a"), col("tf").as("tfa"))
    val r = tf.select(col("term"), col("id").as("b"), col("tf").as("tfb"))
    l.join(r, "term")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
      .join(norms.select(col("id").as("a"), col("norm").as("na")), "a")
      .join(norms.select(col("id").as("b"), col("norm").as("nb")), "b")
      .withColumn("cosine",
        round(col("dot").cast("double") / (col("na") * col("nb")), 6))
      .where(col("cosine") >= minSim)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** [[cosinePairs]] with the df cap DERIVED from corpus statistics
    * instead of hand-picked: cap = max(2, ceil(maxDfFrac · n_docs)), so
    * "stop-term" keeps meaning "appears in more than maxDfFrac of the
    * corpus" at every scale (the literal-cap form silently stops dropping
    * anything once the corpus outgrows it). Costs one count() on a
    * pruned scan; only the single cap scalar reaches the driver — the
    * same statistics-driven-parameter discipline as Dedup.planesFor and
    * SkewJoin.bucketsFor.
    */
  def cosinePairsAuto(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double = 0.5, maxDfFrac: Double = 0.06,
      termK: Int = 1, nDocs: Option[Long] = None): DataFrame = {
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0)
    // nDocs: caller-supplied corpus row count (e.g. counted on the raw
    // scan before a repartition — counting through the exchange pays the
    // full shuffle); must equal docs' row count when given
    val cap = math.max(2L,
      math.ceil(maxDfFrac * nDocs.getOrElse(docs.count())).toLong)
    cosinePairs(docs, textCol, idCol, minSim, cap, termK)
  }

  /** [[cosinePairs]] with the df cap derived from a WORK BUDGET instead
    * of a corpus fraction. The inverted-index self-join costs Σ_t df_t²
    * candidate rows; a frac-of-n cap bounds that only when term dfs grow
    * with the corpus. On a POOLED corpus of weakly-overlapping shards
    * (multilingual crawl, multi-source merge — or the scale soak's
    * namespaced replicas) per-shard dfs stay flat while n grows, the
    * frac cap inflates with n and silently admits every shard's stop
    * terms: measured 67× time growth on a 10× corpus (SCALE_NOTES r9).
    *
    * Cure: pick the cap from the df histogram so the ADMITTED join work
    * is bounded. Terms bucket by bitlen(df) (= length(bin(df)) — exact
    * integer, engine-portable); one combiner-heavy aggregation yields
    * ≤63 rows of (bitlen, Σ df²); the driver takes the largest bitlen
    * whose cumulative Σ df² fits `pairBudget` and admits terms with
    * df < 2^b. Deterministic (integer histogram, integer threshold), so
    * an external engine derives the identical cap from the same corpus.
    * Work is then ≤ pairBudget candidate rows at ANY scale and ANY df
    * distribution — the cap adapts to the data instead of trusting n as
    * a proxy for it. (`maxDfFrac` still applies as a ceiling so a tiny
    * corpus under a huge budget keeps dropping true stop terms.)
    * The histogram and the pairs read one checkpointed postings table,
    * so the corpus is tokenized once per call.
    */
  def cosinePairsBudget(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double = 0.5, pairBudget: Long = 100000000L,
      maxDfFrac: Double = 0.5, termK: Int = 1,
      nDocs: Option[Long] = None): DataFrame = {
    require(pairBudget >= 1)
    // blocks freed with the returned plan, no cache entry
    val tf = termCounts(docs, textCol, idCol, termK).localCheckpoint()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // ≤63-row histogram — the only thing that reaches the driver
    val hist = df
      .groupBy(length(expr("bin(df)")).as("b"))
      .agg(sum(col("df") * col("df")).cast("decimal(38,0)").as("w"))
      .collect()
      .map(r => (r.getInt(0), r.getDecimal(1)))
      .sortBy(_._1)
    var cum = java.math.BigDecimal.ZERO
    var bMax = 1 // df = 1 terms join nothing; always admissible
    for ((b, w) <- hist) {
      cum = cum.add(w)
      if (cum.compareTo(java.math.BigDecimal.valueOf(pairBudget)) <= 0)
        bMax = b
    }
    val fracCap = math.max(2L,
      math.ceil(maxDfFrac * nDocs.getOrElse(docs.count())).toLong)
    val cap = math.min((1L << bMax) - 1, fracCap)
    scorePairs(tf, minSim, cap)
  }
}
