package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering — the PPJoin/AllPairs
  * candidate discipline (Chaudhuri et al. SSJoin, Xiao et al. PPJoin):
  * order every document's term set by a global rarest-first total order,
  * index ONLY each set's first |x| − ⌈t·|x|⌉ + 1 terms, and join on that
  * prefix. Any pair with Jaccard ≥ t must collide in those prefixes (if
  * the prefixes are disjoint, fewer than ⌈t·|x|⌉ shared terms remain
  * possible), so — unlike the minhash/LSH family next door in Dedup —
  * there are NO false negatives, and unlike [[Dedup.ngramJaccardPairs]]'
  * full inverted index there is no df cap trading recall for fan-out:
  * the prefix bound prunes candidates while staying exact.
  *
  * Physical shape at 100 TB:
  *  - the global term order is (df, term): rarest terms first puts the
  *    LOWEST-fan-out terms in every prefix — the frequent terms that
  *    explode a full postings self-join never enter the index;
  *  - prefix build: one df aggregate (combiner-heavy) + one per-doc
  *    row_number window — both shuffle the postings once;
  *  - verification fetches the two term ARRAYS per surviving candidate
  *    (two hash joins against the checkpointed sets relation) and computes
  *    the exact intersection per row — O(|x|+|y|) per candidate, on
  *    candidates only, never on the all-pairs space;
  *  - ⌈t·|x|⌉ is computed in DECIMAL (the literal is the user's decimal
  *    threshold, not its binary-double image) so the prefix length never
  *    loses a row to a float boundary — exactness survives any engine.
  */
object SetSimJoin {

  /** All pairs (a < b) with exact Jaccard >= minSim over the distinct
    * term sets (unigrams, or word k-shingles for termK > 1).
    * Output: (a, b, jaccard) with jaccard rounded to 6dp.
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double, termK: Int = 1): DataFrame = {
    val (sets, _, pref) = prefixIndex(docs, textCol, idCol, minSim, termK)
    val cand = pref.select(col("term"), col("id").as("a"))
      .join(pref.select(col("term"), col("id").as("b")), "term")
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    cand
      .join(sets.select(col("id").as("a"), col("hterms").as("ta_"),
        col("sz").as("sa_")), "a")
      .join(sets.select(col("id").as("b"), col("hterms").as("tb_"),
        col("sz").as("sb_")), "b")
      .withColumn("inter_", size(array_intersect(col("ta_"), col("tb_"))))
      // threshold the UNROUNDED ratio — the prefix guarantee covers true
      // jaccard >= t only; a round-then-compare would admit pairs just
      // BELOW t whose candidates the filter legitimately never formed
      // (the division of exact ints is one correctly-rounded IEEE op,
      // identical on any engine). The emitted column rounds for display.
      .withColumn("jac_", col("inter_").cast("double") /
        (col("sa_") + col("sb_") - col("inter_")))
      .where(col("jac_") >= minSim)
      .select(col("a"), col("b"), round(col("jac_"), 6).as("jaccard"))
  }

  /** Shared prefix-index pipeline: (checkpointed sets, full postings, prefix
    * postings) — ONE definition of the term order and the prefix-length
    * formula, read by both the join and the candidate-volume audit (a
    * formula fix must not be able to diverge between them). */
  private def prefixIndex(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double, termK: Int): (DataFrame, DataFrame, DataFrame) = {
    require(minSim > 0.0 && minSim <= 1.0 && termK >= 1)
    val t = java.math.BigDecimal.valueOf(minSim)
    val sets = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("toks_"))
      // non-empty filter BEFORE deriving terms, on the staged token
      // column: size(distinct shingles) > 0 ⟺ size(toks) ≥ termK (the
      // shingle when-branch returns [] below k tokens; at k=1 the
      // distinct of a non-empty array is non-empty). Filtering on the
      // DERIVED terms column instead let the optimizer push the filter
      // below the projection with the whole tokenize→shingle→distinct
      // tree INLINED INTO THE HOF LAMBDA — element_at(tokens(text), i)
      // re-ran split+filter over the full text once per shingle element,
      // O(tokens²) per doc (measured on the sets build alone at sf0.1:
      // 10.4 s vs 0.23 s, 45×; r13, guide §4.4's filter-duplication
      // hazard in HOF form)
      .where(size(col("toks_")) >= termK)
      .select(col("id"), array_distinct(
        if (termK == 1) col("toks_")
        else TextFunctions.shinglesFromTokens(col("toks_"), termK)).as("terms"))
      .withColumn("sz", size(col("terms")))
      // verification intersects 64-bit hashes, not strings: the two
      // reattach joins shuffle ~2.5× fewer bytes per doc and the
      // per-candidate intersect compares longs (a within-doc collision
      // needs 2⁻⁶⁴; the jaccard would shift by 1 count — same exposure
      // ngramJaccardPairs already accepts for its hashed join key)
      .withColumn("hterms", transform(col("terms"), x => xxhash64(x)))
      // read by the postings build and both verification reattach sides;
      // a narrow projection, so no exchange could share it. Checkpointed:
      // tokenized once per call, blocks freed with the returned plan
      .localCheckpoint()
    val post = sets.select(col("id"), col("sz"), explode(col("terms")).as("term"))
    val dft = post.groupBy(col("term")).agg(count(lit(1)).as("df_"))
    val pref = post.join(dft, "term")
      .withColumn("rn_", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df_"), col("term"))))
      .where(col("rn_") <= col("sz") - ceil(lit(t) * col("sz")) + lit(1))
      .select(col("term"), col("id"))
    (sets, post.select(col("term"), col("id")), pref)
  }

  /** Candidate-volume audit: (prefix-filtered candidates, full-index
    * candidates) — the pruning the prefix buys, as one row. Used by the
    * spec; at production scale this is the number to watch when tuning
    * termK/threshold.
    */
  def candidateCounts(docs: DataFrame, textCol: String, idCol: String,
      minSim: Double, termK: Int = 1): (Long, Long) = {
    val (_, post, pref) = prefixIndex(docs, textCol, idCol, minSim, termK)
    def pairsOf(p: DataFrame): Long = p.select(col("term"), col("id").as("a"))
      .join(p.select(col("term"), col("id").as("b")), "term")
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct().count()
    (pairsOf(pref), pairsOf(post))
  }
}
