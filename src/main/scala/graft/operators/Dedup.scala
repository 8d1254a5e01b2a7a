package graft.operators

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines, each designed around
  * its shuffle shape at 100 TB:
  *
  *  - exact: one hash-aggregate shuffle on the fingerprint (map-side
  *    combine does most of the work; skew-safe because md5 keys are
  *    uniform).
  *  - MinHash + LSH banding: per-row signature (shuffle-free) → explode to
  *    (band, bandHash) → ONE shuffle groups candidates per bucket →
  *    pairs only within buckets. Never the O(n²) cross join.
  *  - SimHash: per-row 64-bit signature; near-dups collide on band
  *    sub-keys the same way.
  *  - n-gram Jaccard: verification step on LSH candidates (exact overlap
  *    on the shingle sets), not a global pairwise op.
  *  - embedding cosine: RHP-LSH bucket join, exact cosine inside buckets.
  *
  * All hashes use the engine-portable md5-based [[HashFunctions.hash64]],
  * so every stage is oracle-verifiable in external SQL.
  */
object Dedup {

  /** Exact dedup: group by normalized-content fingerprint; emit cluster
    * size and the keeper (min id) per cluster. One shuffle, combiner-heavy.
    */
  def exactClusters(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("fingerprint", HashFunctions.fingerprint(col(textCol)))
      .groupBy(col("fingerprint"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("cluster_size"))

  /** MinHash signature columns `mh0..mh{k-1}`: min over word-shingle hashes
    * under k independent seeded hash functions.
    *
    * Shape: explode shingles → k codegen'd hashes per (doc, shingle) row →
    * one combiner-heavy groupBy(doc) with MIN aggregates. The explode
    * evaluates the shingle construction exactly once per doc; the previous
    * array_min(transform(...)) form re-evaluated the (interpreted) HOF
    * lambda per hash function. Docs with no shingles keep null signatures.
    */
  def minhashSignature(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleK: Int = 3): DataFrame = {
    val ex = docs
      .withColumn("toks_", TextFunctions.tokens(col(textCol)))
      .select(col(idCol),
        explode_outer(array_distinct(
          TextFunctions.shinglesFromTokens(col("toks_"), shingleK))).as("sh"))
    val aggs = (0 until numHashes).map(i =>
      min(when(col("sh").isNotNull, HashFunctions.hash64(col("sh"), i))).as(s"mh$i"))
    ex.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a MinHash signature: bands of `rowsPerBand` hashes,
    * band key = md5 of the concatenated row values. Docs sharing any band
    * key are candidate near-duplicates. Returns candidate pairs (a < b)
    * found in ≥1 band — grouped per bucket, so the only shuffle is on the
    * band key and skew is bounded by bucket size, not corpus size.
    */
  def minhashCandidatePairs(signatures: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws(":", rows: _*)).as("bucket"))
    }
    // docs with no shingles (null signature) are not candidates
    val exploded = signatures
      .where(col("mh0").isNotNull)
      .select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val l = exploded.select(col("band"), col("bucket"), col(idCol).as("a"))
    val r = exploded.select(col("band"), col("bucket"), col(idCol).as("b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Incremental dedup: LSH banding candidates of a NEW batch against an
    * EXISTING corpus — the daily-ingest shape at 100 TB, where the corpus
    * side is the stored signature table (computed ONCE at its own ingest,
    * never recomputed) and only the new batch gets fresh signatures.
    * Returns (new_id, corpus_id) pairs sharing ≥ 1 band; new×new and
    * corpus×corpus pairs are NOT emitted (the corpus is assumed already
    * deduplicated, and the new batch can self-dedup with
    * [[minhashCandidatePairs]] separately).
    *
    * Shuffle is on band buckets only; with the corpus signature table laid
    * out bucketed by band key, the join co-locates without a corpus-side
    * shuffle at all.
    */
  def minhashCandidatesAgainst(newSigs: DataFrame, corpusSigs: DataFrame,
      idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val numBands = numHashes / rowsPerBand
    def explodeBands(sigs: DataFrame, as: String): DataFrame = {
      val bands = (0 until numBands).map { b =>
        val rows = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))
        struct(lit(b).as("band"), md5(concat_ws(":", rows: _*)).as("bucket"))
      }
      sigs.where(col("mh0").isNotNull)
        .select(col(idCol), explode(array(bands: _*)).as("bb"))
        .select(col(idCol).as(as), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }
    explodeBands(newSigs, "new_id")
      .join(explodeBands(corpusSigs, "corpus_id"), Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
  }

  /** SimHash: 64-bit signature where bit j is the sign of the sum over
    * tokens of ±1 votes weighted by token frequency; hamming-near
    * signatures ⇒ near-duplicate texts. Shuffle-free per row.
    *
    * bits: for each of `bits` positions, vote = Σ_tokens (bit j of
    * hash64(token) ? +1 : -1); signature bit j = vote > 0.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 16): DataFrame = {
    // explode tokens → hash once per token → per-bit ±1 vote sums in one
    // groupBy (sums are order-independent; the old per-bit HOF aggregate
    // re-tokenized and re-hashed the text `bits` times, interpreted)
    val ex = docs.select(col(idCol),
      explode_outer(TextFunctions.tokens(lower(col(textCol)))).as("tok"))
      .withColumn("h", when(col("tok").isNotNull, HashFunctions.hash64(col("tok"))))
    val votes = (0 until bits).map(j =>
      sum(when(col("h").isNull, lit(0L))
        .when(shiftright(col("h"), j) % 2 === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"v$j"))
    ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
          .as("simhash"))
  }

  /** EXACT Hamming-radius-1 SimHash pairing: every pair of documents
    * whose codes differ in ≤1 bit, with NO misses — each doc's code
    * explodes to bits+1 variants (itself + every 1-bit flip) and a
    * variant hitting another doc's ORIGINAL code is a pair. Band
    * collision (the [[simhashCandidatePairs]] shape) is probabilistic at
    * any radius; the flip expansion is the exact-coverage form the
    * radius-1 guarantee needs, at a fixed (bits+1)× row cost — the
    * standard trade (Manku et al. 2007, detecting near-duplicates for
    * web crawling). One equi-join on the code (uniform key), output
    * deduped because a Hamming-1 pair is found from both sides' flips.
    */
  def simhashRadiusPairs(docs: DataFrame, textCol: String, idCol: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 2 && bits <= 62)
    val codes = simhash(docs, textCol, idCol, bits)
      .select(col(idCol).as("id_"), col("simhash"))
    val variants = array((col("simhash") +: (0 until bits).map(j =>
      col("simhash").bitwiseXOR(lit(1L << j)))): _*)
    val l = codes.select(col("id_").as("a"), col("simhash").as("ca"),
      explode(variants).as("v"))
    val r = codes.select(col("id_").as("b"), col("simhash").as("cb"))
    l.join(r, col("v") === col("cb") && col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ca").bitwiseXOR(col("cb"))).cast("int").as("hamming"))
      .distinct()
  }

  /** (id, n_sh, shk): one row per document and distinct word k-shingle,
    * the shingle hashed to 60 bits, with the document's distinct-shingle
    * count — the shingle-set relation the overlap joins below share. */
  private def shingleHashes(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int): DataFrame =
    docs
      .withColumn("toks_", TextFunctions.tokens(col(textCol)))
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shinglesFromTokens(col("toks_"), shingleK))
          .as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
      .select(col("id"), col("n_sh"), explode(col("shingles")).as("shingle"))
      .select(col("id"), col("n_sh"), HashFunctions.hash64(col("shingle")).as("shk"))

  /** Exact n-gram Jaccard similarity for candidate pairs: explode distinct
    * shingles, self-join on shingle (shuffle on shingle hash — uniform),
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. `minJaccard` prunes the
    * output. At scale this runs on LSH candidates, not all pairs; the
    * shingle join itself only pairs docs sharing ≥1 shingle.
    *
    * `maxDf` is the stop-shingle cap: a shingle appearing in more than
    * `maxDf` documents is dropped from every document's set before the
    * self-join (Jaccard is then computed over the FILTERED sets — both
    * intersection and set sizes). Without it, one ubiquitous shingle in f
    * docs emits f² join rows in a single bucket — on web-scale text,
    * stop-shingles ("of the and") make f millions, so the cap is what
    * makes the global form runnable at 100 TB. Dropping near-universal
    * shingles barely moves Jaccard: they contribute equally to almost
    * every intersection AND union. The capped path costs two extra
    * uniform window shuffles (df per shingle, re-count per doc).
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, minJaccard: Double = 0.5,
      maxDf: Long = Long.MaxValue): DataFrame = {
    // join on the 60-bit shingle hash, not the string: ~3× smaller shuffle
    // and cheap comparisons; a hash collision creates the same phantom
    // match on any engine computing the same hash, so results stay
    // oracle-comparable
    val exAll = shingleHashes(docs, textCol, idCol, shingleK)
    val ex =
      if (maxDf == Long.MaxValue) exAll
      else {
        import org.apache.spark.sql.expressions.Window
        // df = docs per shingle (each doc contributes a shingle once —
        // shingles are array_distinct'd); n_sh re-counted over survivors
        exAll
          .withColumn("df_", count(lit(1)).over(Window.partitionBy(col("shk"))))
          .where(col("df_") <= maxDf)
          .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("id"))))
          .select(col("id"), col("n_sh"), col("shk"))
      }
    val l = ex.select(col("shk"), col("id").as("a"), col("n_sh").as("na"))
    val r = ex.select(col("shk"), col("id").as("b"), col("n_sh").as("nb"))
    l.join(r, "shk")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Asymmetric near-CONTAINMENT pairs: c(a→b) = |A∩B| / |A| over the
    * k-gram shingle sets — the doc-inside-doc detector Jaccard
    * structurally misses (a 100-shingle quote fully inside a
    * 10,000-shingle article has J ≈ 0.01 but containment 1.0): the
    * quote-mining / boilerplate-wrapper / version-superset shape of
    * corpus dedup, where the SMALL side is the redundant one. Same
    * shared-shingle-hash join discipline as [[ngramJaccardPairs]] (one
    * explode, one hash-key equi-join, one combiner-heavy count — never
    * all-pairs; same phantom-collision determinism note), with BOTH
    * directions emitted from the one intersection count since only the
    * denominator differs. Output: (inner_id, outer_id, containment) —
    * inner is (near-)contained in outer, exact rational rounded 6.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, minContainment: Double = 0.8): DataFrame = {
    val ex = shingleHashes(docs, textCol, idCol, shingleK)
    val inter = ex.select(col("shk"), col("id").as("a"), col("n_sh").as("na"))
      .join(ex.select(col("shk"), col("id").as("b"), col("n_sh").as("nb")), "shk")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .select(col("a").as("inner_id"), col("b").as("outer_id"),
        round(col("inter").cast("double") / col("na").cast("double"), 6)
          .as("containment"))
      .unionAll(inter.select(col("b").as("inner_id"), col("a").as("outer_id"),
        round(col("inter").cast("double") / col("nb").cast("double"), 6)
          .as("containment")))
      .where(col("containment") >= minContainment)
  }

  /** Minhash-estimator quality audit — the X137 measure-before-trusting
    * discipline pointed at the minhash tier ITSELF: for every candidate
    * pair the banding emits, compare the signature-agreement Jaccard
    * estimate (n_agree/numHashes — with 4 hashes a coarse {0,¼,½,¾,1}
    * grid, which is exactly what the audit exposes) against the EXACT
    * shingle Jaccard, and report the per-pair absolute error. The number
    * that tells a deployment whether its signature budget is estimating
    * or guessing before it spends a corpus pass trusting it.
    *
    * Cost: the banding join (already paid by any LSH pass) + one
    * inverted-index intersection restricted to candidate pairs — never
    * all pairs. Output: (a, b, n_agree, est_j, true_j, abs_err).
    */
  def minhashEstimatorAudit(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleK: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignature(docs, textCol, idCol, numHashes, shingleK)
    val pairs = minhashCandidatePairs(sig, idCol, numHashes, rowsPerBand)
    val sa = sig.select(col(idCol).as("a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"ah$i")): _*)
    val sb = sig.select(col(idCol).as("b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"bh$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"ah$i") === col(s"bh$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sh = shingleHashes(docs, textCol, idCol, shingleK)
    val inter = sh.select(col("shk"), col("id").as("a"))
      .join(sh.select(col("shk"), col("id").as("b")), "shk")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    val counts = sh.groupBy(col("id")).agg(first(col("n_sh")).as("n_sh"))
    pairs
      .join(sa, "a").join(sb, "b")
      .withColumn("n_agree", agree)
      .join(counts.select(col("id").as("a"), col("n_sh").as("na")), "a")
      .join(counts.select(col("id").as("b"), col("n_sh").as("nb")), "b")
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("n_agree"),
        round(col("n_agree").cast("double") / numHashes, 6).as("est_j"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))
            .cast("double"), 6).as("true_j"),
        round(abs(col("n_agree").cast("double") / numHashes -
          coalesce(col("inter"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))
              .cast("double")), 6).as("abs_err"))
  }

  /** Edit-distance verification of candidate pairs: join the texts back to
    * an (a, b) pair list (LSH/minhash output) and compute Levenshtein
    * distance — the exact-but-quadratic-per-pair check that is only
    * affordable AFTER candidate pruning, never as a global cross join.
    * Two key-equi joins against the corpus (prunable at scale), linear in
    * the candidate count.
    *
    * The per-pair O(len²) distance is the dominant CPU here (~1 ms per
    * ~300-char pair): partition `pairs` by the cluster's parallelism
    * before calling, or the verify stage serializes on however few
    * partitions candidate generation left behind. When `maxDist` is
    * unbounded the distance filter is skipped entirely — otherwise
    * Catalyst pushes the always-true predicate into the join condition
    * and evaluates the distance twice per row. Pairs whose text is NULL
    * on either side are dropped before the distance (the only case where
    * `lev` could be NULL — the old always-on `lev <= maxDist` predicate
    * dropped them implicitly), so `lev` is never NULL in the output.
    */
  def levenshteinVerify(pairs: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, maxDist: Int = Int.MaxValue): DataFrame = {
    val joined = pairs
      .join(docs.select(col(idCol).as("a"), col(textCol).as("ta")), "a")
      .join(docs.select(col(idCol).as("b"), col(textCol).as("tb")), "b")
      .where(col("ta").isNotNull && col("tb").isNotNull)
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
    val bounded = if (maxDist == Int.MaxValue) joined
      else joined.where(col("lev") <= maxDist)
    bounded.select(col("a"), col("b"), col("lev"))
  }

  /** Embedding near-duplicate pairs: RHP-LSH bucket join (shuffle on
    * bucket), exact cosine verification inside buckets. `planes = 0`
    * degrades to the exact all-pairs join for small candidate sets.
    *
    * Sizing rule: within-bucket pairing is ~(n/2^planes)² per bucket, so
    * `planes` must GROW with the corpus — log2(n / target-bucket-size),
    * not a constant. [[planesFor]] computes it; 4 planes (16 buckets) is a
    * test-scale setting, never a 100 TB one.
    */
  def embeddingNearDupPairs(vecs: DataFrame, vecCol: String, idCol: String,
      minCosine: Double, planes: Int = 0, seed: Int = 42, dims: Int = 0): DataFrame = {
    val base =
      if (planes <= 0) vecs.select(col(idCol), col(vecCol)).withColumn("bucket", lit(0L))
      else vecs.select(col(idCol), col(vecCol))
        .withColumn("bucket", VectorFunctions.rhpBucket(col(vecCol), planes, seed, dims))
    val l = base.select(col("bucket"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = base.select(col("bucket"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, "bucket")
      .where(col("a") < col("b"))
      .withColumn("cosine", round(
        if (dims > 0) VectorFunctions.cosine(col("va"), col("vb"), dims)
        else VectorFunctions.cosine(col("va"), col("vb")), 6))
      .where(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Benchmark decontamination — the training-data hygiene twin of
    * near-dup detection: flag corpus documents sharing at least `minHits`
    * DISTINCT word `k`-shingles with any benchmark/test-set document
    * (the n-gram overlap rule used to scrub eval sets out of pretraining
    * corpora; 8-13-gram overlap is the common production setting, k here
    * is a parameter because the synthetic corpus is tiny).
    *
    * Physical shape at 100 TB: the benchmark side is small by definition
    * (an eval set), so its distinct (bench_id, gram) pairs BROADCAST and
    * the corpus-side explode joins map-side — no shuffle of corpus grams;
    * the only aggregation keys are (doc, bench_doc) hit pairs. A gram
    * shared by many benchmark docs fans out at most |bench| ways; for
    * pathological boilerplate benchmarks pre-cap with a df filter like
    * [[ngramJaccardPairs]]'s maxDf.
    *
    * Returns (idCol, bench_id, n_overlap) for flagged docs only.
    */
  def contaminationPairs(docs: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      k: Int, minHits: Long): DataFrame = {
    require(k >= 1 && minHits >= 1)
    def grams(df: DataFrame, id: Column, outId: String, t: String): DataFrame =
      df.select(id.as(outId), TextFunctions.tokens(col(t)).as("toks_"))
        .select(col(outId),
          explode(array_distinct(TextFunctions.shinglesFromTokens(col("toks_"), k)))
            .as("gram"))
    val dg = grams(docs, col(idCol), "id_", textCol)
    val bg = grams(bench, col(benchIdCol), "bench_id", benchTextCol)
    dg.join(broadcast(bg), Seq("gram"))
      .groupBy(col("id_"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minHits)
      .select(col("id_").as(idCol), col("bench_id"), col("n_overlap"))
  }

  /** [[contaminationPairs]] behind a broadcast BLOOM prefilter — the
    * shape that survives when even the benchmark SHINGLE SET outgrows a
    * broadcast hash join (a few GB of eval-set shingles still fits as ~a
    * hundred MB of bloom bits). Stage 1 probes every corpus shingle
    * against the bloom (map-side, shuffle-free) and keeps only documents
    * with ≥ minHits possible hits; stage 2 runs the EXACT overlap join on
    * that usually-tiny remnant. Bloom false positives cannot leak into
    * the result — they only admit extra rows into stage 2, where the
    * exact join discards them — so output is bit-identical to
    * [[contaminationPairs]] (false negatives don't exist in a bloom).
    * The probe is a native codegen expression
    * ([[graft.functions.BloomMightContainLong]]) over the broadcast
    * bits — the scan→explode→probe→partial-count prefilter stays inside
    * ONE whole-stage-codegen span, and it is the reason stage 2's
    * shuffle is no longer data-scale.
    */
  def contaminationPairsBloom(docs: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String, benchIdCol: String,
      k: Int, minHits: Long, fpp: Double = 0.01): DataFrame = {
    require(k >= 1 && minHits >= 1 && fpp > 0.0 && fpp < 1.0)
    val benchGrams = bench
      .select(TextFunctions.tokens(col(benchTextCol)).as("toks_"))
      .select(explode(array_distinct(
        TextFunctions.shinglesFromTokens(col("toks_"), k))).as("gram"))
      .select(HashFunctions.hash64(col("gram")).as("gh"))
      .distinct()
    // two actions (count + bloom build) over one pipeline run
    val bloom = readOnce(benchGrams) {
      benchGrams.stat.bloomFilter("gh", math.max(1L, benchGrams.count()), fpp)
    }
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val survivors = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks_"))
      .select(col(idCol), explode(array_distinct(
        TextFunctions.shinglesFromTokens(col("toks_"), k))).as("gram"))
      .where(graft.functions.BloomProbe.mightContainLong(
        HashFunctions.hash64(col("gram")), bc))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("possible_"))
      .where(col("possible_") >= minHits)
      .select(col(idCol))
    contaminationPairs(docs.join(survivors, idCol), textCol, idCol,
      bench, benchTextCol, benchIdCol, k, minHits)
  }

  /** Multi-table RHP-LSH near-dup pairs — the production recall shape
    * [[planesFor]]'s doc promises: one hash TABLE per seed, candidates
    * unioned across tables, then one exact-cosine verification pass.
    * A pair collides in table t iff no hyperplane of seed t separates it
    * (probability (1 - θ/π)^planes), so each extra table recovers recall
    * that high plane counts cost, while precision is unaffected — the
    * cosine check is exact either way.
    *
    * Physical shape at 100 TB: ONE corpus scan computes all per-seed
    * buckets (explode over a literal (seed, bucket) struct array — |seeds|
    * small), the self-join shuffles on (seed, bucket) exactly like the
    * single-table form shuffles on bucket, `distinct` dedups the candidate
    * ids (tiny vs corpus), and the two vector join-backs are id-equi-joins
    * (bucketable by id at rest). Never all-pairs, never a driver collect.
    */
  def embeddingNearDupPairsMultiTable(vecs: DataFrame, vecCol: String,
      idCol: String, minCosine: Double, planes: Int, seeds: Seq[Int],
      dims: Int): DataFrame = {
    require(planes >= 1 && seeds.nonEmpty && seeds.distinct == seeds && dims > 0)
    val cand = Similarity.lshPairs(vecs, vecCol, idCol, planes, seeds, dims)
    Similarity.withVectors(cand, vecs, vecCol, idCol, "a", "b", broadcastVecs = false)
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("av"), col("bv"), dims), 6))
      .where(col("cosine") >= minCosine)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Derive the RHP plane count from corpus size: enough hyperplanes that
    * the EXPECTED bucket holds ~`targetBucketSize` vectors (buckets halve
    * per plane), clamped to [minPlanes, 62] (the bucket id is a signed-long
    * bitmask). Recall drops as planes grow — the multi-table form
    * [[embeddingNearDupPairsMultiTable]] unions candidates across seeds to
    * recover it; the single-table form is the oracle-checkable core.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 1024,
      minPlanes: Int = 4): Int = {
    require(corpusSize >= 0 && targetBucketSize >= 1)
    // smallest p with targetBucketSize·2^p >= corpusSize, in INTEGER
    // arithmetic (= ceil(log2(ceil(n/tb))) = bit length of q−1): libm ln
    // is not identically rounded across runtimes, so the FP form can
    // disagree with the oracle's SQL by one plane at exact boundary
    // corpus sizes (n = tb·2^k) — the integer rule cannot
    val q = math.max(1L, (corpusSize + targetBucketSize - 1) / targetBucketSize)
    val p = 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.min(math.max(p, minPlanes), 62)
  }

  /** Derive the ε-threshold (minimum cosine) from the corpus so the
    * expected neighbor count per vector stays ~`targetNeighbors` at ANY
    * corpus size — the density knob of the statistics-derived-parameter
    * family ([[planesFor]] bounds the CANDIDATE stage; this bounds the
    * ANSWER). A fixed τ over a densifying corpus admits a constant
    * FRACTION of pairs, so the ε-graph — and with it every downstream
    * edge-linear stage (degree census, connected components, border
    * adoption) — grows as n²·P(cos ≥ τ): measured 12/15/30 edges per
    * vector across sf0.1/10×/100× at τ=0.2 (SCALE_NOTES r11), a
    * semantics-level quadratic no candidate pruning can remove.
    *
    * Rule: admissible pair fraction f = targetNeighbors / (n−1); τ is
    * the exact (1−f)-order statistic of the ROUNDED pairwise cosines of
    * the `sampleSize` smallest-id vectors (deterministic sample, exact
    * sort index — both engines compute the identical value; rounding
    * first makes ties engine-stable). Sample pair count is bounded by
    * construction (sampleSize²/2, ~125k at the default) — the one
    * driver-side value is a single max over a limit, not a collect.
    */
  def tauForNeighbors(e: DataFrame, vecCol: String, idCol: String,
      targetNeighbors: Int, dims: Int, sampleSize: Int = 500): Double = {
    // sampleSize cap: pairCount = m(m-1)/2 must stay an exact Int for the
    // limit(j+1) below (65535*65534/2 < Int.MaxValue); larger samples add
    // no τ precision and quadratic cost
    require(targetNeighbors >= 1 && sampleSize >= 2 && sampleSize <= 65535)
    val n = e.count()
    require(n >= 2, s"tauForNeighbors needs >= 2 vectors, got $n")
    val m = math.min(sampleSize.toLong, n).toInt
    val s = e.orderBy(col(idCol)).limit(m)
      .select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .localCheckpoint()
    val l = s.select(col("sid").as("ida"), col("sv").as("va"))
    val r = s.select(col("sid").as("idb"), col("sv").as("vb"))
    val cosines = l.crossJoin(r).where(col("ida") < col("idb"))
      .select(round(graft.functions.VectorFunctions
        .cosine(col("va"), col("vb"), dims), 6).as("c"))
    val pairCount = m.toLong * (m - 1) / 2
    val f = math.min(1.0, targetNeighbors.toDouble / math.max(1L, n - 1))
    // 0-based index j of the (1-f) order statistic; limit(j+1) ascending
    // then max = the exact j-th smallest — no quantile interpolation
    val j = math.min(pairCount - 1,
      math.floor((1.0 - f) * pairCount).toLong)
    cosines.orderBy(col("c")).limit((j + 1).toInt)
      .agg(max(col("c"))).head().getDouble(0)
  }

  /** End-to-end canonical dedup map: minhash signatures → banded
    * candidate pairs → connected components → one deterministic keeper
    * per cluster (longest text by `sizeCol`, then smallest id, via a
    * struct-max argmax). Output: (idCol, canonical_id, cluster_size,
    * is_keeper) — the doc → canonical artifact downstream joins and the
    * corpus-prep pipeline consume. Each stage's physical shape is its
    * own operator's (bucketed banding, lineage-truncating components);
    * the keeper pick adds one combiner-heavy per-component aggregate.
    */
  def canonicalMap(docs: DataFrame, textCol: String, idCol: String,
      sizeCol: String, numHashes: Int = 4, bands: Int = 2): DataFrame = {
    val sig = minhashSignature(docs, textCol, idCol, numHashes)
    val pairs = minhashCandidatePairs(sig, idCol, numHashes, bands)
    val comp = Components.connectedComponents(
      docs.select(col(idCol).as("id")), pairs)
      .join(docs.select(col(idCol).as("id"), col(sizeCol)), "id")
    val canon = comp.groupBy(col("component"))
      .agg(max(struct(col(sizeCol).cast("long").as("nc"),
        (-col("id")).as("nid"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("component"), (-col("best.nid")).as("canonical_id"),
        col("cluster_size"))
    comp.join(canon, "component")
      .select(col("id").as(idCol), col("canonical_id"), col("cluster_size"),
        (col("id") === col("canonical_id")).as("is_keeper"))
  }

  /** Sub-document exact dedup at fixed-token-chunk granularity — the
    * practical form of substring dedup (Lee et al. 2022's "Deduplicating
    * Training Data Makes Language Models Better" deduplicates repeated
    * SPANS, not whole documents; boilerplate headers/footers survive
    * whole-doc dedup verbatim). Each document splits into consecutive
    * `chunkTokens`-token chunks; a chunk's global FIRST occurrence
    * (smallest (doc, position)) is the keeper and every later identical
    * chunk is dropped; documents reassemble from their kept chunks.
    *
    * Output: (idCol, n_chunks, n_kept, text_dedup), one row per input
    * document (a fully-duplicated document keeps its row with
    * n_kept = 0 and empty text).
    *
    * Physical shape at 100 TB: chunking is a per-row generator (no
    * shuffle); the keeper pick is ONE combiner-heavy aggregate on the
    * chunk key (min-struct argmin — no window, no sort); the kept filter
    * is a chunk-key join against that aggregate (both sides hash-
    * partitioned on the same key); reassembly is one per-doc aggregate
    * whose sort is WITHIN each collected row list, never a data-scale
    * sort. Hot chunks (the boilerplate being hunted) concentrate on few
    * keys but the aggregate is a min — combiners absorb them map-side.
    */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 20): DataFrame = {
    require(chunkTokens >= 1)
    val k = chunkTokens
    // NULL text behaves as an EMPTY document (n_chunks = 0, n_kept = 0):
    // without the coalesce, Spark's legacy size(null) = -1 makes
    // ceil(-1/k) = 0 silently while a SQL oracle's len(NULL) is NULL —
    // a latent cross-engine divergence on corpora with null documents.
    val toks = coalesce(TextFunctions.tokens(col(textCol)),
      array().cast("array<string>"))
    val chunkArr = when(size(col("toks_")) > 0,
      expr(s"transform(sequence(0, cast(ceil(size(toks_) / $k.0d) as int) - 1), " +
        s"i -> array_join(slice(toks_, i * $k + 1, $k), ' '))"))
      .otherwise(array().cast("array<string>"))
    val chunks = docs
      .select(col(idCol).as("doc_"), toks.as("toks_"))
      .withColumn("chunks_", chunkArr)
      .select(col("doc_"), posexplode(col("chunks_")).as(Seq("idx", "chunk")))
    val keeper = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_"), col("idx"))).as("first_"))
    val kept = chunks.join(keeper, "chunk")
      .where(col("doc_") === col("first_.doc_") && col("idx") === col("first_.idx"))
      .select(col("doc_"), col("idx"), col("chunk"))
    val reassembled = kept.groupBy(col("doc_"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(sort_array(collect_list(struct(idx, chunk))), s -> s.chunk)"),
          " ").as("text_dedup"))
    docs.select(col(idCol), size(toks).as("n_toks_"))
      .withColumn("n_chunks",
        ceil(col("n_toks_") / lit(k.toDouble)).cast("long"))
      .drop("n_toks_")
      .join(reassembled, col(idCol) === col("doc_"), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    * the MOSS scheme): hash every `shingleK`-gram, slide a `window`-wide
    * frame over the hash sequence, record each frame's MINIMUM. The
    * selected set is position-robust (any shared substring of length ≥
    * shingleK + window − 1 tokens guarantees a shared fingerprint) at
    * ~2/(window+1) the k-gram density — the guarantee MinHash doesn't
    * give and the compression a full k-gram index doesn't give.
    * Documents shorter than one window contribute their global minimum.
    * Output: (idCol, fp) distinct rows.
    *
    * Physical shape at 100 TB: one generator pass (no shuffle), ONE
    * doc-key window (the only exchange — same key as any doc-partitioned
    * store, so bucketed layouts make it exchange-free), per-doc
    * distinct. Hashes are the engine's portable md5-top-60-bit family,
    * so external SQL replays the selection exactly.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, window: Int = 4): DataFrame = {
    require(shingleK >= 1 && window >= 1)
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, window - 1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    docs
      // stage tokens as a real column: an inline token expression captured
      // by the shingle lambda re-tokenizes once per element (O(tokens²))
      .select(col(idCol), toks.as("toks_"))
      .select(col(idCol), posexplode(
        TextFunctions.shinglesFromTokens(col("toks_"), shingleK)).as(Seq("pos", "gram")))
      .withColumn("h", HashFunctions.hash64(col("gram")))
      .withColumn("fp", min(col("h")).over(w))
      .withColumn("np", count(lit(1)).over(wAll))
      .where(col("pos") <= col("np") - window ||
        (col("np") < window && col("pos") === 0))
      .select(col(idCol), col("fp"))
      .distinct()
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints — the
    * MOSS overlap report: docs sharing ≥ `minShared` fingerprints, with
    * the count. `maxDf` drops fingerprints present in more than that
    * many documents (boilerplate k-grams — the same stop-term cure as
    * the sparse-cosine df cap) BEFORE the self-join, bounding fan-out at
    * maxDf² per fingerprint. Takes the [[winnowFingerprints]] output so
    * sweep drivers can persist/reuse the fingerprint table across probes.
    */
  def winnowedPairs(fps: DataFrame, idCol: String,
      minShared: Long = 2, maxDf: Long = Long.MaxValue): DataFrame = {
    require(minShared >= 1 && maxDf >= 1)
    val capped =
      if (maxDf == Long.MaxValue) fps
      else fps
        .withColumn("df_", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .where(col("df_") <= maxDf)
        .drop("df_")
    val l = capped.select(col("fp"), col(idCol).as("a"))
    val r = capped.select(col("fp"), col(idCol).as("b"))
    l.join(r, "fp")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Duplicated k-gram POSITIONS per document: every token position whose
    * k-token window occurs ≥ `minCount` times anywhere in the corpus
    * (including elsewhere in the same document). The building block for
    * exact substring-span dedup; positions are 1-based.
    *
    * Shape: in-row shingling (no shuffle) → ONE exchange on the 60-bit
    * gram hash with a count-over-window (uniform keys, skew-free) →
    * in-place occurrence filter. A groupBy-count + join-back would scan
    * and re-shingle the corpus TWICE (the generator is not reused across
    * the two sides); the window form pays one sort-by-hash instead —
    * strictly cheaper when shingling dominates, which it does.
    */
  def dupShinglePositions(docs: DataFrame, textCol: String, idCol: String,
      k: Int, minCount: Long = 2): DataFrame = {
    require(k >= 2 && minCount >= 2)
    import org.apache.spark.sql.expressions.Window
    shinglePositions(docs, textCol, idCol, k)
      .withColumn("occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("occ") >= minCount)
      .select(col(idCol), col("p"))
  }

  /** MinHash-LSH calibration table: candidate probability
    * `P = 1 − (1 − j^r)^b` for every (bands b, rows-per-band r) layout of
    * a signature budget over a grid of true Jaccard values — the S-curve
    * a deployment reads to pick banding for its dedup threshold BEFORE
    * burning a corpus pass (precision/recall knob of X2). Pure math, no
    * data scan; powers are UNROLLED left-associated multiplications so
    * every engine computes the identical IEEE product chain (pow() is
    * libm, not correctly rounded).
    */
  def lshCalibration(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int, jaccardGrid: Seq[Double]): DataFrame = {
    import spark.implicits._
    require(numHashes >= 2)
    val layouts = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
    val rows = for {
      j <- jaccardGrid
      (b, r) <- layouts
    } yield {
      val jr = (1 until r).foldLeft(j)((acc, _) => acc * j)
      val miss = (1 until b).foldLeft(1.0 - jr)((acc, _) => acc * (1.0 - jr))
      (j, b.toLong, r.toLong,
        BigDecimal(java.math.BigDecimal.valueOf(1.0 - miss))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.toDF("jaccard", "bands", "rows_per_band", "p_candidate")
  }

  /** Hashed k-gram positions (idCol, p, h), 1-based — the raw stream both
    * the batch window-count and the streaming additive-fold forms of
    * substring dedup consume. In-row shingling, no shuffle. */
  def shinglePositions(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks_"))
      .select(col(idCol), posexplode(
        TextFunctions.shinglesFromTokens(col("toks_"), k)).as(Seq("pos0", "gram")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("p"),
        HashFunctions.hash64(col("gram")).as("h"))

  /** Merge duplicated k-gram positions (idCol, p) into maximal spans —
    * the islands step of [[substringSpans]], exposed so the streaming
    * fold can share it verbatim. */
  def spansFromDupPositions(dupPos: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("p"))
    dupPos
      .withColumn("brk",
        when(lag(col("p"), 1).over(wOrd).isNull ||
          col("p") - lag(col("p"), 1).over(wOrd) > k, 1L).otherwise(0L))
      .withColumn("span", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("span"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"))
      .withColumn("n_dup_tokens", col("span_end") - col("span_start") + 1)
      .select(col(idCol), col("span_start"), col("span_end"), col("n_dup_tokens"))
  }

  /** Exact substring-span dedup (the suffix-array dedup of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, re-expressed relationally): a token span is
    * duplicated iff its k-token window occurs more than once in the
    * corpus; overlapping/adjacent duplicated windows merge into maximal
    * spans. Output: (idCol, span_start, span_end, n_dup_tokens), token
    * positions 1-based inclusive — the span table a cleaning pass cuts
    * out of each document.
    *
    * Where Lee et al. build a corpus-wide suffix array (pointer-chasing,
    * single-machine), the relational form is two uniform-key shuffles:
    * the gram-hash count and the doc-key window for interval merging —
    * both combiner-heavy and skew-free, so the plan survives a 100 TB
    * corpus (the suffix array does not). Granularity is the k-token
    * window, the same granularity production substring dedup uses
    * (50-token windows in the paper).
    *
    * Interval merge: all windows have length k and arrive sorted by
    * start, so a window starting at p continues the current span iff
    * p − prev_start ≤ k (overlap or exact adjacency); one lag() compare,
    * no running-max machinery.
    */
  def substringSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minCount: Long = 2): DataFrame =
    spansFromDupPositions(
      dupShinglePositions(docs, textCol, idCol, k, minCount), idCol, k)

  /** Per-document dedup accounting for [[substringSpans]]: total tokens,
    * tokens inside duplicated spans, tokens a span-cutting clean pass
    * keeps. Documents with no duplicated span report n_dup_tokens = 0 —
    * the corpus-level "how much of my data is duplicated text"
    * measurement that decides whether substring dedup is worth a full
    * pass. One extra combiner-heavy agg + an outer join on the doc key.
    */
  def substringDedupStats(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minCount: Long = 2): DataFrame = {
    val spans = substringSpans(docs, textCol, idCol, k, minCount)
      .groupBy(col(idCol)).agg(sum(col("n_dup_tokens")).as("dup_"))
    docs
      .select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .withColumn("n_dup_tokens", coalesce(col("dup_"), lit(0L)))
      .withColumn("n_kept_tokens", col("n_tokens") - col("n_dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("n_dup_tokens"),
        col("n_kept_tokens"))
  }
}
