package graft.operators

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table. All pure Column trees — per-row, shuffle-free,
  * embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  /** Stopword tables for the n-gram/stopword language-ID heuristic.
    * Tiny, compiled into the expression as literals (broadcast-free). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "du", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "den", "mit", "für", "auf"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人", "这"))

  /** Count of tokens that are members of `words` (exact token match). */
  private def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Language ID: argmax over per-language stopword hit counts; ties and
    * zero-hit rows → "und" (undetermined). Deterministic tie-break by
    * language code.
    */
  def langId(text: Column): Column = {
    val toks = TextFunctions.tokens(lower(text))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(toks, words).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Mixed-language (code-switching) detection: chunk each document,
    * language-ID every chunk with [[langId]], and flag documents whose
    * chunks vote for ≥2 languages — the cleaning signal a doc-level
    * language ID structurally cannot produce (a 50/50 bilingual page
    * gets ONE confident doc-level label). Output per flagged doc:
    * chunk count, distinct predicted languages, and the majority
    * language with its vote count (ties broken lang-ascending).
    *
    * Shape: in-row chunking → per-chunk Column-tree predictor (no UDF,
    * no shuffle) → one combiner-heavy (doc, lang) vote count → doc-key
    * window for the majority pick.
    */
  def mixedLanguage(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 8): DataFrame = {
    require(chunkTokens >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = coalesce(TextFunctions.tokens(col(textCol)),
      array().cast("array<string>"))
    val votes = docs
      .select(col(idCol), toks.as("toks_"))
      .where(size(col("toks_")) > 0)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, cast(ceil(size(toks_) / $chunkTokens.0d) as int) - 1), " +
          s"i -> array_join(slice(toks_, i * $chunkTokens + 1, $chunkTokens), ' '))"))
        .as("chunk"))
      .select(col(idCol), langId(col("chunk")).as("lang_pred"))
      .groupBy(col(idCol), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val wDoc = Window.partitionBy(col(idCol))
    votes
      .withColumn("n_chunks", sum(col("n")).over(wDoc))
      .withColumn("n_langs", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(
        wDoc.orderBy(col("n").desc, col("lang_pred"))))
      .where(col("rn") === 1 && col("n_langs") >= 2)
      .select(col(idCol), col("n_chunks"), col("n_langs"),
        col("lang_pred").as("top_lang"), col("n").as("top_n"))
  }

  /** Quality scoring features (length / punctuation / stopword ratios) and a
    * composite [0,1] score — the cheap heuristics used to pre-filter
    * web-scale corpora.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = TextFunctions.tokens(text)
    val nChars = length(text)
    val nTokens = size(toks)
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val enStops = stopwordHits(TextFunctions.tokens(lower(text)), stopwords("en"))
    df.withColumn("n_chars_c", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len",
        round(nChars.cast("double") / nullifZero(nTokens), 4))
      .withColumn("punct_ratio", round(punct.cast("double") / nullifZero(nChars), 4))
      .withColumn("stopword_ratio", round(enStops.cast("double") / nullifZero(nTokens), 4))
      .withColumn("quality_score", round(
        when(nTokens >= 5 && nTokens <= 100000, lit(0.4)).otherwise(lit(0.0))
          + when(punct.cast("double") / nullifZero(nChars) < 0.2, lit(0.3)).otherwise(lit(0.0))
          + when(enStops > 0, lit(0.3)).otherwise(lit(0.0)), 4))
  }

  private def nullifZero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  /** Whitespace + BPE-ish token counts per document. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(TextFunctions.tokens(col(textCol))))
      .withColumn("bpeish_tokens", TextFunctions.tokenCountBpeIsh(col(textCol)))

  /** Document fingerprint (rolling-hash family): md5 over normalized text
    * plus a 60-bit numeric form for range-partitionable dedup keys.
    * The 64-bit form is derived from the already-materialized
    * `fingerprint` column — the normalize+md5 chain is an interpreted
    * expression (no codegen CSE), so evaluating it twice per row doubles
    * the whole pipeline's CPU.
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", HashFunctions.fingerprint(col(textCol)))
      .withColumn("fingerprint64", HashFunctions.hash64(col("fingerprint")))

  /** PII patterns, RE2-safe (no backrefs/lookarounds) so every engine —
    * Java regex here, RE2 in DuckDB/Go scrubbers — replicates them
    * byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\d{3}[-.]\\d{3}[-.]\\d{4}"

  /** PII scrub for training corpora: count and mask emails, URLs and
    * phone-shaped numbers. Pure per-row Column tree (codegen'd regex,
    * shuffle-free). URLs are replaced FIRST so an address inside a URL
    * query string is consumed by `<URL>` rather than double-masked.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val text = col(textCol)
    df.withColumn("n_emails", size(regexp_extract_all(text, lit(EmailRe), lit(0))))
      .withColumn("n_urls", size(regexp_extract_all(text, lit(UrlRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(text, lit(PhoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(text, UrlRe, "<URL>"),
            EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
  }

  /** Within-document repetition signals (the Gopher-rule family used to
    * filter boilerplate/spam from web-scale training corpora):
    *
    *  - `top_gram_ratio`: share of all `topN`-grams taken by the single
    *    most frequent one ("top n-gram fraction", small n)
    *  - `dup_gram_ratio`: share of `dupN`-grams occurring more than once
    *    ("duplicate n-gram fraction", larger n)
    *
    * Physical shape: ONE corpus scan explodes both gram sizes together
    * (each gram tagged with its size, same long-form trick as pqTrain),
    * one (doc, size, gram) count, one conditional per-doc aggregate.
    * Both aggregations are combiner-heavy (within-doc duplicates collapse
    * map-side), shuffle keys are (doc_id, n, gram) — uniform, no hot
    * keys — and docs with too few tokens come back with zero counts and
    * NULL ratios via the left join. This is the 100 TB shape; a per-row
    * HOF fold would avoid the shuffle but runs interpreted (no codegen)
    * and cannot spill a pathological single document.
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String,
      topN: Int = 2, dupN: Int = 5): DataFrame = {
    require(topN >= 1 && dupN >= 1 && topN != dupN)
    val base = docs.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("toks_"))
    def tagged(n: Int): Column = transform(
      TextFunctions.shinglesFromTokens(col("toks_"), n),
      g => struct(lit(n).as("n"), g.as("gram")))
    val counts = base
      .select(col("id"), explode(concat(tagged(topN), tagged(dupN))).as("g"))
      .groupBy(col("id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = counts.groupBy(col("id")).agg(
      sum(when(col("n") === topN, col("cnt"))).as("n_top_"),
      max(when(col("n") === topN, col("cnt"))).as("topc_"),
      sum(when(col("n") === dupN, col("cnt"))).as("n_dup_"),
      sum(when(col("n") === dupN && col("cnt") > 1, col("cnt"))
        .otherwise(lit(0L))).as("dupc_"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_top_"), lit(0L)).as("n_top_grams"),
        round(col("topc_").cast("double") / col("n_top_"), 6).as("top_gram_ratio"),
        coalesce(col("n_dup_"), lit(0L)).as("n_dup_grams"),
        round(col("dupc_").cast("double") / col("n_dup_"), 6).as("dup_gram_ratio"))
  }

  /** Corpus vocabulary table: term frequency + document frequency for the
    * `topK` most frequent tokens — the input artifact for tokenizer
    * training, stopword derivation, and df-based weighting (BM25/TF-IDF
    * reuse the same pass).
    *
    * Physical shape: one explode, then a two-phase aggregation Spark
    * plans automatically for the distinct — partial (term, doc) dedup
    * map-side, then per-term counts. Hot terms (stopwords hit every doc)
    * are absorbed by map-side partial aggregation, not a skewed reduce.
    * Top-k is TakeOrderedAndProject — no global sort. At 100 TB swap the
    * exact df for approx_count_distinct and keep the plan.
    */
  def vocabulary(docs: DataFrame, textCol: String, idCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1)
    docs
      .select(col(idCol).as("_doc"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("_doc")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(topK)
  }

  /** Distinctive terms per group (c-TF-IDF, the BERTopic cluster-labeling
    * statistic, in exact-integer form): for each (group, term), the lift
    * of the term's in-group rate over its corpus rate,
    * `(n_gt / T_g) / (n_t / T) = n_gt·T / (T_g·n_t)` — all four factors
    * exact integer counts, products formed in BIGINT, ONE double division
    * rounded to 6 (the log-idf variant inherits libm last-ulp freedom;
    * ranking by lift is order-equivalent for a single corpus). `minCount`
    * floors in-group noise; top-K per group by (lift desc, term).
    *
    * Shape: one explode → one combiner-heavy (group, term) count; group
    * totals and corpus term counts are re-aggregations OF THAT TABLE
    * (groups × terms rows, not corpus rows), so the expensive pass
    * happens once. Per-group top-K via window rank on the small table.
    */
  def distinctiveTerms(docs: DataFrame, textCol: String, groupCol: String,
      topK: Int = 5, minCount: Long = 5): DataFrame = {
    require(topK >= 1 && minCount >= 1)
    import org.apache.spark.sql.expressions.Window
    val gt = docs
      .select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("n_gt"))
    val withTotals = gt
      .withColumn("t_g", sum(col("n_gt")).over(Window.partitionBy(col("grp"))))
      .withColumn("n_t", sum(col("n_gt")).over(Window.partitionBy(col("term"))))
      .withColumn("t", sum(col("n_gt")).over(Window.partitionBy()))
    withTotals
      .where(col("n_gt") >= minCount)
      // products in DOUBLE, not BIGINT: at 100 TB n_gt·T overflows int64,
      // while double×double and the division are IEEE-exact-rounded — the
      // same bits on every engine
      .withColumn("lift", round(
        (col("n_gt").cast("double") * col("t").cast("double")) /
          (col("t_g").cast("double") * col("n_t").cast("double")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("lift").desc, col("term"))))
      .where(col("rank") <= topK)
      .select(col("grp").as(groupCol), col("rank"), col("term"),
        col("n_gt"), col("lift"))
  }

  /** C4/Gopher-style composite corpus filter: every document gets a NAMED
    * verdict per quality rule plus the final `keep` flag — the audit
    * artifact corpus pipelines report ("why did this doc drop") rather
    * than a bare filtered table. Rules:
    *
    *  - `r_too_short`     n_tokens < minTokens (Gopher's 50-token floor)
    *  - `r_low_stopword`  stopword_ratio < minStopRatio (C4's "no English
    *                      function words" boilerplate signal; fires too
    *                      when the ratio is undefined — zero tokens)
    *  - `r_high_punct`    punct_ratio > maxPunctRatio (symbol spam)
    *  - `r_repetitive`    top 2-gram share > maxTopGramRatio (Gopher
    *                      repetition rule, [[repetitionStats]])
    *
    * Physical shape: [[qualityFeatures]] is a pure per-row Column tree on
    * one scan; [[repetitionStats]] is the one combiner-heavy explode agg;
    * one id-equi join combines them. Verdicts compare the same ROUNDED
    * ratios the individual operators emit, so the flags reproduce
    * bit-identically on any engine that matches those operators.
    */
  def corpusFilter(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 40, minStopRatio: Double = 0.05,
      maxPunctRatio: Double = 0.2, maxTopGramRatio: Double = 0.1): DataFrame = {
    val q = qualityFeatures(docs.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), col("n_tokens"), col("punct_ratio"),
        col("stopword_ratio"))
    val rep = repetitionStats(docs, textCol, idCol, topN = 2, dupN = 5)
      .select(col(idCol), col("top_gram_ratio"))
    q.join(rep, Seq(idCol))
      .withColumn("r_too_short", col("n_tokens") < minTokens)
      .withColumn("r_low_stopword",
        coalesce(col("stopword_ratio") < minStopRatio, lit(true)))
      .withColumn("r_high_punct",
        coalesce(col("punct_ratio") > maxPunctRatio, lit(false)))
      .withColumn("r_repetitive",
        coalesce(col("top_gram_ratio") > maxTopGramRatio, lit(false)))
      .withColumn("keep", !(col("r_too_short") || col("r_low_stopword") ||
        col("r_high_punct") || col("r_repetitive")))
      .select(col(idCol), col("r_too_short"), col("r_low_stopword"),
        col("r_high_punct"), col("r_repetitive"), col("keep"))
  }

  /** Windowed co-occurrence counts — the GloVe/word2vec-style corpus
    * statistic (how often two words appear within `window` positions of
    * each other), the input matrix for classical embedding training and
    * PMI-based collocation mining. Pairs are unordered (least/greatest)
    * and counted per occurrence.
    *
    * Physical shape: NO self-join. The naive formulation joins the
    * (doc, pos, word) table to itself on doc with |Δpos| ≤ window — a
    * data-scale join with a quadratic worst case. Instead each token row
    * expands to at most `window` (token, right-neighbor) rows via two
    * narrow generators (posexplode, then an offset explode) reading the
    * SAME in-row token array — pipelined, never shuffled. The only
    * shuffle is the final (w1, w2) count: combiner-heavy, uniform keys
    * (hot pairs collapse map-side). Top-k is TakeOrderedAndProject.
    */
  def cooccurrence(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 2, topK: Int = 50): DataFrame = {
    require(topK >= 1)
    cooccurrenceCounts(docs, textCol, window)
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Full unordered within-window pair-count table (w1, w2, n) — the
    * shared core of [[cooccurrence]] (top-k view) and [[textrank]] (graph
    * edges). See [[cooccurrence]] for the no-self-join physical shape. */
  def cooccurrenceCounts(docs: DataFrame, textCol: String,
      window: Int): DataFrame = {
    require(window >= 1)
    val base = docs.select(TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .withColumn("n_", size(col("toks_")))
    base
      .select(col("toks_"), col("n_"),
        posexplode(col("toks_")).as(Seq("pos", "w")))
      .select(col("toks_"), col("pos"), col("w"), col("n_"),
        explode(sequence(lit(1), lit(window))).as("off"))
      .where(col("pos") + col("off") < col("n_")) // guard BEFORE element_at (ANSI)
      .select(
        least(col("w"), element_at(col("toks_"), col("pos") + col("off") + 1)).as("w1"),
        greatest(col("w"), element_at(col("toks_"), col("pos") + col("off") + 1)).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
  }

  /** TextRank keyword extraction: PageRank power iterations over the
    * weighted word co-occurrence graph (Mihalcea & Tarau 2004) — the
    * classical unsupervised keyword/keyphrase scorer, and the engine's
    * graph-analytics primitive on a corpus-derived graph:
    *
    *   PR(i) = (1 − d) + d · Σ_j  PR(j) · w_ji / W_j
    *
    * over undirected edges (each co-occurrence pair contributes both
    * directions), W_j = total edge weight at j, fixed iteration count.
    *
    * Physical shape at 100 TB: the GRAPH is aggregated corpus statistics
    * (vocab² counts at worst), orders of magnitude smaller than the
    * corpus — one cooccurrence pass builds it, then each iteration is one
    * (join + combiner-heavy sum) over edge rows, shuffled on the word
    * key. The edge table is checkpointed when the operator is called
    * (one corpus pass, `iters` + 1 reads; left lazy, the seed node set,
    * which drops the weights, re-tokenizes the corpus under its own
    * exchange), and its blocks are freed with the returned plan; scores
    * never leave the cluster; top-k is
    * TakeOrderedAndProject. Fixed small `iters` (TextRank converges in a
    * handful) keeps the lineage bounded — no driver loop state beyond the
    * DataFrame reference.
    *
    * Determinism: integer edge weights; per-edge contributions round(12)
    * then DECIMAL-sum (order-independent); per-iteration scores
    * round(9) — bit-portable across engines, same discipline as
    * kmeansRefine.
    */
  def textrank(docs: DataFrame, textCol: String, window: Int = 2,
      iters: Int = 3, damping: Double = 0.85, topK: Int = 50): DataFrame = {
    require(iters >= 1 && topK >= 1 && damping > 0.0 && damping < 1.0)
    val pairs = cooccurrenceCounts(docs, textCol, window)
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"), col("n"))
      .unionAll(pairs.select(col("w2").as("src"), col("w1").as("dst"), col("n")))
    val weighted = edges
      .join(edges.groupBy(col("src")).agg(sum(col("n")).as("wsrc")), "src")
      .localCheckpoint()
    var pr = weighted.select(col("src").as("node")).distinct()
      .withColumn("score", lit(1.0))
    for (_ <- 1 to iters) {
      pr = weighted
        .join(pr, col("src") === col("node"))
        .select(col("dst"),
          round(col("score") * col("n") / col("wsrc"), 12).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(round(lit(1.0 - damping) + lit(damping) *
          sum(col("c").cast("decimal(28,14)")).cast("double"), 9).as("score"))
    }
    pr.select(col("node").as("word"), col("score"))
      .orderBy(col("score").desc, col("word"))
      .limit(topK)
  }

  /** Adjacent-symbol pair statistics over a character-initialized vocab —
    * the counting pass of BPE tokenizer training's first merge round:
    * every within-word adjacent character pair, counted per word
    * OCCURRENCE (word frequency weighting, as BPE requires). Real BPE
    * also carries an end-of-word marker and re-counts after each merge;
    * this is the (by far dominant) first-round corpus statistic.
    *
    * Physical shape: two narrow generators (word explode, then in-word
    * pair positions from a `sequence` transform — no join, no window),
    * then ONE combiner-heavy pair count; the pair key space is tiny
    * (alphabet²), so map-side partial aggregation absorbs nearly
    * everything and the shuffle is bytes, not data-scale.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    require(topK >= 1)
    val w = docs.select(
      explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
    w.select(explode(
        when(length(col("w")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2))))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** BPE tokenizer TRAINING — `merges` rounds of the count-argmax-merge
    * loop that [[bpePairStats]] only runs the counting pass of. Symbols
    * start as single characters; each round counts every adjacent symbol
    * pair across all word occurrences (frequency-weighted, as BPE
    * requires), merges the most frequent pair corpus-wide (ties by
    * (left, right) symbol order), and rewrites the words. Returns the
    * merge table (step, left, right, n) — the trained artifact a
    * tokenizer ships.
    *
    * Merge semantics: non-overlapping left-to-right with the boundary
    * space consumed — a run "a b a b" merges alternately within a round
    * (both engines' plain substring replace scan identically, so the
    * result is cross-engine exact; several production BPE impls share
    * this behavior on runs).
    *
    * Physical shape at 100 TB: each round is ONE combiner-heavy pair
    * count (tiny key space — symbol²) plus ONE narrow per-row rewrite;
    * only the single argmax row reaches the driver per round, so k
    * merges are k passes, never k joins. The rewrite chain stays lazy:
    * round r's scan replays r cheap narrow maps rather than persisting
    * intermediate corpora.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 64)
    val spark = docs.sparkSession
    import spark.implicits._
    var cur = docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .select(concat(lit(" "),
        array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), " "), lit(" ")).as("ws"))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < merges && !done) {
      val top = cur.select(split(trim(col("ws")), " ").as("syms"))
        .select(explode(when(size(col("syms")) < 2,
            array().cast("array<struct<l:string,r:string>>"))
          .otherwise(transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("l"),
              element_at(col("syms"), i + 2).as("r"))))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((step, l, r, n))
        // literal (quoted) pattern + quoted replacement: corpus symbols
        // may contain regex/replacement metacharacters
        cur = cur.withColumn("ws", regexp_replace(col("ws"),
          lit(java.util.regex.Pattern.quote(s" $l $r ")),
          lit(java.util.regex.Matcher.quoteReplacement(s" $l$r "))))
        step += 1
      }
    }
    out.toSeq.toDF("step", "left", "right", "n")
  }

  /** Boilerplate k-gram census: the most-repeated k-token windows in the
    * corpus with occurrence and document frequency — the "what text is
    * duplicated" companion to [[Dedup.substringSpans]] (which only says
    * WHERE). High-occ/high-df grams are boilerplate (headers, licenses,
    * navigation); high-occ/low-df grams are within-doc repetition spam.
    * One combiner-heavy group on the gram (count + distinct-doc), top-K
    * via TakeOrderedAndProject. At 100 TB group on the gram HASH and
    * carry `any_value(gram)` for display; the string group is fine at
    * audit scale.
    */
  def boilerplateGrams(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, topK: Int = 20): DataFrame = {
    require(k >= 2 && topK >= 1)
    docs
      .select(col(idCol).as("_doc"), TextFunctions.tokens(col(textCol)).as("toks_"))
      .select(col("_doc"),
        explode(TextFunctions.shinglesFromTokens(col("toks_"), k)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("_doc")).as("df"))
      .where(col("occ") >= 2)
      .orderBy(col("occ").desc, col("gram"))
      .limit(topK)
  }

  /** Apply a trained BPE merge table (the [[bpeTrain]] artifact) to the
    * corpus and return the tokenized-corpus symbol distribution (top-K
    * symbols by count). This is the ENCODE half of the tokenizer: the
    * merge table is tiny (k rows — driver data by construction), the
    * corpus pass is k narrow regexp rewrites with no shuffle until the
    * final combiner-heavy symbol count. Merges must be applied in
    * training order — a later merge can consume the product of an
    * earlier one (feed-forward).
    */
  def bpeEncode(docs: DataFrame, textCol: String,
      mergeTable: Seq[(String, String)], topK: Int = 50): DataFrame = {
    require(topK >= 1)
    var cur = docs
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("w"))
      .select(concat(lit(" "),
        array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), " "), lit(" ")).as("ws"))
    mergeTable.foreach { case (l, r) =>
      // literal pattern/replacement quoting, same as the training rewrite
      cur = cur.withColumn("ws", regexp_replace(col("ws"),
        lit(java.util.regex.Pattern.quote(s" $l $r ")),
        lit(java.util.regex.Matcher.quoteReplacement(s" $l$r "))))
    }
    cur.select(explode(split(trim(col("ws")), " ")).as("sym"))
      .groupBy(col("sym")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("sym"))
      .limit(topK)
  }

  /** Concordance (KWIC): every occurrence of `term` with up to `window`
    * words of context on each side — the corpus-exploration view behind
    * "show me how this token is used" (sense disambiguation, filter-rule
    * debugging, tokenizer audits). Output: (idCol, pos 1-based,
    * left_ctx, term, right_ctx), contexts space-joined, truncated at
    * document edges.
    *
    * Physical shape: one narrow posexplode with an equality filter on
    * the generated token (for literal terms the filter collapses the
    * generator's output immediately — only matches survive the pipeline);
    * contexts are in-row array slices, no joins, no shuffle at all
    * before the caller's ordering.
    */
  def concordance(docs: DataFrame, textCol: String, idCol: String,
      term: String, window: Int = 2): DataFrame = {
    require(term.nonEmpty && window >= 1)
    docs
      .select(col(idCol), TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .select(col(idCol), col("toks_"),
        posexplode(col("toks_")).as(Seq("pos0", "w")))
      .where(col("w") === term)
      .select(col(idCol), (col("pos0") + 1).as("pos"),
        array_join(slice(col("toks_"),
          greatest(lit(1), col("pos0") + 1 - window), least(lit(window), col("pos0"))),
          " ").as("left_ctx"),
        col("w").as("term"),
        array_join(slice(col("toks_"), col("pos0") + 2, lit(window)), " ")
          .as("right_ctx"))
  }

  /** Per-document keywords: top `k` terms by tf · N/df — the linear-idf
    * form of TF-IDF ranking (log-idf reorders little at small k and
    * drags ln() in, which is not correctly-rounded across engines; the
    * linear form is exact-integer arithmetic plus one division).
    * Output: (idCol, term, score, rank), rank 1..k per document.
    *
    * Physical shape: one explode → (doc, term) count, per-term df from
    * one aggregation of that table (vocab-sized, shuffles on the term
    * key it already has), join back on term, then ONE per-doc window for
    * the top-k — ranks within a document are at most vocab-sized, and
    * the window partitions on the uniform doc key. N costs one count()
    * on a pruned scan; only that scalar reaches the driver.
    */
  def docKeywords(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val n = docs.count()
    val tf = docs
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score",
        round((col("tf") * lit(n)).cast("double") / col("df"), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("score"), col("rank"))
  }

  /** Bigram language-model table: P(next | word) as exact conditional
    * frequencies — the classical n-gram LM artifact (fluency scoring,
    * next-token baselines, CCNet-style quality signals train on exactly
    * this table). `prob` = count(w1 w2) / count(w1 ·), a single division
    * of two exact integers — no log-space arithmetic, so the table is
    * bit-portable across engines (ln() is NOT correctly-rounded and is
    * the classic cross-engine divergence in LM scoring).
    *
    * Physical shape: ordered adjacent pairs from one narrow offset
    * expansion (no self-join, as [[cooccurrence]]), one combiner-heavy
    * (w1, w2) count, then the prefix totals as a window over w1 — the
    * windowed table is vocab² COUNTS, not corpus rows, so the window
    * shuffle is bytes at any corpus size. Top-k is TakeOrderedAndProject.
    */
  def bigramLm(docs: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    require(topK >= 1)
    val base = docs.select(TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .withColumn("n_", size(col("toks_")))
    val pairs = base
      .select(col("toks_"), col("n_"), posexplode(col("toks_")).as(Seq("pos", "w1")))
      .where(col("pos") + 1 < col("n_")) // guard BEFORE element_at (ANSI)
      .select(col("w1"), element_at(col("toks_"), col("pos") + 2).as("w2"))
    val counts = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("prob", round(col("n").cast("double") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"))), 6))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Nucleus (top-p) truncation of the bigram LM: per context word, the
    * MINIMAL prefix of next-words (ordered by count desc, word asc) whose
    * cumulative mass reaches p — the vocabulary-truncation table a
    * sampling deployment precomputes (Holtzman et al. 2020 top-p,
    * applied to the corpus LM). `p` is a rational pNum/pDen so the
    * boundary compare `pDen·cum_prev < pNum·total` is ALL-INTEGER — no
    * float cutoff can disagree across engines (the X136 stratified-split
    * discipline). Contexts with total < minTotal are dropped (their
    * nucleus is noise).
    *
    * One bigram count (combiner-heavy), one context-key window for
    * cumulative mass + rank — the cost profile of the LM itself.
    */
  def lmNucleus(docs: DataFrame, textCol: String, pNum: Long, pDen: Long,
      minTotal: Long = 5): DataFrame = {
    require(pNum >= 1 && pNum < pDen)
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .withColumn("n_", size(col("toks_")))
    val counts = base
      .select(col("toks_"), col("n_"), posexplode(col("toks_")).as(Seq("pos", "w1")))
      .where(col("pos") + 1 < col("n_"))
      .select(col("w1"), element_at(col("toks_"), col("pos") + 2).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val wCtx = Window.partitionBy(col("w1"))
    val wOrd = wCtx.orderBy(col("n").desc, col("w2"))
    counts
      .withColumn("total", sum(col("n")).over(wCtx))
      .where(col("total") >= minTotal)
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("cum_prev", coalesce(sum(col("n")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .where(col("cum_prev") * pDen < col("total") * pNum)
      .select(col("w1"), col("rank"), col("w2"), col("n"), col("total"))
  }

  /** LM-based document quality scoring — the perplexity-filter proxy a
    * CCNet-style pipeline runs (score each document under a corpus
    * language model; outliers are boilerplate/gibberish candidates).
    * The LM is the corpus's own bigram model; each document scores as
    * the MEAN conditional probability of its bigrams:
    *
    *   score(d) = Σ_{(w1,w2) ∈ d} prob(w2 | w1) / |bigrams(d)|
    *
    * A true perplexity would exp/ln — and ln is not correctly-rounded
    * across engines, so cross-engine gates can't use it. Mean
    * probability is monotone-equivalent for FILTERING (rank order of
    * "familiar" vs "unfamiliar" text) and exactly portable: per-bigram
    * probs round(6), the per-doc sum runs in DECIMAL (exact, order-
    * independent), and the final mean is ONE un-rounded double division
    * (correctly rounded by IEEE in every engine; rounding AFTER the
    * division would re-introduce half-ties — a 6-decimal sum over a
    * small n lands exactly on .5 boundaries where Spark's half-up and
    * DuckDB's half-even disagree).
    *
    * Physical shape at 100 TB: the LM is vocab²-bounded corpus
    * statistics (one combiner-heavy count pass), orders of magnitude
    * below the corpus, so it BROADCASTS into the per-doc bigram stream —
    * scoring is scan → generate → broadcast-join → per-doc aggregate,
    * with the doc-key shuffle the only data-scale exchange.
    */
  def bigramLmScore(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val base = docs.select(col(idCol),
        TextFunctions.tokens(lower(col(textCol))).as("toks_"))
      .withColumn("n_", size(col("toks_")))
    val pairs = base
      .select(col(idCol), col("toks_"), col("n_"),
        posexplode(col("toks_")).as(Seq("pos", "w1")))
      .where(col("pos") + 1 < col("n_"))
      .select(col(idCol), col("w1"),
        element_at(col("toks_"), col("pos") + 2).as("w2"))
    val lm = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      .withColumn("prob", round(col("n").cast("double") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"))), 6))
      .select(col("w1"), col("w2"), col("prob"))
    pairs
      .join(broadcast(lm), Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("prob").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("lm_score"))
  }

  /** Flesch reading-ease per document with a DETERMINISTIC syllable
    * proxy: a syllable is a maximal vowel-group run ([aeiouy]+) in the
    * lowercased text — the standard heuristic's core, chosen over
    * dictionary syllabification precisely because two engines (and two
    * runs) agree on it exactly. Group counting works on the whole text
    * (a run can't span a non-vowel, so per-word and per-text counts are
    * equal — no word explode needed): vowel runs collapse to a marker
    * char that can't occur in lowercased text, everything else drops,
    * and the length IS the count. Words are whitespace runs, sentences
    * are [.!?]+ runs (min 1 so empty/unpunctuated docs stay defined).
    * The score 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is three exact
    * integer-ratio divisions in a fixed order — engine-identical IEEE —
    * rounded to 4.
    *
    * Per-row Column trees only (three regex passes over the text, no
    * shuffle, no UDF) — the corpus-filter shape: at 100 TB this is a
    * map-only pass that pushes the projection to the scan.
    * Output: (id, n_words, n_sentences, n_syllables, flesch).
    */
  def readability(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val words = size(split(t, "\\s+"))
    val sentences = greatest(lit(1),
      size(split(t, "[.!?]+")) - 1)
    val syllables = length(
      regexp_replace(regexp_replace(lower(t), "[aeiouy]+", "V"), "[^V]", ""))
    docs.select(col(idCol),
      words.cast("long").as("n_words"),
      sentences.cast("long").as("n_sentences"),
      syllables.cast("long").as("n_syllables"))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double")
            / col("n_words").cast("double")), 4))
  }
}
