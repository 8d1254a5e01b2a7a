package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis (`text_*`). */
private[graft] object TextGates {
  import GateHelpers._

  /** Pinned `now` INSIDE the event-time range for the text_relative_time
    * gate, so events after it exercise the reference's negative-timedelta
    * normalization (future ts → hours/minutes of the positive remainder,
    * formatters.py:146-152 via Python timedelta). */
  private val RelTimeNow = "2024-01-11 00:30:00"

  /** Shared CTE chain for the BPE oracles: corpus as space-joined symbol
    * sequences (w0), three count→argmax→replace merge rounds (w1..w3,
    * winners m0..m2 as scalar subqueries — the oracle derives each
    * round's winner itself, so feed-forward is oracle-proven). */
  private lazy val bpeRoundsCte: String = {
    val rounds = (0 until 3).map { n =>
      s"""s$n AS (SELECT string_split(trim(ws), ' ') AS s FROM w$n),
         |i$n AS (SELECT s, unnest(range(1, len(s))) AS i FROM s$n WHERE len(s) >= 2),
         |p$n AS (SELECT s[CAST(i AS INT)] AS l, s[CAST(i AS INT)+1] AS r FROM i$n),
         |m$n AS (SELECT l, r, COUNT(*) AS n FROM p$n GROUP BY 1, 2
         |  ORDER BY n DESC, l, r LIMIT 1),
         |w${n + 1} AS (SELECT replace(ws,
         |  ' ' || (SELECT l FROM m$n) || ' ' || (SELECT r FROM m$n) || ' ',
         |  ' ' || (SELECT l FROM m$n) || (SELECT r FROM m$n) || ' ') AS ws FROM w$n)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
       |wd AS (SELECT unnest(toks) AS w FROM tok),
       |w0 AS (SELECT ' ' || array_to_string(
       |    list_transform(range(1, length(w) + 1),
       |      i -> substr(w, CAST(i AS INT), 1)), ' ') || ' ' AS ws FROM wd),
       |$rounds""".stripMargin
  }

  /** langId predictor CTE chain over any relation exposing
    * (`idCol`, toks) — row-wise, so a per-chunk source keeps one
    * prediction per chunk row. Ends in `pred(idCol, lang_pred)`. */
  private def langidPredCtes(srcTok: String, idCol: String): String = {
    val langs = TextAnalysis.stopwords.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, t -> list_contains($lst, t))) AS h_$lang"
    }.mkString(",\n  ")
    val best = langs.map(l => s"h_${l._1}").mkString("greatest(", ", ", ")")
    val pick = langs.map(_._1).sorted.reverse
      .map(l => s"WHEN h_$l = best THEN '$l'").mkString("\n  ")
    s"""h AS (SELECT $idCol, $hitCols FROM $srcTok),
       |g AS (SELECT *, $best AS best FROM h),
       |pred AS (
       |  SELECT $idCol, CASE WHEN best IS NULL OR best = 0 THEN 'und'
       |    $pick
       |    ELSE 'und' END AS lang_pred
       |  FROM g)""".stripMargin
  }

  /** Shared langId predictor CTEs (ends in `pred(doc_id, lang_pred)`) —
    * used by `text_langid` and the `text_langid_confusion` audit. */
  private lazy val langidCtes: String =
    s"""tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
       |${langidPredCtes("tok", "doc_id")}""".stripMargin

  val gates: Seq[Gate] = Seq(

    // Winnowing fingerprints (MOSS): 3-gram hashes, window-4 minima —
    // the position-robust fingerprint set at ~2/(w+1) density.
    Gate("text_winnow_fp", (s, d) => {
      Dedup.winnowFingerprints(docs(s, d), "text", "doc_id",
        shingleK = 3, window = 4)
        .orderBy(col("doc_id"), col("fp"))
    },
      // identical positional 3-grams, hash64, window-4 frame minimum, the
      // short-doc global-min fallback, distinct
      (winnowFpSql + "\nSELECT doc_id, fp FROM fps ORDER BY doc_id, fp")),

    // Boilerplate census: WHAT text repeats (the span gates say where) —
    // top duplicated 8-grams with occurrence and document frequency.
    Gate("text_boilerplate_grams", (s, d) => {
      TextAnalysis.boilerplateGrams(docs(s, d), "text", "doc_id",
        k = 8, topK = 20)
    },
      // same gram build, same occ/df census, same (occ desc, gram) top-K
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) < 8 THEN []
         |  ELSE list_transform(generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' ')) END) AS gram FROM tok)
         |SELECT gram, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS df
         |FROM g GROUP BY gram HAVING COUNT(*) >= 2
         |ORDER BY occ DESC, gram LIMIT 20""".stripMargin),

    Gate("text_langid", (s, d) => {
      docs(s, d)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .select(col("doc_id"), col("lang_pred"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $langidCtes
         |SELECT doc_id, lang_pred FROM pred ORDER BY doc_id""".stripMargin),

    Gate("text_preview", (s, d) => {
      TextFunctions.withContentPreview(docs(s, d), "text", "preview", 150)
        .select(col("doc_id"), col("preview"))
        .orderBy(col("doc_id"))
    },
      // mirrors format_content_preview + extract_summary(max_sentences=2)
      // (reference formatters.py:172-218): first-2-fragment summary joined
      // ". " + ".", overflow truncates the SUMMARY at 147
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |sen AS (
        |  SELECT doc_id, norm,
        |    list_filter(list_transform(string_split_regex(norm, '[.!?]+'),
        |      s -> trim(s)), s -> s <> '') AS sentences
        |  FROM n),
        |p AS (
        |  SELECT doc_id, norm, sentences,
        |    array_to_string(sentences[1:2], '. ') || '.' AS summary
        |  FROM sen)
        |SELECT doc_id, CASE
        |  WHEN len(norm) <= 150 THEN norm
        |  WHEN len(sentences) = 0 THEN
        |    CASE WHEN len(norm) <= 100 THEN norm
        |         ELSE substr(norm, 1, 97) || '...' END
        |  WHEN len(summary) <= 150 THEN summary
        |  ELSE substr(summary, 1, 147) || '...' END AS preview
        |FROM p ORDER BY doc_id""".stripMargin),

    // log_viewer's _pretty truncation (textwrap.shorten, width 80, "…"):
    // word-boundary greedy prefix, placeholder appended.
    Gate("text_shorten", (s, d) => {
      TextFunctions.withShortened(docs(s, d), "text", "short", 80)
        .select(col("doc_id"), col("short"))
        .orderBy(col("doc_id"))
    },
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
        |    list_filter(string_split_regex(trim(regexp_replace(text, '\s+', ' ', 'g')), '\s+'),
        |      t -> t <> '') AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, norm, toks,
        |    list_max(list_transform(generate_series(1, len(toks)),
        |      i -> CASE WHEN len(array_to_string(toks[1:i], ' ')) <= 79 THEN i ELSE 0 END)) AS keep
        |  FROM n)
        |SELECT doc_id, CASE
        |  WHEN len(norm) <= 80 THEN norm
        |  WHEN COALESCE(keep, 0) > 0 THEN array_to_string(toks[1:keep], ' ') || '…'
        |  ELSE '…' END AS short
        |FROM k ORDER BY doc_id""".stripMargin),

    Gate("text_relative_time", (s, d) => {
      Tables.events(s, d)
        .withColumn("rel",
          TextFunctions.relativeTime(col("ts"), to_timestamp(lit(RelTimeNow))))
        .select(col("event_id"), col("rel"))
        .orderBy(col("event_id"))
    },
      (
      s"""WITH t AS (SELECT event_id,
         |  CAST(floor(epoch(TIMESTAMP '$RelTimeNow')) AS BIGINT)
         |    - CAST(floor(epoch(ts)) AS BIGINT) AS secs_
         |  FROM events)
         |SELECT event_id, $sqlRelCase AS rel
         |FROM t ORDER BY event_id""".stripMargin)),

    Gate("text_token_stats", (s, d) => {
      TextAnalysis.tokenStats(docs(s, d), "text")
        .select(col("doc_id"), col("ws_tokens"), col("bpeish_tokens"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))::INT AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::INT AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    Gate("text_quality", (s, d) => {
      TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))
        .orderBy(col("doc_id"))
    },
      """WITH f AS (
        |  SELECT doc_id, length(text) AS n_chars_c,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_tokens,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
        |    len(list_filter(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
        |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stops
        |  FROM documents)
        |SELECT doc_id, n_tokens::INT AS n_tokens,
        |  ROUND(n_chars_c / NULLIF(n_tokens, 0), 4) AS avg_token_len,
        |  ROUND(punct / NULLIF(n_chars_c, 0), 4) AS punct_ratio,
        |  ROUND(stops / NULLIF(n_tokens, 0), 4) AS stopword_ratio,
        |  ROUND(CAST((CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
        |    + (CASE WHEN punct / NULLIF(n_chars_c, 0) < 0.2 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN stops > 0 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 4) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin),

    Gate("text_fingerprint", (s, d) => {
      TextAnalysis.fingerprints(docs(s, d), "text")
        .select(col("doc_id"), col("fingerprint"), col("fingerprint64"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  CAST(('0x' || substr(md5(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))), 1, 15)) AS BIGINT) AS fingerprint64
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Flesch reading ease with the deterministic vowel-run syllable
    // proxy — the readability cut a curation pipeline layers on top of
    // text_quality's structural score; map-only Column trees.
    Gate("text_readability", (s, d) => {
      TextAnalysis.readability(docs(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
      // vowel-run syllables via marker collapse ('V' can't occur in
      // lowercased text); same fixed-order double chain, round 4
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |    CAST(GREATEST(1, len(string_split_regex(text, '[.!?]+')) - 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(length(regexp_replace(regexp_replace(lower(text),
        |      '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g')) AS BIGINT)
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
        |    4) AS flesch
        |FROM f ORDER BY doc_id""".stripMargin),

    // Token-space corpus drift: Jaccard of the 3-shingle vocabularies of
    // the two corpus halves — the CONTENT drift the value-space KS test
    // can't see (a topic shift keeps every numeric column stationary);
    // exact integers from two distinct-sets + one intersection count.
    Gate("text_vocab_drift", (s, d) => {
      val dcs = docs(s, d)
      val half = dcs.agg(expr("count(1) div 2").as("h"))
      val sh = dcs.crossJoin(broadcast(half))
        .select((col("doc_id") < col("h")).as("first_half"), explode(
          graft.functions.TextFunctions.shinglesFromTokens(
            graft.functions.TextFunctions.tokens(col("text")), 3)).as("t"))
        .groupBy(col("t"))
        .agg(max(when(col("first_half"), 1L).otherwise(0L)).as("in_a"),
          max(when(!col("first_half"), 1L).otherwise(0L)).as("in_b"))
      sh.agg(sum(col("in_a")).as("vocab_a"), sum(col("in_b")).as("vocab_b"),
          sum(col("in_a") * col("in_b")).as("inter"))
        .select(col("vocab_a"), col("vocab_b"), col("inter"),
          round(col("inter").cast("double") /
            (col("vocab_a") + col("vocab_b") - col("inter")).cast("double"),
            6).as("jaccard"))
    },
      // two distinct vocabularies + one intersection, exact integers
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |h AS (SELECT COUNT(*) // 2 AS h FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |ex AS (SELECT doc_id, unnest(shingles) AS t FROM sh),
         |fl AS (SELECT ex.doc_id < h.h AS first_half, t
         |  FROM ex CROSS JOIN h),
         |pres AS (SELECT t,
         |    MAX(CASE WHEN first_half THEN 1 ELSE 0 END) AS in_a,
         |    MAX(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS in_b
         |  FROM fl GROUP BY 1),
         |agg AS (SELECT CAST(SUM(in_a) AS BIGINT) AS vocab_a,
         |    CAST(SUM(in_b) AS BIGINT) AS vocab_b,
         |    CAST(SUM(in_a * in_b) AS BIGINT) AS inter FROM pres)
         |SELECT vocab_a, vocab_b, inter,
         |  ROUND(CAST(inter AS DOUBLE)
         |    / CAST(vocab_a + vocab_b - inter AS DOUBLE), 6) AS jaccard
         |FROM agg""".stripMargin),

    // Vocabulary growth curve (Heaps' law, measured) over the 3-SHINGLE
    // vocabulary (the unigram vocabulary of this synthetic corpus
    // saturates in decile 0 — 31 words; shingles genuinely grow): new
    // shingles whose FIRST occurrence falls in each corpus decile + the
    // cumulative vocabulary — is the corpus still yielding novelty or
    // has it saturated (the keep-crawling signal). Exact integers: first
    // occurrence is a MIN aggregate, never a quadratic
    // cumulative-distinct; the cumsum runs over 10 rows.
    Gate("text_vocab_growth", (s, d) => {
      val dcs = docs(s, d)
      val tot = dcs.agg(count(lit(1)).as("n_docs"))
      val firstDoc = dcs
        .select(col("doc_id"), explode(
          graft.functions.TextFunctions.shinglesFromTokens(
            graft.functions.TextFunctions.tokens(col("text")), 3)).as("t"))
        .groupBy(col("t")).agg(min(col("doc_id")).as("first_doc"))
      val dec = firstDoc.crossJoin(broadcast(tot))
        .groupBy(expr("(first_doc * 10) div n_docs").as("decile"))
        .agg(count(lit(1)).as("new_terms"))
      dec.withColumn("cum_vocab", sum(col("new_terms")).over(
          Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("decile"))
    },
      // first occurrence is a MIN aggregate; dense doc ids cut deciles
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks
         |  FROM documents),
         |sh AS (SELECT doc_id, $sqlShingles3 AS shingles FROM tok),
         |ex AS (SELECT doc_id, unnest(shingles) AS t FROM sh),
         |fo AS (SELECT t, MIN(doc_id) AS first_doc FROM ex GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |dec AS (SELECT (first_doc * 10) // n_docs AS decile,
         |    COUNT(*) AS new_terms
         |  FROM fo CROSS JOIN n GROUP BY 1)
         |SELECT decile, new_terms,
         |  CAST(SUM(new_terms) OVER (ORDER BY decile
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         |FROM dec ORDER BY decile""".stripMargin),

    // Gopher-rule repetition signals: top-2-gram share + duplicate-5-gram
    // share per document.
    Gate("text_repetition", (s, d) => {
      TextAnalysis.repetitionStats(docs(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    {
      def grams(n: Int) =
        s"""CASE WHEN len(toks) < $n THEN []
           |  ELSE list_transform(generate_series(1, len(toks)-${n - 1}),
           |    i -> ${(0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")}) END""".stripMargin
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |g2 AS (SELECT doc_id, unnest(${grams(2)}) AS gram FROM tok),
         |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
         |a2 AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_top_, MAX(cnt) AS topc_
         |  FROM c2 GROUP BY 1),
         |g5 AS (SELECT doc_id, unnest(${grams(5)}) AS gram FROM tok),
         |c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
         |a5 AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_dup_,
         |    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dupc_
         |  FROM c5 GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a2.n_top_, 0) AS n_top_grams,
         |  ROUND(CAST(a2.topc_ AS DOUBLE) / a2.n_top_, 6) AS top_gram_ratio,
         |  COALESCE(a5.n_dup_, 0) AS n_dup_grams,
         |  ROUND(CAST(a5.dupc_ AS DOUBLE) / a5.n_dup_, 6) AS dup_gram_ratio
         |FROM documents d
         |LEFT JOIN a2 ON d.doc_id = a2.doc_id
         |LEFT JOIN a5 ON d.doc_id = a5.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Composite C4/Gopher corpus filter: named per-rule verdicts + final
    // keep flag — the corpus-quality audit artifact. Thresholds sit inside
    // the real data's spread so every rule fires on some docs.
    Gate("text_corpus_filter", (s, d) => {
      TextAnalysis.corpusFilter(docs(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
    // quality ratios + top-2-gram share recomputed with the same rounding
    // as text_quality / text_repetition, then the rule comparisons
    {
      val grams2 =
        """CASE WHEN len(toks) < 2 THEN []
          |  ELSE list_transform(generate_series(1, len(toks)-1),
          |    i -> toks[i] || ' ' || toks[i+1]) END""".stripMargin
      s"""WITH f AS (
         |  SELECT doc_id, length(text) AS n_chars_c,
         |    len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens,
         |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
         |    len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),
         |      t -> list_contains(['the','a','of','and','to','in','is','that','it','for'], t))) AS stops
         |  FROM documents),
         |qr AS (
         |  SELECT doc_id, n_tokens,
         |    ROUND(punct / NULLIF(n_chars_c, 0), 4) AS punct_ratio,
         |    ROUND(stops / NULLIF(n_tokens, 0), 4) AS stopword_ratio
         |  FROM f),
         |tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |g2 AS (SELECT doc_id, unnest($grams2) AS gram FROM tok),
         |c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
         |a2 AS (SELECT doc_id,
         |    ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT), 6) AS top_gram_ratio
         |  FROM c2 GROUP BY 1),
         |v AS (
         |  SELECT qr.doc_id,
         |    (qr.n_tokens < 40) AS r_too_short,
         |    COALESCE(qr.stopword_ratio < 0.05, TRUE) AS r_low_stopword,
         |    COALESCE(qr.punct_ratio > 0.2, FALSE) AS r_high_punct,
         |    COALESCE(a2.top_gram_ratio > 0.1, FALSE) AS r_repetitive
         |  FROM qr LEFT JOIN a2 ON qr.doc_id = a2.doc_id)
         |SELECT doc_id, r_too_short, r_low_stopword, r_high_punct, r_repetitive,
         |  NOT (r_too_short OR r_low_stopword OR r_high_punct OR r_repetitive) AS keep
         |FROM v ORDER BY doc_id""".stripMargin
    }),

    // Corpus vocabulary (tf + df per term, top 50): the tokenizer-training
    // / stopword-derivation artifact. Explode → two-phase agg →
    // TakeOrderedAndProject.
    Gate("text_vocabulary", (s, d) => {
      TextAnalysis.vocabulary(docs(s, d), "text", "doc_id", topK = 50)
    },
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM tok)
         |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
         |FROM t GROUP BY term
         |ORDER BY tf DESC, term LIMIT 50""".stripMargin),

    // c-TF-IDF distinctive terms per source group: exact-integer lift of
    // in-group rate over corpus rate, one double division — the cluster/
    // source labeling statistic.
    Gate("text_distinctive_terms", (s, d) => {
      TextAnalysis.distinctiveTerms(docs(s, d), "text", "source",
        topK = 5, minCount = 5)
        .orderBy(col("source"), col("rank"))
    },
      // same one-pass (group, term) count; totals re-aggregated from it;
      // double products (IEEE-exact) not BIGINT (overflow at corpus scale)
      s"""WITH tok AS (SELECT source,
         |  unnest(${sqlTokens("lower(text)")}) AS term FROM documents),
         |gt AS (SELECT source AS grp, term, COUNT(*) AS n_gt FROM tok GROUP BY 1, 2),
         |tot AS (SELECT grp, term, n_gt,
         |  SUM(n_gt) OVER (PARTITION BY grp) AS t_g,
         |  SUM(n_gt) OVER (PARTITION BY term) AS n_t,
         |  SUM(n_gt) OVER () AS t FROM gt),
         |r AS (SELECT grp, term, n_gt,
         |  ROUND((CAST(n_gt AS DOUBLE) * CAST(t AS DOUBLE))
         |      / (CAST(t_g AS DOUBLE) * CAST(n_t AS DOUBLE)), 6) AS lift
         |  FROM tot WHERE n_gt >= 5),
         |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
         |    ORDER BY lift DESC, term) AS rnk FROM r)
         |SELECT grp AS source, CAST(rnk AS INT) AS rank, term, n_gt, lift
         |FROM rk WHERE rnk <= 5 ORDER BY source, rank""".stripMargin),

    // GloVe-style windowed co-occurrence counts: per-token offset
    // expansion over the in-row array (no self-join), one pair count.
    Gate("text_cooccurrence", (s, d) => {
      TextAnalysis.cooccurrence(docs(s, d), "text", "doc_id",
        window = 2, topK = 50)
    },
      // identical pairing rule: 1-based p, neighbor p+off for off in 1..2,
      // guarded to the token count; unordered least/greatest pair
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT doc_id, toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok),
         |offs AS (SELECT unnest([1, 2]) AS off),
         |pairs AS (
         |  SELECT LEAST(toks[p], toks[p + off]) AS w1,
         |    GREATEST(toks[p], toks[p + off]) AS w2
         |  FROM ex, offs WHERE p + off <= len(toks))
         |SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2
         |ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin),

    // BPE first-merge-round pair counts: within-word adjacent character
    // pairs weighted by word occurrence.
    // Full BPE training loop (3 merge rounds): count → corpus-wide argmax
    // → rewrite, k passes with one argmax row to the driver per round.
    // The merge table IS the tokenizer artifact.
    Gate("text_bpe_train", (s, d) => {
      TextAnalysis.bpeTrain(docs(s, d), "text", merges = 3)
        .orderBy(col("step"))
    },
      // identical pair build: positions 1..len-1, 2-char slices, per-word-
      // occurrence weighting
      // three unrolled count→argmax→replace rounds; the merged pair is a
      // scalar subquery, so the oracle derives each round's winner itself
      s"""$bpeRoundsCte
         |SELECT 0 AS step, l AS "left", r AS "right", n FROM m0
         |UNION ALL SELECT 1, l, r, n FROM m1
         |UNION ALL SELECT 2, l, r, n FROM m2
         |ORDER BY step""".stripMargin),

    Gate("text_bpe_pairs", (s, d) => {
      TextAnalysis.bpePairStats(docs(s, d), "text", topK = 50)
    },
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |w AS (SELECT unnest(toks) AS w FROM tok),
         |p AS (SELECT unnest(CASE WHEN length(w) < 2 THEN []
         |  ELSE list_transform(range(1, length(w)), i -> substr(w, CAST(i AS INT), 2))
         |  END) AS pair FROM w)
         |SELECT pair, COUNT(*) AS n FROM p GROUP BY 1
         |ORDER BY n DESC, pair LIMIT 50""".stripMargin),

    // Tokenizer ENCODE: train the 3-round merge table, collect it (k
    // rows — driver data by construction), apply the merges in training
    // order, count the resulting corpus symbols. The oracle re-derives
    // the merge winners itself, so a wrong training argmax ALSO fails
    // this gate through the encode side.
    Gate("text_bpe_encode", (s, d) => {
      val table = TextAnalysis.bpeTrain(docs(s, d), "text", merges = 3)
        .orderBy(col("step")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs(s, d), "text", table, topK = 50)
    },
      // encode = the trained rewrite chain's terminal state w3; symbol
      // counts over it are the tokenized-corpus vocabulary distribution
      s"""$bpeRoundsCte
         |SELECT sym, COUNT(*) AS n FROM (
         |  SELECT unnest(string_split(trim(ws), ' ')) AS sym FROM w3)
         |GROUP BY 1 ORDER BY n DESC, sym LIMIT 50""".stripMargin),

    // Mixed-language (code-switching) flagging: per-chunk language votes
    // — the signal a single doc-level label structurally cannot give.
    Gate("text_mixed_language", (s, d) => {
      TextAnalysis.mixedLanguage(docs(s, d), "text", "doc_id",
        chunkTokens = 8)
        .orderBy(col("doc_id"))
    },
      // same 8-token chunks, same per-chunk predictor (the shared langid
      // CTE builder over a chunk relation), same vote aggregation
      s"""WITH dtok AS (SELECT doc_id, ${sqlTokens("text")} AS dtoks FROM documents),
         |idxs AS (
         |  SELECT doc_id, dtoks,
         |    unnest(generate_series(0, CAST(ceil(len(dtoks)/8.0) AS INT) - 1)) AS idx
         |  FROM dtok WHERE len(dtoks) > 0),
         |chunks AS (
         |  SELECT doc_id,
         |    array_to_string(dtoks[(CAST(idx AS INT)*8+1):(CAST(idx AS INT)*8+8)], ' ') AS chunk
         |  FROM idxs),
         |ctok AS (SELECT doc_id, ${sqlTokens("lower(chunk)")} AS toks FROM chunks),
         |${langidPredCtes("ctok", "doc_id")},
         |votes AS (SELECT doc_id, lang_pred, COUNT(*) AS n
         |  FROM pred GROUP BY 1, 2),
         |agg AS (SELECT doc_id, lang_pred, n,
         |  CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
         |  CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_langs,
         |  ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY n DESC, lang_pred) AS rn
         |  FROM votes)
         |SELECT doc_id, n_chunks, n_langs, lang_pred AS top_lang, n AS top_n
         |FROM agg WHERE rn = 1 AND n_langs >= 2
         |ORDER BY doc_id""".stripMargin),

    // Language-ID confusion matrix: heuristic prediction vs stored lang
    // metadata — one per-row predictor scan, one combiner-heavy count.
    Gate("text_langid_confusion", (s, d) => {
      docs(s, d)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      // same predictor CTEs joined back to the stored lang — the audit
      // matrix (where does the heuristic disagree with the metadata)
      s"""WITH $langidCtes
         |SELECT d.lang, p.lang_pred, COUNT(*) AS n
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Bigram LM table: exact conditional frequencies (integer ratio, no
    // log-space — ln() is the classic cross-engine divergence).
    Gate("text_bigram_lm", (s, d) => {
      TextAnalysis.bigramLm(docs(s, d), "text", topK = 50)
    },
      // identical table: adjacent ordered pairs, exact integer ratio via
      // one double division, prefix totals as a window over w1
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok),
         |pairs AS (SELECT toks[p] AS w1, toks[p + 1] AS w2
         |  FROM ex WHERE p + 1 <= len(toks)),
         |counts AS (SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2)
         |SELECT w1, w2, n,
         |  ROUND(CAST(n AS DOUBLE) /
         |    CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE), 6) AS prob
         |FROM counts ORDER BY n DESC, w1, w2 LIMIT 50""".stripMargin),

    // Nucleus (top-p=4/5) truncation of the bigram LM: minimal next-word
    // prefix reaching 80% mass per context, all-integer boundary compare.
    Gate("text_lm_nucleus", (s, d) => {
      TextAnalysis.lmNucleus(docs(s, d), "text", pNum = 4, pDen = 5)
        .orderBy(col("w1"), col("rank"))
    },
      // same bigram counts, same (count desc, word) order, same all-integer
      // 5·cum_prev < 4·total nucleus boundary
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok),
         |pairs AS (SELECT toks[p] AS w1, toks[p + 1] AS w2
         |  FROM ex WHERE p + 1 <= len(toks)),
         |counts AS (SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
         |t AS (SELECT w1, w2, n,
         |  CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS total FROM counts),
         |r AS (SELECT w1, w2, n, total,
         |  ROW_NUMBER() OVER w AS rank,
         |  CAST(COALESCE(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
         |  FROM t WHERE total >= 5
         |  WINDOW w AS (PARTITION BY w1 ORDER BY n DESC, w2))
         |SELECT w1, rank, w2, n, total FROM r
         |WHERE cum_prev * 5 < total * 4
         |ORDER BY w1, rank""".stripMargin),

    // LM-based quality scoring (CCNet-style perplexity-filter proxy):
    // each doc's mean bigram probability under the corpus's own bigram
    // model — the vocab²-bounded LM broadcasts, probs round(6), the
    // per-doc sum is exact DECIMAL (ln/exp deliberately avoided: not
    // correctly-rounded across engines; mean prob is monotone-equivalent
    // for filtering).
    Gate("text_lm_score", (s, d) => {
      TextAnalysis.bigramLmScore(docs(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    },
      // same LM derivation as text_bigram_lm, then the per-doc mean of
      // rounded probs (DECIMAL sum, one double division, round 6)
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT doc_id, toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok),
         |pairs AS (SELECT doc_id, toks[p] AS w1, toks[p + 1] AS w2
         |  FROM ex WHERE p + 1 <= len(toks)),
         |counts AS (SELECT w1, w2, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
         |lm AS (SELECT w1, w2,
         |  ROUND(CAST(n AS DOUBLE) /
         |    CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE), 6) AS prob
         |  FROM counts)
         |SELECT p.doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(prob AS DECIMAL(18,6))) AS DOUBLE)
         |    / COUNT(*) AS lm_score
         |FROM pairs p JOIN lm USING (w1, w2)
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),

    // Concordance (KWIC): every "spark" occurrence with ±2 context words
    // — in-row slices only, no shuffle before the output ordering.
    Gate("text_concordance", (s, d) => {
      TextAnalysis.concordance(docs(s, d), "text", "doc_id",
        term = "spark", window = 2)
        .orderBy(col("doc_id"), col("pos"))
    },
      // identical 1-based slicing, edge-truncated contexts; COALESCE
      // because DuckDB yields NULL (not []) for an empty slice where
      // Spark's array_join gives ''
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT doc_id, toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok)
         |SELECT doc_id, p AS pos,
         |  COALESCE(array_to_string(toks[GREATEST(1, p - 2):p - 1], ' '), '') AS left_ctx,
         |  toks[p] AS term,
         |  COALESCE(array_to_string(toks[p + 1:p + 2], ' '), '') AS right_ctx
         |FROM ex WHERE toks[p] = 'spark'
         |ORDER BY doc_id, pos""".stripMargin),

    // Per-doc TF-IDF keywords (linear idf — exact integers + one
    // division; log-idf would drag non-portable ln() in).
    Gate("text_doc_keywords", (s, d) => {
      TextAnalysis.docKeywords(docs(s, d), "text", "doc_id", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      // identical ranking: tf·N/df with one double division, window top-3
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
         |dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    ROUND(CAST(tf.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / dfs.df, 6) AS score
         |  FROM tf JOIN dfs ON tf.term = dfs.term),
         |ranked AS (
         |  SELECT doc_id, term, score,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
         |  FROM scored)
         |SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin),

    // TextRank keywords: 3 PageRank iterations over the co-occurrence
    // graph. damping=0.75 (not the canonical 0.85) so both d and 1−d are
    // exact in binary AND decimal — 0.15 as a double literal differs from
    // 1.0−0.85 by 1 ulp, the classic cross-engine literal trap.
    Gate("text_textrank", (s, d) => {
      TextAnalysis.textrank(docs(s, d), "text", window = 2,
        iters = 3, damping = 0.75, topK = 50)
    },
    // identical graph + 3 unrolled power iterations: per-edge
    // contributions round(12) → DECIMAL(28,14) sums, scores round(9);
    // 0.25/0.75 literals are exact in both decimal and binary
    {
      def iter(prev: String, scoreExpr: String) =
        s"""SELECT e.dst AS node,
           |  ROUND(0.25 + 0.75 * CAST(SUM(CAST(ROUND($scoreExpr * e.n / e.wsrc, 12)
           |    AS DECIMAL(28,14))) AS DOUBLE), 9) AS score
           |FROM e $prev GROUP BY 1""".stripMargin
      s"""WITH tok AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS toks FROM documents),
         |ex AS (SELECT doc_id, toks, CAST(generate_subscripts(toks, 1) AS INT) AS p FROM tok),
         |offs AS (SELECT unnest([1, 2]) AS off),
         |prs AS (
         |  SELECT LEAST(toks[p], toks[p + off]) AS w1,
         |    GREATEST(toks[p], toks[p + off]) AS w2
         |  FROM ex, offs WHERE p + off <= len(toks)),
         |pc AS (SELECT w1, w2, COUNT(*) AS n FROM prs GROUP BY 1, 2),
         |e0 AS (SELECT w1 AS src, w2 AS dst, n FROM pc
         |  UNION ALL SELECT w2, w1, n FROM pc),
         |tw AS (SELECT src, SUM(n) AS wsrc FROM e0 GROUP BY 1),
         |e AS (SELECT e0.src, e0.dst, e0.n, tw.wsrc FROM e0 JOIN tw USING (src)),
         |p1 AS (${iter("", "1.0")}),
         |p2 AS (${iter("JOIN p1 ON e.src = p1.node", "p1.score")}),
         |p3 AS (${iter("JOIN p2 ON e.src = p2.node", "p2.score")})
         |SELECT node AS word, score FROM p3
         |ORDER BY score DESC, word LIMIT 50""".stripMargin
    }),

    // PII scrub: the synthetic corpus carries no PII, so the gate injects
    // deterministic emails/URLs/phones (same expression in the oracle)
    // and checks counts + masked text byte-for-byte.
    Gate("text_redact_pii", (s, d) => {
      val injected = docs(s, d).withColumn("text2", concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" mail me at user123@example.com now"))
          .when(col("doc_id") % 4 === 1,
            lit(" see https://example.com/a?x=1 and call 555-123-4567"))
          .otherwise(lit(""))))
      TextAnalysis.redactPii(injected, "text2")
        .select(col("doc_id"), col("n_emails"), col("n_urls"),
          col("n_phones"), col("redacted"))
        .orderBy(col("doc_id"))
    },
      """WITH inj AS (
        |  SELECT doc_id, text || CASE
        |    WHEN doc_id % 4 = 0 THEN ' mail me at user123@example.com now'
        |    WHEN doc_id % 4 = 1 THEN ' see https://example.com/a?x=1 and call 555-123-4567'
        |    ELSE '' END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
        |  len(regexp_extract_all(text2, 'https?://[^\s]+'))::INT AS n_urls,
        |  len(regexp_extract_all(text2, '\d{3}[-.]\d{3}[-.]\d{4}'))::INT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(text2,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g') AS redacted
        |FROM inj ORDER BY doc_id""".stripMargin),

    // Type-token ratio per document — lexical diversity as an exact
    // rational (distinct whitespace tokens / tokens, same tokenizer as
    // text_token_stats): the repetition-adjacent quality signal that
    // catches template/boilerplate docs a length filter keeps. Per-row
    // Column tree only, no shuffle beyond the scan.
    Gate("text_ttr", (s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_types"))
        .where(col("n_tokens") > 0)
        .withColumn("ttr", round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    },
    {
      val toks = sqlTokens("text")
      s"""WITH t AS (
        |  SELECT doc_id,
        |    len($toks)::INT AS n_tokens,
        |    len(list_distinct($toks))::INT AS n_types
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_types,
        |  ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS ttr
        |FROM t WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin
    }),

    // Cohen's kappa of the langId heuristic against the stored label —
    // chance-corrected agreement from the confusion matrix alone:
    // kappa = (n·agree − Σ_k rt_k·ct_k) / (n² − Σ_k rt_k·ct_k), ALL
    // integers (the /n² cancels), so no float in sight until the rounded
    // double twin. Marginals by per-axis aggs of the cell grain,
    // full-outer-joined on the class (a class may appear on one axis
    // only); everything after the one confusion pass is ≤ classes² rows.
    Gate("text_kappa_langid", (s, d) => {
      val cm = docs(s, d)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("o"))
        .localCheckpoint() // n/agree census + both marginals read it
      val r = cm.groupBy(col("lang").as("cls")).agg(sum(col("o")).as("rt"))
      val c = cm.groupBy(col("lang_pred").as("cls")).agg(sum(col("o")).as("ct"))
      val pe = r.join(c, Seq("cls"), "full_outer")
        .agg(sum(coalesce(col("rt"), lit(0L)) * coalesce(col("ct"), lit(0L)))
          .as("pe_num"))
      cm.agg(sum(col("o")).as("n"),
          sum(when(col("lang") === col("lang_pred"), col("o"))
            .otherwise(0L)).as("agree"))
        .crossJoin(pe)
        .select(col("n"), col("agree"), col("pe_num"),
          expr("(1000000 * (n * agree - pe_num)) div (n * n - pe_num)")
            .as("kappa_micro"),
          expr("round(cast(n * agree - pe_num as double) / (n * n - pe_num), 6)")
            .as("kappa"))
    },
    {
      s"""WITH $langidCtes,
         |cm AS (
         |  SELECT d.lang, p.lang_pred, COUNT(*) AS o
         |  FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
         |r AS (SELECT lang AS cls, CAST(SUM(o) AS BIGINT) AS rt
         |  FROM cm GROUP BY 1),
         |c AS (SELECT lang_pred AS cls, CAST(SUM(o) AS BIGINT) AS ct
         |  FROM cm GROUP BY 1),
         |pe AS (
         |  SELECT CAST(SUM(COALESCE(rt, 0) * COALESCE(ct, 0)) AS BIGINT)
         |    AS pe_num
         |  FROM r FULL OUTER JOIN c USING (cls)),
         |ag AS (
         |  SELECT CAST(SUM(o) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN lang = lang_pred THEN o ELSE 0 END)
         |      AS BIGINT) AS agree
         |  FROM cm)
         |SELECT n, agree, pe_num,
         |  CAST((1000000 * (n * agree - pe_num)) // (n * n - pe_num)
         |    AS BIGINT) AS kappa_micro,
         |  ROUND(CAST(n * agree - pe_num AS DOUBLE) / (n * n - pe_num), 6)
         |    AS kappa
         |FROM ag, pe""".stripMargin
    }),

    // Feature-hashing (hashing-trick) collision audit: project the
    // vocabulary into 2^12 buckets under the portable hash and report
    // the collision mass — the table a feature-engineering pipeline
    // reads before fixing the hash width. One distinct + one group;
    // term grain never leaves the combiners.
    Gate("text_feature_hashing", (s, d) => {
      val terms = docs(s, d)
        .select(explode(TextFunctions.tokens(lower(col("text"))))
          .as("term"))
        .distinct()
        .withColumn("bucket", pmod(HashFunctions.hash64(col("term")),
          lit(4096L)))
      val byBucket = terms.groupBy(col("bucket"))
        .agg(count(lit(1)).as("load"))
      byBucket.agg(
          sum(col("load")).as("n_terms"),
          count(lit(1)).as("n_buckets_used"),
          max(col("load")).as("max_bucket_load"),
          (sum(col("load")) - count(lit(1))).as("collision_terms"))
        .withColumn("collision_ppm",
          expr("(1000000 * collision_terms) div n_terms"))
    },
    {
      val h = sqlHash64("term")
      s"""WITH terms AS (
         |  SELECT DISTINCT unnest(${sqlTokens("lower(text)")}) AS term
         |  FROM documents),
         |bk AS (
         |  SELECT (($h % 4096) + 4096) % 4096 AS bucket, COUNT(*) AS load
         |  FROM terms GROUP BY 1)
         |SELECT CAST(SUM(load) AS BIGINT) AS n_terms,
         |  COUNT(*) AS n_buckets_used,
         |  CAST(MAX(load) AS BIGINT) AS max_bucket_load,
         |  CAST(SUM(load) - COUNT(*) AS BIGINT) AS collision_terms,
         |  CAST((1000000 * (SUM(load) - COUNT(*))) // SUM(load) AS BIGINT)
         |    AS collision_ppm
         |FROM bk""".stripMargin
    }),
  )
}
