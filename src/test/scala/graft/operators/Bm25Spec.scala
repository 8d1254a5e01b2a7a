package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {

  private def toks(c: Column): Column = TextFunctions.tokens(lower(c))

  /** The explode/group-by form of BM25 that the one-pass form replaced,
    * kept here as the reference: (N, Σ|d|) and df from two aggregations,
    * then explode → group by (id, dl, term) → group by id. */
  private def referenceStats(docs: DataFrame, terms: Seq[String]): Bm25.Stats = {
    val base = docs.select(toks(col("text")).as("toks_"))
    val g = base.agg(count(lit(1)), sum(size(col("toks_")))).collect()(0)
    val n = g.getLong(0)
    if (n == 0 || g.isNullAt(1)) Bm25.Stats(0L, 0.0, Map.empty)
    else {
      val df = base
        .select(explode(array_distinct(col("toks_"))).as("term"))
        .where(col("term").isin(terms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Bm25.Stats(n, g.getLong(1).toDouble / n, df)
    }
  }

  private def referenceScore(docs: DataFrame, query: String,
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val terms = Bm25.queryTerms(query)
    val st = referenceStats(docs, terms)
    val idf = terms.map { t =>
      val df = st.df.getOrElse(t, 0L).toDouble
      t -> BigDecimal(math.log(1.0 + (st.n - df + 0.5) / (df + 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val idfCol = terms.foldLeft(lit(0.0)) { (acc, t) =>
      when(col("term") === t, lit(idf(t))).otherwise(acc)
    }
    docs
      .select(col("doc_id"), toks(col("text")).as("toks_"))
      .withColumn("dl", size(col("toks_")))
      .select(col("doc_id"), col("dl"), explode(col("toks_")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("contrib_", round(
        idfCol * ((col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + (lit(b) * col("dl")) / lit(st.avgdl)))), 9))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_").cast("decimal(28,12)")).cast("double").as("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** The one-pass stats and scores equal the reference's exactly. */
  private def assertMatchesReference(docs: DataFrame, query: String): Map[Long, Double] = {
    assert(Bm25.corpusStats(docs, "text", Bm25.queryTerms(query)) ==
      referenceStats(docs, Bm25.queryTerms(query)))
    val got = Bm25.score(docs, "text", "doc_id", query)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == referenceScore(docs, query))
    got
  }

  private def corpus(texts: Option[String]*): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }.toDF("doc_id", "text")
  }

  test("BM25 matches a hand-rolled reference on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark join"),
      (2L, "join the table"),
      (3L, "window scan")).toDF("doc_id", "text")

    val got = Bm25.score(docs, "text", "doc_id", "spark join")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // independent reference computation
    val n = 3.0
    val avgdl = 8.0 / 3.0
    def idf(df: Double) =
      BigDecimal(math.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def term(tf: Double, dl: Double, df: Double) =
      BigDecimal(idf(df) * ((tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = term(2, 3, 1) + term(1, 3, 2) // spark×2 + join×1
    val d2 = term(1, 3, 2)                 // join×1
    assert(got.keySet == Set(1L, 2L)) // d3 shares no term -> absent
    assert(math.abs(got(1L) - d1) < 1e-9, s"got ${got(1L)} want $d1")
    assert(math.abs(got(2L) - d2) < 1e-9)
    // more occurrences of a rarer term must outrank the common term
    assert(got(1L) > got(2L))
  }

  test("BM25 favors rare terms and saturates with tf") {
    import spark.implicits._
    val docs = (1 to 20).map(i =>
      (i.toLong, if (i == 1) "rare common" else "common filler")).toDF("doc_id", "text")
    val got = Bm25.score(docs, "text", "doc_id", "rare common")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the one doc containing the rare term dominates every common-only doc
    assert(got(1L) > got.removed(1L).values.max * 2)
  }

  test("BM25 one-pass form: a repeated query term counts once in the query") {
    val docs = corpus(Some("spark spark join"), Some("join the table"), Some("window scan"))
    val got = assertMatchesReference(docs, "spark join spark")
    assert(got == assertMatchesReference(docs, "spark join"))
  }

  test("BM25 one-pass form: a term absent from the corpus adds nothing") {
    val docs = corpus(Some("spark spark join"), Some("join the table"), Some("window scan"))
    val got = assertMatchesReference(docs, "spark nowhere")
    assert(got.keySet == Set(1L))
    assert(assertMatchesReference(docs, "nowhere").isEmpty)
  }

  test("BM25 one-pass form: null text, an all-null corpus and an empty corpus") {
    val got = assertMatchesReference(
      corpus(Some("spark join"), None, Some("join join"), None), "join spark")
    assert(got.keySet == Set(1L, 3L))
    assert(assertMatchesReference(corpus(None, None), "join").isEmpty)
    assert(Bm25.corpusStats(corpus(None, None), "text", Seq("join")) == Bm25.Stats(0L, 0.0, Map.empty))
    val empty = corpus(Some("x")).where(lit(false))
    assert(assertMatchesReference(empty, "join").isEmpty)
  }

  test("BM25 one-pass form: punctuation-bearing tokens match only verbatim") {
    val docs = corpus(Some("Tool: purchase\n{\"sku\": 7}"), Some("tool purchase, done."),
      Some("tool: tool: {\"sku\": 7}"), Some("purchase"))
    val got = assertMatchesReference(docs, "tool: purchase, {\"sku\":")
    assert(got.keySet == Set(1L, 2L, 3L))
  }

  test("BM25 one-pass form: a 40-term query sums exactly in decimal") {
    val words = (0 until 60).map(i => s"w$i")
    val r = new scala.util.Random(17)
    val docs = corpus((1 to 200).map(_ =>
      Some(Seq.fill(5 + r.nextInt(60))(words(r.nextInt(words.size))).mkString(" "))): _*)
    val query = r.shuffle(words).take(40).mkString(" ")
    assert(Bm25.queryTerms(query).size == 40)
    val got = assertMatchesReference(docs.repartition(3), query)
    assert(got.size > 150)
  }

  test("BM25 score tokenizes each row once in its optimized plan") {
    val path = java.nio.file.Files.createTempDirectory("bm25plan").resolve("docs").toString
    corpus(Some("spark join"), Some("window scan")).write.parquet(path)
    val plan = Bm25.score(spark.read.parquet(path), "text", "doc_id", "spark join")
      .queryExecution.optimizedPlan
    val splits = plan.collect { case p => p.expressions.map(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
    }.size).sum }.sum
    assert(splits == 1, plan.treeString)
  }
}
