package graft.perfbench

import graft.operators.{Dedup, SetSimJoin, SparseSim, TextAnalysis}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The LLM-data-pipeline operators over a generated corpus with planted
  * exact and near duplicates and low-quality documents. A round is one
  * curation pass; each operator call is one operation, its result written
  * to the curated store: the quality filter, exact clusters, MinHash
  * candidates, the exact set-similarity join and the budgeted sparse-cosine
  * join. */
final class CurateCorpus(ctx: Ctx) extends Phase {
  import CurateCorpus._
  private val spark = ctx.spark
  private val input = ctx.fresh("corpus")
  private val out = ctx.fresh("curated")
  private var generated: Corpus = _
  private var docs: DataFrame = _

  def setUp(): Unit = {
    generated = corpus(ctx.seed, Docs)
    spark.createDataFrame(generated.docs.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      .repartition(3).write.mode("overwrite").parquet(input)
    docs = spark.read.parquet(input)
  }

  private def operators: Seq[(String, () => DataFrame)] = Seq(
    "corpusFilter" -> (() => TextAnalysis.corpusFilter(docs, "text", "id")),
    "exactClusters" -> (() => Dedup.exactClusters(docs, "text", "id")),
    "minhash" -> (() => Dedup.minhashCandidatePairs(
      Dedup.minhashSignature(docs, "text", "id", NumHashes, ShingleK), "id", NumHashes, RowsPerBand)),
    "SetSimJoin" -> (() => SetSimJoin.jaccardPairs(docs, "text", "id", JaccardMin)),
    "SparseSim" -> (() => SparseSim.cosinePairsBudget(docs, "text", "id", CosineMin,
      pairBudget = PairBudget, maxDfFrac = MaxDfFrac)))

  def round(i: Int): Seq[Op] = operators.map { case (name, op) =>
    Op(s"operators.$name", request = false, Docs.toDouble / operators.size,
      () => Harness.ms(op().write.mode("overwrite").parquet(s"$out/$name")))
  }

  def storeBytes: Long = Harness.treeBytes(out)

  private lazy val result = Output(
    spark.read.parquet(s"$out/corpusFilter").collect().toSeq,
    spark.read.parquet(s"$out/exactClusters").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
    pairs(spark.read.parquet(s"$out/minhash")),
    scored(spark.read.parquet(s"$out/SetSimJoin")),
    scored(spark.read.parquet(s"$out/SparseSim")))

  def check(): Seq[String] = {
    SelfTest.expectRejected("curate_corpus", mutations(generated, result).map { case (n, o) =>
      n -> CurateCorpus.check(generated, o)
    })
    CurateCorpus.check(generated, result).all
  }

  def layers(t: Tracer): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val outRows = Map("corpusFilter" -> result.filter.count(_.getAs[Boolean]("keep")).toDouble,
      "exactClusters" -> result.exact.size.toDouble, "minhash" -> result.minhash.size.toDouble,
      "SetSimJoin" -> result.jaccard.size.toDouble, "SparseSim" -> result.cosine.size.toDouble)
    Main.CurationOps.flatMap { o =>
      val cs = t.calls(s"operators.$o")
      Seq(s"operators.$o.ms" -> Harness.median(cs.map(_.wallMs)),
        s"operators.$o.jobs" -> Harness.median(cs.map(_.jobs.toDouble)),
        s"operators.$o.shuffle_mb" -> Harness.median(cs.map(_.shuffleWriteBytes / mb)),
        s"operators.$o.pairs_out" -> outRows(o))
    }.toMap + ("operators.SetSimJoin.candidates" ->
      SetSimJoin.candidateCounts(docs, "text", "id", JaccardMin)._1.toDouble)
  }
}

object CurateCorpus {
  val Docs = 150
  val JaccardMin = 0.7
  val CosineMin = 0.8
  val PairBudget = 300000L
  val MaxDfFrac = 0.5
  val NumHashes = 16
  val RowsPerBand = 4
  val ShingleK = 3

  final case class Corpus(docs: IndexedSeq[(Long, String)], exactGroups: Seq[Seq[Long]])

  /** `n` documents: 80% prose over a Zipf vocabulary with function words,
    * 6% low quality (too short, punctuation spam, repetitive), 7% exact
    * copies of another document differing only in inner whitespace, 7%
    * near copies with a tenth of their words replaced. */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new Random(seed)
    val zipf = new Gen.Zipf(Gen.Words.size, 1.0)
    def word(): String =
      if (r.nextDouble() < 0.4) Gen.Stopwords(r.nextInt(Gen.Stopwords.size)) else Gen.Words(zipf.draw(r))
    def prose(): String = Seq.fill(3 + r.nextInt(6)) {
      val ws = Seq.fill(6 + r.nextInt(9))(word())
      (ws.head.capitalize +: ws.tail).mkString(" ") + "."
    }.mkString(" ")
    def lowQuality(): String = r.nextInt(3) match {
      case 0 => Seq.fill(5 + r.nextInt(15))(word()).mkString(" ")
      case 1 => Seq.fill(50)(Seq("!!!", "###", word(), "$$", "%")(r.nextInt(5))).mkString(" ")
      case _ => val (a, b) = (word(), word()); Seq.fill(30)(s"$a $b").mkString(" ")
    }
    val ids = r.shuffle((0 until n).toIndexedSeq).map(i => 100000L + i)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val groups = scala.collection.mutable.Map.empty[Int, List[Int]]
    for (i <- 0 until n) {
      val kind = r.nextInt(100)
      texts += (
        if (i < 20 || kind < 80) prose()
        else if (kind < 86) lowQuality()
        else if (kind < 93) {
          val src = r.nextInt(i)
          groups(src) = i :: groups.getOrElse(src, Nil)
          val ws = texts(src).split(" ")
          (ws.init.map(w => if (r.nextInt(5) == 0) w + Seq(" ", "\t")(r.nextInt(2)) else w) :+ ws.last)
            .mkString(" ")
        } else texts(r.nextInt(i)).split(" ").map(w => if (r.nextInt(10) == 0) word() else w).mkString(" "))
    }
    Corpus(ids.zip(texts).toIndexedSeq,
      groups.toSeq.sortBy(_._1).map { case (src, cs) => (src :: cs).map(ids) })
  }

  final case class Output(
      filter: Seq[Row],
      exact: Set[(String, Long, Long)],
      minhash: Set[(Long, Long)],
      jaccard: Set[(Long, Long, Double)],
      cosine: Set[(Long, Long, Double)])

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def scored(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // ---- the brute force -------------------------------------------------

  private def tokens(s: String): Seq[String] = s.split("\\s+").filter(_.nonEmpty).toSeq

  def exactClusters(docs: Seq[(Long, String)]): Set[(String, Long, Long)] =
    docs.groupBy { case (_, t) =>
      val trimmed = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      Oracle.md5Hex(trimmed.replaceAll("\\s+", " ").toLowerCase(Locale.ROOT))
    }.map { case (fp, ds) => (fp, ds.map(_._1).min, ds.size.toLong) }.toSet

  def jaccardPairs(docs: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, t) => id -> tokens(t).toSet }.filter(_._2.nonEmpty).sortBy(_._1)
    (for {
      i <- sets.indices.iterator
      j <- (i + 1 until sets.size).iterator
      (a, sa) = sets(i)
      (b, sb) = sets(j)
      inter = sa.count(sb)
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= JaccardMin
    } yield (a, b, Oracle.round(jac, 6))).toSet
  }

  def cosinePairs(docs: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
    val tf = docs.map { case (id, t) =>
      id -> tokens(t.toLowerCase(Locale.ROOT)).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    }
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    // the df cap derived from the work budget: largest bit-length class whose
    // cumulative sum of df² stays within it, under the corpus-fraction ceiling
    var cum = BigInt(0)
    var bMax = 1
    df.values.groupBy(d => 64 - java.lang.Long.numberOfLeadingZeros(d)).toSeq.sortBy(_._1).foreach {
      case (b, ds) =>
        cum += ds.map(d => BigInt(d) * d).sum
        if (cum <= PairBudget) bMax = b
    }
    val cap = math.min((1L << bMax) - 1, math.max(2L, math.ceil(MaxDfFrac * docs.size).toLong))
    val kept = tf.map { case (id, m) => id -> m.filter { case (w, _) => df(w) <= cap } }
    val norm = kept.map { case (id, m) => id -> math.sqrt(m.values.map(x => x * x).sum.toDouble) }.toMap
    val postings = kept.flatMap { case (id, m) => m.map { case (w, c) => (w, id, c) } }.groupBy(_._1)
    val dots = scala.collection.mutable.Map.empty[(Long, Long), Long]
    postings.values.foreach { ps =>
      for (x <- ps; y <- ps if x._2 < y._2)
        dots((x._2, y._2)) = dots.getOrElse((x._2, y._2), 0L) + x._3 * y._3
    }
    dots.iterator.map { case ((a, b), d) => (a, b, Oracle.round(d.toDouble / (norm(a) * norm(b)), 6)) }
      .filter(_._3 >= CosineMin).toSet
  }

  def check(c: Corpus, o: Output): Oracle.Problems = {
    val p = new Oracle.Problems
    def diff[T](what: String, got: Set[T], want: Set[T]): Unit =
      p.require(got == want, s"$what: ${(got -- want).size} unexpected, ${(want -- got).size} missing " +
        s"(e.g. ${(want -- got).headOption.orElse((got -- want).headOption).getOrElse("")})")
    diff("exact clusters", o.exact, exactClusters(c.docs))
    diff("SetSimJoin pairs", o.jaccard, jaccardPairs(c.docs))
    diff("SparseSim pairs", o.cosine, cosinePairs(c.docs))
    val planted = c.exactGroups.flatMap(g => g.combinations(2).map(x => (x.min, x.max))).toSet
    p.require(planted.subsetOf(o.minhash),
      s"MinHash missed ${(planted -- o.minhash).size} of ${planted.size} planted exact-duplicate pairs")
    p.require(o.minhash.forall { case (a, b) => a < b }, "MinHash pair not ordered a < b")
    p.require(o.filter.map(_.getAs[Long]("id")).toSet == c.docs.map(_._1).toSet,
      "quality filter did not judge every document once")
    p.require(o.filter.forall(r => r.getAs[Boolean]("keep") == !(r.getAs[Boolean]("r_too_short") ||
      r.getAs[Boolean]("r_low_stopword") || r.getAs[Boolean]("r_high_punct") ||
      r.getAs[Boolean]("r_repetitive"))), "quality filter keep flag contradicts its rules")
    p
  }

  def mutations(c: Corpus, o: Output): Seq[(String, Output)] = {
    val planted = c.exactGroups.head.sorted
    Seq(
      "missing planted duplicate pair" -> o.copy(minhash = o.minhash - ((planted(0), planted(1)))),
      "dropped SetSimJoin pair" -> o.copy(jaccard = o.jaccard - o.jaccard.head),
      "dropped SparseSim pair" -> o.copy(cosine = o.cosine - o.cosine.head),
      "wrong cluster size" -> o.copy(exact = o.exact.map(x => if (x._3 > 1) x.copy(_3 = x._3 + 1) else x)))
  }
}
