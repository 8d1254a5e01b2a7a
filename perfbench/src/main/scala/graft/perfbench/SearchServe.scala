package graft.perfbench

import graft.catalog.ArchetypeCatalog
import graft.functions.{SurrogateTextEmbedder, VectorFunctions}
import graft.ingest.Ingest
import graft.model.MemoryModel
import graft.operators.Bm25
import graft.search.{Filters, Search, SearchRequest}
import graft.search.Filters.{AV, FilterSpec, NV, RV, SV}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.Random

/** One agent's closed loop of SearchMemory requests over a store the
  * paper's ingest path wrote during set-up; each request waits for the
  * previous reply. A round is a fixed mix of request kinds; its queries are
  * drawn from the seed and the round number. An operation is one request,
  * from the call until the reply is collected. */
final class SearchServe(ctx: Ctx) extends Phase {
  import SearchServe._
  private val spark = ctx.spark
  private val storePath = ctx.fresh("search-store")
  private var store: DataFrame = _
  private var unsequenced: DataFrame = _
  private var pools: Pools = _
  private var truthRows: IndexedSeq[MemRow] = IndexedSeq.empty
  private val now = lit(Gen.ts(NowMicros))
  private val results = scala.collection.mutable.ArrayBuffer.empty[(Req, Seq[Row])]

  def setUp(): Unit = {
    val input = ctx.fresh("search-calls")
    val archetype = ArchetypeCatalog.fromYaml(Gen.ArchetypeYaml)
    Store.writeCalls(spark, Gen.calls(ctx.seed, Calls, 0.0), input, 3)
    Ingest.writeStore(Ingest.toMemories(spark.read.parquet(input), archetype, Dims), storePath)
    truthRows = Store.collect(spark.read.parquet(storePath))
    store = spark.read.parquet(storePath)
    unsequenced = store.drop("sequence_order", "preceding_memory_id")
    pools = Pools(truthRows, ctx.seed)
  }

  private def request(r: Req): DataFrame = r match {
    case Req("hybrid", _, Some(q)) => hybrid(store, q)
    case Req(k, Some(s), _) if k.startsWith("view_") =>
      Search.searchMemory(unsequenced, "embedding", Dims, s, now = now,
        attach = MemoryModel.attachSequence(unsequenced, _))
    case Req(_, Some(s), _) => Search.searchMemory(store, "embedding", Dims, s, now = now)
  }

  def round(i: Int): Seq[Op] = pools.round(i).map { r =>
    Op(s"search.${r.kind}", request = true, 1, () => {
      val t0 = System.nanoTime()
      val out = request(r).collect().toSeq
      val ms = (System.nanoTime() - t0) / 1e6
      if (i >= 0) results += ((r, out))
      ms
    })
  }

  def storeBytes: Long = Harness.treeBytes(storePath)

  def check(): Seq[String] = {
    val problems = new Oracle.Problems
    val truth = new Truth(truthRows)
    results.foreach { case (r, out) =>
      SearchServe.check(truth, r, out).all.foreach(p => problems.add(s"${r.kind} '${describe(r)}': $p"))
    }
    SelfTest.expectRejected("search_serve", mutations(results.toSeq).map { case (n, (r, o)) =>
      n -> SearchServe.check(truth, r, o)
    })
    problems.all
  }

  /** Per request kind, from the traced spans; attachSequence's self time
    * is a view request's time minus the same request without the attach,
    * both materialised to the `noop` sink. */
  def layers(t: Tracer): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    def noop(df: DataFrame): Double = {
      ctx.settle()
      t.span("prefix.view")(df.write.format("noop").mode("overwrite").save())._2
    }
    val attach = results.filter(_._1.kind.startsWith("view_")).take(6).map { case (r, _) =>
      val without = noop(Search.searchMemory(unsequenced, "embedding", Dims, r.search.get, now = now))
      noop(request(r)) - without
    }
    Map("model.attachSequence.ms" -> (if (attach.isEmpty) 0.0 else Harness.median(attach.toSeq))) ++
      Main.SearchKinds.flatMap { k =>
        val cs = t.calls(s"search.$k")
        def med(f: SparkCounts => Double) = if (cs.isEmpty) 0.0 else Harness.median(cs.map(f))
        Seq(s"search.$k.ms" -> med(_.wallMs), s"search.$k.plan_ms" -> med(_.planMs),
          s"search.$k.jobs" -> med(_.jobs.toDouble),
          s"search.$k.rows_scanned" -> med(_.recordsRead.toDouble),
          s"search.$k.mb_scanned" -> med(_.bytesRead / mb))
      }.toMap
  }
}

object SearchServe {
  val Calls = 1500
  val Dims = 64
  /** `now` for relative_time, pinned so results are reproducible. */
  val NowMicros: Long = Gen.T0Micros + 45L * 86400L * 1000000L
  val HybridM = 100
  val HybridLimit = 10

  /** One request of the mix: a SearchMemory request, or a hybrid query. */
  final case class Req(kind: String, search: Option[SearchRequest], hybrid: Option[String])

  /** Kinds of one round, in order. */
  val Mix: Seq[String] = Seq("semantic", "filtered", "by_id", "view_graph", "hybrid", "view_full")

  /** Dense + BM25 hybrid, composed as the `mem_search_hybrid_bm25` gate
    * composes it: BM25 scores left-joined to the dense cosine, fused by
    * `Search.rrfFuseTopMScores`, then the top rows reattached by id. */
  def hybrid(store: DataFrame, q: String): DataFrame = {
    val qv = SurrogateTextEmbedder.embedBatch(Seq(q), Dims).head.toSeq
    val bm = Bm25.score(store.select(col("memory_id"), col("content")), "content", "memory_id", q)
      .withColumnRenamed("score", "kw_score")
    val scored = store.select(col("memory_id"), col("embedding"))
      .join(bm, Seq("memory_id"), "left")
      .withColumn("kw", coalesce(col("kw_score"), lit(0.0)))
      .withColumn("dense", VectorFunctions.cosine(col("embedding"), typedLit(qv), Dims))
    val fused = Search.rrfFuseTopMScores(scored, col("dense"), col("kw"),
      col("memory_id").cast("long"), m = HybridM)
    store.select(col("memory_id"), col("tool"))
      .join(broadcast(fused), col("memory_id").cast("long") === fused("tb"))
      .withColumn("score", round(col("score"), 9))
      .orderBy(col("score").desc, col("memory_id").cast("long"))
      .limit(HybridLimit)
      .select(col("memory_id"), col("tool"), col("score"))
  }

  private def describe(r: Req): String = r.search.map(s =>
    s"${s.searchType}/${s.detail}/${s.query.take(30)}/${s.filters.map(f => s"${f.field} ${f.op}").mkString("&")}")
    .getOrElse(r.hybrid.getOrElse(""))

  /** What a round draws from: popular contents (many exact matches, so the
    * tie-break decides), stored ids, tools and context words. */
  final case class Pools(rows: IndexedSeq[MemRow], seed: Long) {
    private val byContent = rows.groupBy(_.content).toSeq.sortBy(x => (-x._2.size, x._1)).map(_._1)
    private val popular = byContent.take(12)
    private val ids = rows.map(_.id).sorted
    private val tools = Gen.Tools.map(_._1)
    private val words = rows.flatMap(_.context.split(" ")).distinct.sorted
    private val minTs = rows.map(_.tsMicros).min
    private val maxTs = rows.map(_.tsMicros).max

    private def iso(micros: Long): String =
      LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0, ZoneOffset.UTC).format(IsoSeconds)

    def round(i: Int): Seq[Req] = {
      val r = new Random(seed * 1000003L + i)
      def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
      def tsAt(frac: Double): String = iso(minTs + ((maxTs - minTs) * frac).toLong)
      Mix.map { kind =>
        val q = pick(popular)
        kind match {
          case "semantic" =>
            val text = if (r.nextInt(4) == 0) Seq.fill(6)(pick(Gen.Words)).mkString(" ") else q
            Req(kind, Some(SearchRequest(text)), None)
          case "filtered" =>
            val t = pick(tools)
            // all seven operators, AND-combined
            val lo = r.nextDouble() * 0.3
            val filters = Seq(
              FilterSpec("tool", "any_of", AV(Seq(t, pick(tools), pick(tools)))),
              FilterSpec("tool", "is_not", SV(pick(tools.filterNot(_ == t)))),
              FilterSpec("tool", "is", SV(t)),
              FilterSpec("timestamp", "after", SV(tsAt(lo))),
              FilterSpec("timestamp", "before", SV(tsAt(lo + 0.6))),
              FilterSpec("sequence_order", "between", RV(NV(1), NV(2 + r.nextInt(40)))),
              FilterSpec("context", "contains", SV(pick(words))))
            Req(kind, Some(SearchRequest(q, searchType = "filtered", limit = 5,
              scoreThreshold = 0.0, filters = filters)), None)
          case "by_id" => Req(kind, Some(SearchRequest(pick(ids), searchType = "by_memory_id")), None)
          case "view_graph" => Req(kind, Some(SearchRequest(q, detail = "graph")), None)
          case "view_full" => Req(kind, Some(SearchRequest(q, detail = "full", limit = 4)), None)
          case "hybrid" =>
            Req(kind, None, Some((q.split(" ").take(2) ++ Seq.fill(2)(pick(Gen.Words))).mkString(" ")))
        }
      }
    }
  }

  // ---- the brute force -------------------------------------------------

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private val IsoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  private def tsString(micros: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC).format(TsFormat)

  private def instantMicros(s: String): Long = {
    val i = java.time.OffsetDateTime.parse(s.replace("Z", "+00:00")).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def tokens(s: String): Set[String] = "[a-z0-9]+".r.findAllIn(s.toLowerCase).toSet

  /** One filter's semantics over a memory, restated from the reference's
    * operator algebra. */
  private def matches(m: MemRow, f: FilterSpec): Boolean = {
    def cmp(v: Filters.FilterValue): Int = (f.field, v) match {
      case ("timestamp", SV(s)) => java.lang.Long.compare(m.tsMicros, instantMicros(s))
      case ("sequence_order", NV(n)) => java.lang.Double.compare(m.seq.toDouble, n)
      case (field, SV(s)) => field match {
        case "tool" => m.tool.compareTo(s)
        case "session_id" => m.session.compareTo(s)
        case "context" => m.context.compareTo(s)
        case "title" => m.title.compareTo(s)
        case "memory_id" => m.id.compareTo(s)
      }
      case other => sys.error(s"no semantics for $other")
    }
    def text: String = f.field match {
      case "context" => m.context
      case "title" => m.title
      case "tool" => m.tool
    }
    (f.op, f.value) match {
      case ("is", v) => cmp(v) == 0
      case ("is_not", v) => cmp(v) != 0
      case ("before", v) => cmp(v) < 0
      case ("after", v) => cmp(v) > 0
      case ("between", RV(lo, hi)) => cmp(lo) >= 0 && cmp(hi) <= 0
      case ("contains", SV(s)) => tokens(s).subsetOf(tokens(text))
      case ("any_of", AV(vs)) => vs.exists(v => cmp(SV(v)) == 0)
      case other => sys.error(s"no semantics for $other")
    }
  }

  private def preview(content: String): String = {
    val norm = content.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val sentences = norm.split("[.!?]+", -1).map(_.trim).filter(_.nonEmpty)
    val summary =
      if (sentences.isEmpty) { if (norm.length <= 100) norm else norm.take(97) + "..." }
      else sentences.take(2).mkString(". ") + "."
    if (norm.length <= 150) norm
    else if (summary.length <= 150) summary
    else summary.take(147) + "..."
  }

  private def relativeTime(tsMicros: Long): String = {
    val secs = Math.floorDiv(NowMicros, 1000000L) - Math.floorDiv(tsMicros, 1000000L)
    val days = Math.floorDiv(secs, 86400L)
    val rem = Math.floorMod(secs, 86400L)
    val hours = rem / 3600
    val mins = Math.floorMod(rem, 3600L) / 60
    def ago(n: Long, unit: String) = s"$n $unit${if (n == 1) "" else "s"} ago"
    if (days > 0) {
      if (days < 7) ago(days, "day") else if (days < 30) ago(days / 7, "week") else ago(days / 30, "month")
    } else if (hours > 0) ago(hours, "hour") else if (mins > 0) ago(mins, "minute") else "just now"
  }

  /** A hit projected to a view, field for field. */
  private def view(m: MemRow, score: Double, detail: String,
      seq: Map[String, (Int, Option[String])]): Seq[Any] = {
    val (so, prev) = seq(m.id)
    detail match {
      case "summary" => Seq(m.id, m.title, m.context, m.tool, score, preview(m.content),
        relativeTime(m.tsMicros), m.session)
      case "graph" => Seq(m.id, m.title, prev.orNull, m.session, so, m.tool,
        relativeTime(m.tsMicros), tsString(m.tsMicros), score, null, null)
      case "full" => Seq(m.id, score, m.title, m.content, m.context, m.tool, m.session, so,
        tsString(m.tsMicros), prev.orNull, m.params, m.frames, null)
    }
  }

  /** The store as the brute force reads it, with what every request needs
    * computed once. */
  final class Truth(val rows: IndexedSeq[MemRow]) {
    val seq: Map[String, (Int, Option[String])] = Oracle.sessionize(rows.map(m => (m.id, m.session, m.tsMicros)))
    val toks: IndexedSeq[(String, Seq[String])] =
      rows.map(m => m.id -> m.content.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val tool: Map[Long, String] = rows.map(m => m.id.toLong -> m.tool).toMap
  }

  private def bm25(truth: Truth, q: String): Map[String, Double] = {
    val k1 = 1.2; val b = 0.75
    val terms = q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val toks = truth.toks
    val n = toks.size.toLong
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
    val idf = terms.map { t =>
      val df = toks.count(_._2.contains(t)).toDouble
      t -> Oracle.round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6)
    }.toMap
    toks.flatMap { case (id, ts) =>
      val dl = ts.size
      val cs = terms.filter(ts.contains).map { t =>
        val tf = ts.count(_ == t).toDouble
        val c = Oracle.round(idf(t) * ((tf * (k1 + 1)) / (tf + k1 * ((1 - b) + (b * dl) / avgdl))), 9)
        new java.math.BigDecimal(java.lang.Double.toString(c)).setScale(12)
      }
      if (cs.isEmpty) None else Some(id -> cs.reduce(_ add _).doubleValue())
    }.toMap
  }

  /** The expected reply to one request, by brute force over the store. */
  def expected(truth: Truth, r: Req): Seq[Seq[Any]] = {
    val rows = truth.rows
    val seq = truth.seq
    r match {
      case Req(_, _, Some(q)) =>
        val qv = Oracle.embed(q, Dims)
        val kw = bm25(truth, q)
        val scored = rows.map(m => (m.id.toLong, Oracle.cosine(m.emb, qv), kw.getOrElse(m.id, 0.0)))
        def ranks(score: ((Long, Double, Double)) => Double): Map[Long, Int] =
          scored.sortWith((x, y) => if (score(x) != score(y)) score(x) > score(y) else x._1 < y._1)
            .take(HybridM).zipWithIndex.map { case (x, i) => x._1 -> (i + 1) }.toMap
        val dr = ranks(_._2)
        val kr = ranks(_._3)
        val tool = truth.tool
        (dr.keySet ++ kr.keySet).toSeq.map { tb =>
          val s = dr.get(tb).map(x => 1.0 / (60 + x)).getOrElse(0.0) +
            kr.get(tb).map(x => 1.0 / (60 + x)).getOrElse(0.0)
          (tb, Oracle.round(s, 9))
        }.sortWith((x, y) => if (x._2 != y._2) x._2 > y._2 else x._1 < y._1)
          .take(HybridLimit).map { case (tb, s) => Seq(tb.toString, tool(tb), s) }
      case Req(_, Some(s), _) if s.searchType == "by_memory_id" =>
        rows.filter(_.id == s.query.trim).map(m => view(m, 1.0, s.detail, seq))
      case Req(_, Some(s), _) =>
        val qv = Oracle.embed(s.query, Dims)
        rows.filter(m => s.filters.forall(matches(m, _)))
          .map(m => (m, Oracle.round(Oracle.cosine(m.emb, qv), 6)))
          .sortWith((x, y) => if (x._2 != y._2) x._2 > y._2 else x._1.id < y._1.id)
          .take(s.limit)
          .filter(_._2 >= s.scoreThreshold)
          .map { case (m, sc) => view(m, sc, s.detail, seq) }
    }
  }

  private def normalise(row: Row): Seq[Any] = row.toSeq.map {
    case m: scala.collection.Map[_, _] => m.toMap
    case v => v
  }

  def check(truth: Truth, r: Req, out: Seq[Row]): Oracle.Problems = {
    val p = new Oracle.Problems
    val want = expected(truth, r)
    val got = out.map(normalise)
    p.require(got.size == want.size, s"${got.size} hits, want ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      p.require(g == w, s"hit ${i + 1} is $g, want $w")
    }
    p
  }

  /** Deliberately wrong replies the check must reject. */
  def mutations(results: Seq[(Req, Seq[Row])]): Seq[(String, (Req, Seq[Row]))] = {
    val multi = results.find(_._2.size >= 2).get
    val (r, out) = multi
    Seq(
      "dropped hit" -> (r -> out.tail),
      "swapped ranks" -> (r -> (out(1) +: out(0) +: out.drop(2))))
  }
}
