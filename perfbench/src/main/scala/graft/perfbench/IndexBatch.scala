package graft.perfbench

import graft.catalog.{ArchetypeCatalog, Validation}
import graft.ingest.Ingest
import graft.model.MemoryModel
import graft.sink.{QdrantHttpClient, VectorIndexSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** The paper's batch write path: generated tool calls through
  * `Ingest.toMemories` (validate → sessionize → embed), then
  * `Ingest.writeStore`, then `VectorIndexSink.indexBatch` through
  * `QdrantHttpClient` to an in-process Qdrant-shaped endpoint. Its
  * operation is one such pass over the whole input. */
final class IndexBatch(ctx: Ctx) extends Phase {
  import IndexBatch._
  private val spark = ctx.spark
  private val archetype = ArchetypeCatalog.fromYaml(Gen.ArchetypeYaml)
  private val input = ctx.fresh("calls")
  private val store = ctx.fresh("store")
  private var calls: IndexedSeq[Call] = IndexedSeq.empty
  private var nValid = 0
  private var endpoint: QdrantEndpoint = _
  private val sinkFaults = new Oracle.Problems

  def setUp(): Unit = {
    calls = Gen.calls(ctx.seed, Calls, InvalidShare)
    Store.writeCalls(spark, calls, input, 3)
    nValid = calls.count(_.valid)
    endpoint = new QdrantEndpoint(4)
    VectorIndexSink.ensureCollection(new QdrantHttpClient(endpoint.url), Collection, Dims)
  }

  private def read(): DataFrame = spark.read.parquet(input)

  private def write(): Double = Harness.ms {
    endpoint.resetPoints()
    Ingest.writeStore(Ingest.toMemories(read(), archetype, Dims), store)
  }

  private def index(): Double = {
    val url = endpoint.url
    val ms = Harness.ms(VectorIndexSink.indexBatch(
      spark.read.parquet(store).withColumn("embedding", col("embedding").cast("array<float>")),
      Collection, () => new QdrantHttpClient(url)))
    sinkFaults.require(endpoint.points.get == nValid && endpoint.arrivals.size == nValid,
      s"sink got ${endpoint.points.get} points for ${endpoint.arrivals.size} ids, want $nValid")
    ms
  }

  /** One pass, or in a traced timed round the pipeline's prefixes to the
    * `noop` sink (outside the timed region) and then the pass as two
    * spans, so each layer's self time is a difference of prefix times. */
  def round(i: Int): Seq[Op] = ctx.tracer match {
    case Some(t) if i >= 0 =>
      tracePrefixes(t)
      Seq(Op("ingest.writeStore", request = false, 0, () => write()),
        Op("sink.indexBatch", request = false, nValid, () => index()))
    case _ => Seq(Op("index_batch.pass", request = false, nValid, () => write() + index()))
  }

  private def tracePrefixes(t: Tracer): Unit = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def validated = Validation.partitionArgs(
      Validation.valid(Validation.validate(Validation.withDefaults(read(), archetype), archetype)), archetype)
    val region = t.timedRegion
    t.timedRegion = false
    ctx.settle(); t.span("prefix.read")(noop(read()))
    ctx.settle(); t.span("prefix.validate")(noop(validated))
    ctx.settle(); t.span("prefix.sessionize")(noop(MemoryModel.sessionize(validated)))
    ctx.settle(); t.span("prefix.embed")(noop(Ingest.toMemories(read(), archetype, Dims)))
    t.timedRegion = region
  }

  def storeBytes: Long = Harness.treeBytes(store)

  def check(): Seq[String] = {
    val out = Output(
      Store.collect(spark.read.parquet(store)),
      Ingest.rejectsOf(read(), archetype).select("memory_id").collect().map(_.getString(0)).toSet,
      endpoint.vectors.asScala.toMap,
      endpoint.arrivals.asScala.map { case (k, v) => k -> v.get }.toMap)
    SelfTest.expectRejected("index_batch", mutations(out).map { case (n, o) => n -> IndexBatch.check(calls, o) })
    sinkFaults.all ++ IndexBatch.check(calls, out).all
  }

  def layers(t: Tracer): Map[String, Double] = {
    def ms(span: String) = t.calls(span).map(_.wallMs)
    def self(span: String, before: String) =
      Harness.median(ms(span).zip(ms(before)).map { case (x, y) => x - y })
    val mb = 1024.0 * 1024.0
    val sess = t.calls("prefix.sessionize").zip(t.calls("prefix.validate"))
      .map { case (x, y) => (x.shuffleWriteBytes - y.shuffleWriteBytes) / mb }
    Map(
      "catalog.validate.ms" -> self("prefix.validate", "prefix.read"),
      "catalog.validate.rejects" -> Ingest.rejectsOf(read(), archetype).count().toDouble,
      "model.sessionize.ms" -> self("prefix.sessionize", "prefix.validate"),
      "model.sessionize.shuffle_mb" -> Harness.median(sess),
      "functions.embedText.ms" -> self("prefix.embed", "prefix.sessionize"),
      "ingest.writeStore.ms" -> self("ingest.writeStore", "prefix.embed"),
      "ingest.writeStore.files" -> Harness.dataFiles(store).toDouble,
      "sink.indexBatch.ms" -> Harness.median(ms("sink.indexBatch")),
      "sink.indexBatch.requests" -> endpoint.upserts.get.toDouble,
      "sink.indexBatch.wire_mb" -> endpoint.upsertBytes.get / mb,
      "sink.indexBatch.points" -> endpoint.points.get.toDouble)
  }

  override def close(): Unit = if (endpoint != null) endpoint.stop()
}

object IndexBatch {
  val Calls = 1500
  val Dims = 64
  val InvalidShare = 1.0 / 12
  val Collection = "memories"

  /** What the checks compare: the store, the rejects and the sink. */
  final case class Output(
      store: IndexedSeq[MemRow],
      rejects: Set[String],
      sinkVectors: Map[String, Array[Float]],
      sinkArrivals: Map[String, Long])

  /** The store holds exactly the valid calls, sessionized and embedded; the
    * rejects are exactly the planted invalid calls; the sink received every
    * memory once, with its vector. */
  def check(calls: Seq[Call], out: Output): Oracle.Problems = {
    val p = new Oracle.Problems
    val valid = calls.filter(_.valid)
    val byId = valid.map(c => c.memoryId -> c).toMap
    val ids = out.store.map(_.id)
    p.require(ids.size == ids.distinct.size, "store holds an id twice")
    p.require(ids.toSet == byId.keySet,
      s"store ids differ from the valid calls: ${(ids.toSet -- byId.keySet).size} extra, " +
        s"${(byId.keySet -- ids.toSet).size} missing")
    val planted = calls.filterNot(_.valid).map(_.memoryId).toSet
    p.require(out.rejects == planted,
      s"rejects differ from the planted faults: ${(out.rejects -- planted).size} extra, " +
        s"${(planted -- out.rejects).size} missing")
    val seq = Oracle.sessionize(valid.map(c => (c.memoryId, c.sessionId, c.tsMicros)))
    out.store.foreach { m =>
      byId.get(m.id).foreach { c =>
        val declared = Gen.ParamDefaults(c.tool)
        val params = declared.collect { case (k, Some(v)) => k -> v } ++
          c.args.filter(kv => declared.contains(kv._1))
        val frames = c.args.filter(kv => Gen.FrameNames(c.tool)(kv._1))
        p.require(m.session == c.sessionId && m.tool == c.tool && m.tsMicros == c.tsMicros,
          s"${m.id}: envelope differs")
        p.require(m.title == c.args("Title") && m.content == c.args("Content") &&
          m.context == c.args("Context"), s"${m.id}: title/content/context differ")
        p.require(m.params == params && m.frames == frames, s"${m.id}: parameters/frames differ")
        p.require((m.seq, m.prev) == seq(m.id),
          s"${m.id}: sequence ${(m.seq, m.prev)}, want ${seq(m.id)}")
        p.require(m.emb.length == Dims, s"${m.id}: vector width ${m.emb.length}")
        val norm = math.sqrt(m.emb.map(x => x * x).sum)
        p.require(math.abs(norm - 1.0) < 1e-9, s"${m.id}: vector norm $norm")
        p.require(out.sinkArrivals.getOrElse(m.id, 0L) == 1L,
          s"${m.id}: reached the sink ${out.sinkArrivals.getOrElse(m.id, 0L)} times")
        p.require(out.sinkVectors.get(m.id).exists(_.sameElements(m.emb.map(_.toFloat))),
          s"${m.id}: sink vector differs from the stored one")
      }
    }
    p.require(out.sinkArrivals.keySet == ids.toSet, "sink holds ids the store does not")
    // the md5 formula, recomputed for a sample of the memories
    out.store.sortBy(_.id).grouped(math.max(1, out.store.size / 50)).map(_.head).foreach { m =>
      val want = Oracle.embed(m.content, Dims)
      p.require(want.zip(m.emb).forall { case (x, y) => math.abs(x - y) < 1e-12 },
        s"${m.id}: vector differs from the md5 formula")
    }
    p
  }

  /** Deliberately wrong outputs the check must reject. */
  def mutations(out: Output): Seq[(String, Output)] = {
    val s = out.store
    val bySession = s.groupBy(_.session).values.find(_.size >= 2).get.sortBy(_.seq)
    val (x, y) = (bySession(0), bySession(1))
    val swapped = s.map(m =>
      if (m.id == x.id) m.copy(seq = y.seq) else if (m.id == y.id) m.copy(seq = x.seq) else m)
    val first = s.head
    Seq(
      "dropped memory" -> out.copy(store = s.tail),
      "swapped sequence_order" -> out.copy(store = swapped),
      "gap in sequence_order" -> out.copy(store = s.map(m => if (m.id == y.id) m.copy(seq = m.seq + 1) else m)),
      "perturbed vector" -> out.copy(store = s.map(m =>
        if (m.id == first.id) m.copy(emb = m.emb.updated(0, m.emb(0) + 1e-6)) else m)),
      "point missing from the sink" -> out.copy(sinkArrivals = out.sinkArrivals - first.id,
        sinkVectors = out.sinkVectors - first.id),
      "valid call rejected" -> out.copy(rejects = out.rejects + first.id))
  }
}
