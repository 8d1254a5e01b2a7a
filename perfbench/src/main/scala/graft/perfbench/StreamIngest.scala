package graft.perfbench

import graft.streaming.StreamingIngest
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The follow-mode write path: `StreamingIngest.startJsonlIngest` with
  * `ingestBatch` sequence continuation, in a closed loop. An operation
  * stages one JSONL file of `Events` events and waits until its
  * micro-batch commits; every file's events are later than the previous
  * file's, so the final store must equal one global sessionization of
  * everything staged. */
final class StreamIngest(ctx: Ctx) extends Phase {
  import StreamIngest._
  private val spark = ctx.spark
  private val inDir = ctx.dir("stream-in")
  private val stage = ctx.dir("stream-stage")
  private val storePath = ctx.fresh("stream-store")
  private val staged = scala.collection.mutable.ArrayBuffer.empty[Event]
  private var k = 0
  private var sizeAtSnapshot = 0L
  private var query: StreamingQuery = _

  def setUp(): Unit =
    query = StreamingIngest.startJsonlIngest(spark, inDir.getAbsolutePath, storePath,
      ctx.fresh("stream-checkpoint"))

  /** Stages file k atomically (written aside, renamed into the source
    * directory) and waits for its micro-batch to commit. */
  private def batch(): Double = {
    val t0 = System.nanoTime()
    val es = events(ctx.seed, k)
    val tmp = new File(stage, Harness.fmt("part-%06d.jsonl", Int.box(k)))
    Files.write(tmp.toPath, es.map(line).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(inDir, tmp.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val ms = (System.nanoTime() - t0) / 1e6
    staged ++= es
    k += 1
    if (k == StoreSizeAtBatch) sizeAtSnapshot = Harness.treeBytes(storePath)
    ms
  }

  def round(i: Int): Seq[Op] = Seq.fill(BatchesPerRound)(Op("streaming.batch", request = true, Events, () => batch()))

  def storeBytes: Long = sizeAtSnapshot

  def check(): Seq[String] = {
    query.stop()
    val stored = spark.read.parquet(storePath)
      .select("memory_id", "session_id", "tool", "timestamp", "value", "sequence_order",
        "preceding_memory_id")
      .collect().toSeq.map(r => Stored(r.getString(0), r.getString(1), r.getString(2),
        Store.micros(r.getTimestamp(3)), r.getDouble(4), r.getInt(5), Option(r.getString(6))))
    SelfTest.expectRejected("stream_ingest", mutations(stored).map { case (n, s) =>
      n -> StreamIngest.check(staged.toSeq, s)
    })
    StreamIngest.check(staged.toSeq, stored).all
  }

  def layers(t: Tracer): Map[String, Double] = {
    val spans = t.calls("streaming.batch")
    val progress = t.progress.asScala.toSeq.sortBy(_.batchId).takeRight(spans.size)
    def dur(key: String) = Harness.median(progress.map(p => p.durationMs.get(key).toDouble))
    val storeRows = spans.map(_.recordsRead.toDouble).zip(progress.map(_.numInputRows.toDouble))
      .map { case (read, input) => read - input }
    Map(
      "streaming.batch.ms" -> dur("triggerExecution"),
      "streaming.batch.addBatch_ms" -> dur("addBatch"),
      "streaming.batch.getBatch_ms" -> dur("getBatch"),
      "streaming.batch.queryPlanning_ms" -> dur("queryPlanning"),
      "streaming.batch.walCommit_ms" -> dur("walCommit"),
      "streaming.batch.jobs" -> Harness.median(spans.map(_.jobs.toDouble)),
      "streaming.batch.input_rows" -> Harness.median(progress.map(_.numInputRows.toDouble)),
      "streaming.batch.store_rows_read" -> Harness.median(storeRows))
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

object StreamIngest {
  val Events = 200
  val Sessions = 60
  val BatchesPerRound = 2
  /** The store size is read after this many micro-batches (the end of the
    * first round), a point every run reaches whatever its speed. */
  val StoreSizeAtBatch: Int = BatchesPerRound

  final case class Event(id: String, session: String, tool: String, tsMicros: Long, value: Double)

  /** The events of file `k`: skewed sessions, times inside minute `k`, ties
    * between a session's events about 3% of the time. */
  def events(seed: Long, k: Int): IndexedSeq[Event] = {
    val r = new Random(seed * 1000003L + k)
    val zipf = new Gen.Zipf(Sessions, 1.1)
    val last = scala.collection.mutable.Map.empty[Int, Long]
    val base = Gen.T0Micros + k * 60L * 1000000L
    (0 until Events).map { j =>
      val s = zipf.draw(r)
      val t = last.get(s).filter(_ => r.nextDouble() < 0.03).getOrElse(base + (r.nextDouble() * 60e6).toLong)
      last(s) = t
      Event((3000000000L + k.toLong * Events + j).toString, Harness.fmt("u%03d", Int.box(s)),
        Gen.Tools(r.nextInt(Gen.Tools.size))._1, t, r.nextInt(100000) / 100.0)
    }
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def line(e: Event): String = {
    val ts = java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(e.tsMicros, 1000000L),
      (Math.floorMod(e.tsMicros, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC).format(TsFormat)
    s"""{"memory_id":"${e.id}","session_id":"${e.session}","tool":"${e.tool}","timestamp":"$ts",""" +
      s""""value":${Harness.num(e.value)},"props":"{\\"source\\":\\"agent\\"}"}"""
  }

  /** Stored rows as the check reads them. */
  final case class Stored(id: String, session: String, tool: String, tsMicros: Long, value: Double,
      seq: Int, prev: Option[String])

  /** The store equals one global sessionization of every staged event, and
    * holds no id twice. */
  def check(staged: Seq[Event], stored: Seq[Stored]): Oracle.Problems = {
    val p = new Oracle.Problems
    val ids = stored.map(_.id)
    p.require(ids.size == ids.distinct.size, s"${ids.size - ids.distinct.size} ids stored twice")
    p.require(ids.toSet == staged.map(_.id).toSet,
      s"stored ids differ from the staged events (${ids.toSet.size} vs ${staged.size})")
    val want = Oracle.sessionize(staged.map(e => (e.id, e.session, e.tsMicros)))
    val byId = staged.map(e => e.id -> e).toMap
    stored.foreach { s =>
      byId.get(s.id).foreach { e =>
        p.require(s.session == e.session && s.tool == e.tool && s.tsMicros == e.tsMicros &&
          s.value == e.value, s"${s.id}: stored fields differ from the staged event")
        p.require((s.seq, s.prev) == want(s.id), s"${s.id}: sequence ${(s.seq, s.prev)}, want ${want(s.id)}")
      }
    }
    p
  }

  def mutations(stored: Seq[Stored]): Seq[(String, Seq[Stored])] = {
    val x = stored.maxBy(_.seq)
    Seq(
      "gap in sequence_order" -> stored.map(s => if (s.id == x.id) s.copy(seq = s.seq + 1) else s),
      "id stored twice" -> (stored :+ stored.head),
      "wrong preceding id" -> stored.map(s => if (s.id == x.id) s.copy(prev = None) else s))
  }
}
