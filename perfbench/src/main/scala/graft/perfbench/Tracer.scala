package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark's own counters for one span of driver time. */
final class SparkCounts {
  var calls = 0L
  var wallMs = 0.0
  var jobs = 0L
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var planMs = 0.0

  def add(o: SparkCounts): Unit = {
    calls += o.calls; wallMs += o.wallMs; jobs += o.jobs; tasks += o.tasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead; bytesRead += o.bytesRead; planMs += o.planMs
  }
}

/** The traced run's instrument: times the harness's calls into each module
  * from outside and attributes Spark's own events to them. Calls run one at
  * a time on the driver, and the listener bus is drained at both edges of
  * every span, so the jobs, tasks and query executions that start inside a
  * span are exactly the ones its events report — also for streaming
  * micro-batches, whose jobs run while the driver waits inside the span.
  */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime()
  @volatile private var current: SparkCounts = _
  private val perCall = mutable.ArrayBuffer.empty[(String, Double, Double, SparkCounts)]
  /** Totals over the timed region only (spans opened while `timedRegion`). */
  val run = new SparkCounts
  @volatile var timedRegion = false
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = current
      if (c != null) c.jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      val m = e.taskMetrics
      if (c != null && m != null) {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = current
      if (c != null) c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Runs `body` as one span named `name`; returns its result, wall ms and
    * Spark counts. */
  def measure[T](name: String)(body: => T): (T, Double, SparkCounts) = {
    drain()
    val c = new SparkCounts
    current = c
    val t0 = System.nanoTime()
    val r = try body finally {
      c.wallMs = (System.nanoTime() - t0) / 1e6
      drain()
      current = null
    }
    c.calls = 1
    perCall += ((name, (t0 - origin) / 1e6, c.wallMs, c))
    if (timedRegion) run.add(c)
    (r, c.wallMs, c)
  }

  def span[T](name: String)(body: => T): (T, Double) = {
    val (r, ms, _) = measure(name)(body)
    (r, ms)
  }

  /** Every span of one name, in the order they ran. */
  def calls(name: String): Seq[SparkCounts] = perCall.collect { case (n, _, _, c) if n == name => c }.toSeq

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** The spans, in memory until now, as one JSON document. */
  def write(file: File): Unit = {
    import Harness.{num, str}
    val rows = perCall.map { case (n, start, ms, c) =>
      s"""{"span":${str(n)},"start_ms":${num(start)},"ms":${num(ms)},"jobs":${c.jobs},""" +
        s""""tasks":${c.tasks},"executor_run_ms":${num(c.runMs)},"executor_cpu_ms":${num(c.cpuMs)},""" +
        s""""gc_ms":${num(c.gcMs)},"plan_ms":${num(c.planMs)},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"records_read":${c.recordsRead},"bytes_read":${c.bytesRead}}"""
    }
    file.getParentFile.mkdirs()
    Files.write(file.toPath, rows.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}
