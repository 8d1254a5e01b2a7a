package graft.perfbench

import java.io.File
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** What one run needs: the session, its seed and length, its own scratch
  * directory, and the tracer when the run is traced. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val work: File,
    val tracer: Option[Tracer]) {

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }

  /** Fresh (emptied) sub-directory path. */
  def fresh(name: String): String = {
    val d = new File(work, name)
    Harness.deleteTree(d)
    d.getAbsolutePath
  }

  /** Between timed operations, outside the timed region: drop Spark's cache
    * and force a full GC, so one operation does not pay for the last. */
  def settle(): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Times `body` as one span of the traced run (the whole call when not
    * traced). Returns the result and the wall time in milliseconds. */
  def timed[T](span: String)(body: => T): (T, Double) = tracer match {
    case Some(t) => t.span(span)(body)
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** What a workload hands back: its correctness verdict, its operation
  * counts and the measurements the end-to-end metrics derive from: each
  * request's (kind, ms), every operation's ms, and the items completed. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    setupS: Double,
    requestMs: Seq[(String, Double)],
    opMs: Seq[Double],
    items: Double,
    storeBytes: Long,
    heapBytes: Long,
    layers: Map[String, Double],
    notes: Map[String, Double] = Map.empty)

object Harness {

  /** Quantile by linear interpolation between order statistics (the
    * "inclusive" method of Python's statistics.quantiles). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The typical latency of a fixed request mix: each kind's median, then
    * the geometric mean over kinds, so every kind weighs the same however
    * many of it a run holds (a plain median of a mix of fast and slow kinds
    * jumps between them from run to run). */
  def kindsP50(requests: Seq[(String, Double)]): Double = {
    val perKind = requests.groupBy(_._1).values.map(rs => median(rs.map(_._2))).toSeq
    math.exp(perKind.map(math.log).sum / perKind.size)
  }

  /** Runs whole rounds until `seconds` of wall time have passed since the
    * first began and at least `min` rounds ran; returns how many ran. */
  def rounds(seconds: Double, min: Int)(round: Int => Unit): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < end) { round(i); i += 1 }
    i
  }

  /** Wall time of `body` in milliseconds. */
  def ms(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Heap in use after a full GC: what the timed calls left reachable.
    * Spark's cleaner frees shuffle, broadcast and RDD state asynchronously
    * once a GC has found it unreachable, so GCs repeat, with a pause for the
    * cleaner, until the figure stops moving. */
  def retainedHeapBytes(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def gc(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var last = gc()
    var now = gc()
    var i = 0
    while (i < 8 && math.abs(now - last) > last / 200) { last = now; now = gc(); i += 1 }
    now
  }

  /** Bytes of every regular file under `path`. */
  def treeBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }

  /** Data files under `path` (no checksums, markers or metadata). */
  def dataFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0
      else 1
    walk(new File(path))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Host CPU steal so far, in jiffies (steal, total), read from the
    * kernel's aggregate `cpu` line; (0, 0) where it is not available. */
  def cpuSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** A number as measured, in every digit, independent of the locale. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def fmt(pattern: String, args: Any*): String =
    String.format(Locale.ROOT, pattern, args.map(_.asInstanceOf[AnyRef]): _*)
}
