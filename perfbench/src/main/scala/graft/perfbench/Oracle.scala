package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Plain-Scala reference computations the checks compare the program's
  * outputs against. None of them calls into the program. */
object Oracle {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private def digest(s: String): Array[Byte] = {
    val d = md5.get()
    d.reset()
    d.digest(s.getBytes(StandardCharsets.UTF_8))
  }

  /** The first 15 hex digits of md5(s), as a number. */
  def hash60(s: String): Long = {
    val hex = digest(s).map(b => Harness.fmt("%02x", Int.box(b & 0xff))).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  def md5Hex(s: String): String = digest(s).map(b => Harness.fmt("%02x", Int.box(b & 0xff))).mkString

  /** The surrogate embedding: component d is ((hash60(text#d) mod 2001) −
    * 1000) / 1000, the vector divided by its norm summed left to right. */
  def embed(text: String, dims: Int): Array[Double] = {
    val c = Array.tabulate(dims)(d => ((hash60(s"$text#$d") % 2001) - 1000).toDouble / 1000.0)
    var ss = 0.0
    c.foreach(x => ss += x * x)
    val n = math.sqrt(ss)
    c.map(_ / n)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** SQL ROUND(x, scale): half-up on the shortest decimal form of x. */
  def round(x: Double, scale: Int): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Sessionization: per session, rows in (timestamp, id) order get
    * sequence 1..n and the previous row's id. Returns id → (seq, prev). */
  def sessionize(rows: Iterable[(String, String, Long)]): Map[String, (Int, Option[String])] =
    rows.groupBy(_._2).values.flatMap { rs =>
      val sorted = rs.toSeq.sortWith { (x, y) =>
        if (x._3 != y._3) x._3 < y._3 else x._1.compareTo(y._1) < 0
      }
      sorted.zipWithIndex.map { case ((id, _, _), i) =>
        id -> ((i + 1, if (i == 0) None else Some(sorted(i - 1)._1)))
      }
    }.toMap

  /** Problems found, capped so one broken run cannot flood the log. */
  final class Problems {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var count = 0
    def add(p: String): Unit = { count += 1; if (buf.size < 20) buf += p }
    def require(ok: Boolean, p: => String): Unit = if (!ok) add(p)
    def all: Seq[String] = buf.toSeq ++ (if (count > buf.size) Seq(s"... ${count - buf.size} more") else Nil)
    def isEmpty: Boolean = count == 0
  }
}
