package graft.streaming

import graft.SparkSpec
import graft.operators.Scd
import org.apache.spark.sql.DataFrame
import scala.util.Random

/** The fold steps that are correct under any micro-batch split, without a
  * stream: the input cut into 2 and 3 pieces at seeded random points and
  * folded piece by piece gives the same store as one step over the whole
  * input. */
class FoldsSpec extends SparkSpec {
  import spark.implicits._

  private type Step = (DataFrame, Option[DataFrame]) => DataFrame

  /** `rows` cut into `n` non-empty runs at random points. */
  private def cut[T](rows: Seq[T], n: Int, rnd: Random): Seq[Seq[T]] = {
    val at = rnd.shuffle((1 until rows.size).toList).take(n - 1).sorted
    (0 +: at :+ rows.size).sliding(2).map(b => rows.slice(b(0), b(1))).toSeq
  }

  private def store(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def splitInvariant[T](rows: Seq[T], seed: Long)(toDf: Seq[T] => DataFrame)(
      step: Step): Unit = {
    val whole = store(step(toDf(rows), None))
    assert(whole.nonEmpty)
    val rnd = new Random(seed)
    for (n <- 2 to 3) {
      val pieces = cut(rows, n, rnd)
      val folded = pieces.foldLeft(Option.empty[DataFrame])(
        (prev, p) => Some(step(toDf(p), prev))).get
      assert(store(folded) == whole, s"pieces of ${pieces.map(_.size)}")
    }
  }

  /** (key, group) pairs with repeated keys across groups. */
  private val keyed: Seq[(Long, String)] =
    (1 to 90).map(i => ((i * 7 % 53).toLong, if (i % 3 == 0) "a" else "b"))

  test("cmsCells: additive cells equal one pass over any split") {
    splitInvariant(keyed.map(_._1), 11)(_.toDF("k"))(
      Folds.cmsCells(_, _, depth = 3, width = 16))
  }

  test("abArmCounts: arm counts equal one pass over any split") {
    val events = (1 to 80).map(i =>
      ((i % 13).toLong, if (i % 5 == 0) "error" else "view"))
    splitInvariant(events, 12)(_.toDF("user_id", "event_type"))(Folds.abArmCounts)
  }

  test("hllRegisters: max-merged registers equal one pass over any split") {
    splitInvariant(keyed, 13)(_.toDF("k", "g"))(Folds.hllRegisters)
  }

  test("kmvSketch: k-min sketch equals one pass over any split") {
    splitInvariant(keyed, 14)(_.toDF("k", "g"))(Folds.kmvSketch(_, _, k = 8))
  }

  test("cdcWinners: the winner fold equals one pass over any split") {
    val order = Seq("ts_us", "event_id")
    val changes = (1 to 60).map(i =>
      ((i % 9).toLong, (i * 37 % 23).toLong, i.toLong, i * 0.5, if (i % 7 == 0) "D" else "U"))
    splitInvariant(changes, 15)(_.toDF("user_id", "ts_us", "event_id", "value", "op")) {
      (batch, prev) =>
        val bw = Scd.cdcWinners(batch, "user_id", order)
        prev.fold(bw)(p => Scd.cdcWinners(p.unionByName(bw), "user_id", order))
    }
  }

  test("lifetimes: first/last-seen days equal one pass over any split") {
    val seen = (1 to 70).map(i => ((i % 11).toLong, f"2024-01-${1 + i * 13 % 28}%02d"))
    splitInvariant(seen, 16)(_.toDF("u", "dd"))(Folds.lifetimes)
  }

  test("presence: the (user, day) set equals one pass over any split") {
    val seen = (1 to 70).map(i => ((i % 9).toLong, s"2024-01-0${1 + i % 7}"))
    splitInvariant(seen, 17)(_.toDF("user_id", "day"))(Folds.presence)
  }

  test("bm25Stats: df and totals equal one pass over any doc-complete split") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (1 to 24).map(i => (i.toLong,
      (0 until 1 + i % 5).map(j => words((i * 3 + j * j) % words.size)).mkString(" ")))
    splitInvariant(docs, 18)(_.toDF("doc_id", "text"))(Folds.bm25Stats)
  }
}
