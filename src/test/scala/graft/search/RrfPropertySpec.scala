package graft.search

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Properties of the pruned scale-path fusion [[Search.rrfFuseTopMScores]]:
  * when the top-M lists cover the whole candidate set (m = n) it produces
  * EXACTLY the scores of the exact global-window form [[Search.rrfFuse]],
  * and at m < n it equals bounded-list RRF written out in plain Scala —
  * both under duplicate scores on both rankings, where only the shared
  * deterministic tie-break keeps the implementations aligned.
  */
class RrfPropertySpec extends SparkSpec {

  private case class Cand(id: Long, dense: Double, kw: Double)

  // few distinct score values force heavy ties
  private val genCand: Gen[Cand] = for {
    d <- Gen.choose(0, 4); w <- Gen.choose(0, 4)
  } yield Cand(0L, d / 4.0, w / 4.0)

  private def withIds(cs: Seq[Cand]): Seq[Cand] =
    cs.zipWithIndex.map { case (c, i) => c.copy(id = i.toLong) }

  private def scores(out: DataFrame, id: String): Map[Long, Double] = out
    .select(col(id), round(col("score"), 9).as("s"))
    .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Bounded-list RRF: each ranking keeps its top `m` by (score desc,
    * id asc); a row scores Σ 1/(k + rank) over the lists holding it, and
    * a row in neither list is absent. */
  private def boundedRrf(cs: Seq[Cand], m: Int, k: Int = 60): Map[Long, Double] = {
    def ranks(score: Cand => Double): Map[Long, Int] =
      cs.sortBy(c => (-score(c), c.id)).take(m).zipWithIndex
        .map { case (c, i) => c.id -> (i + 1) }.toMap
    val dr = ranks(_.dense)
    val kr = ranks(_.kw)
    def part(r: Option[Int]): Double = r.fold(0.0)(x => 1.0 / (k + x))
    (dr.keySet ++ kr.keySet).map { id =>
      id -> BigDecimal(part(dr.get(id)) + part(kr.get(id)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  private def check(prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }

  test("rrfFuseTopMScores at m = n equals the exact global fusion") {
    import spark.implicits._
    check(Prop.forAllNoShrink(Gen.listOfN(30, genCand)) { cs0 =>
      val cs = withIds(cs0)
      val df = cs.map(c => (c.id, c.dense, c.kw)).toDF("id", "dense", "kw")
      val exact = scores(Search.rrfFuse(df, col("dense"), col("kw"), col("id")), "id")
      val pruned = scores(Search.rrfFuseTopMScores(df, col("dense"), col("kw"),
        col("id"), m = cs.length), "tb")
      exact == pruned
    })
  }

  test("rrfFuseTopMScores at m < n equals bounded-list RRF") {
    import spark.implicits._
    check(Prop.forAllNoShrink(Gen.listOfN(25, genCand)) { cs0 =>
      val cs = withIds(cs0)
      val df = cs.map(c => (c.id, c.dense, c.kw)).toDF("id", "dense", "kw")
      val m = 8
      scores(Search.rrfFuseTopMScores(df, col("dense"), col("kw"), col("id"), m),
        "tb") == boundedRrf(cs, m)
    })
  }
}
