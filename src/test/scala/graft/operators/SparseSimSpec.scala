package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SparseSimSpec extends SparkSpec {

  test("cosinePairs: exact bag-of-words cosine, a < b, threshold applied") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b"),   // tf {a:2, b:1}, norm sqrt(5)
      (2L, "a b b"),   // tf {a:1, b:2}, norm sqrt(5)
      (3L, "c c c c")) // shares no term with 1/2
      .toDF("doc_id", "text")
    val got = SparseSim.cosinePairs(df, "text", "doc_id", minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // dot(1,2) = 2*1 + 1*2 = 4; cos = 4/5
    assert(got == Map((1L, 2L) -> 0.8))
    val none = SparseSim.cosinePairs(df, "text", "doc_id", minSim = 0.9)
    assert(none.count() == 0)
  }

  test("cosinePairs: df cap drops stop-terms and recomputes norms over survivors") {
    import spark.implicits._
    // "x" appears in all 3 docs (df=3); cap 2 removes it entirely
    val df = Seq((1L, "x p"), (2L, "x p"), (3L, "x q"))
      .toDF("doc_id", "text")
    val capped = SparseSim.cosinePairs(df, "text", "doc_id",
      minSim = 0.0, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // surviving vectors: 1={p}, 2={p}, 3={q} → only (1,2) at cosine 1.0
    assert(capped == Map((1L, 2L) -> 1.0))
    val uncapped = SparseSim.cosinePairs(df, "text", "doc_id", minSim = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // with "x" kept every pair shares it: 3 pairs, (1,2) = 1.0, others 0.5
    assert(uncapped == Map((1L, 2L) -> 1.0, (1L, 3L) -> 0.5, (2L, 3L) -> 0.5))
  }

  test("cosinePairs: termK=2 scores in shingle space with multiplicity") {
    import spark.implicits._
    // bigrams of 1: {"a b", "b a", "a b"} (multiplicity 2 on "a b");
    // bigrams of 2: {"a b"}; dot = 2, norms sqrt(5), 1
    val df = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = SparseSim.cosinePairs(df, "text", "doc_id",
      minSim = 0.0, termK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1L, 2L) -> BigDecimal(2.0 / math.sqrt(5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("cosinePairsAuto: cap derived from corpus size") {
    import spark.implicits._
    val df = Seq((1L, "x p"), (2L, "x p"), (3L, "x q")).toDF("doc_id", "text")
    // n=3, frac 0.5 → cap = max(2, ceil(1.5)) = 2 → same as explicit cap 2
    val got = SparseSim.cosinePairsAuto(df, "text", "doc_id",
      minSim = 0.0, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map((1L, 2L) -> 1.0))
  }

  test("cosinePairsBudget: histogram cap admits only the df band the budget affords") {
    import spark.implicits._
    // term dfs: "s" df=4 (bitlen 3, df²=16); "p" df=2 (bitlen 2, df²=4);
    // singles df=1 ×2 (bitlen 1, Σ=2). Cumulative: b1=2, b2=6, b3=22.
    val df = Seq((1L, "s p u"), (2L, "s p"), (3L, "s v"), (4L, "s"))
      .toDF("doc_id", "text")
    // budget 6 → bMax=2 → cap=min(3, frac) — "s" (df 4) dropped, "p" kept
    val some = SparseSim.cosinePairsBudget(df, "text", "doc_id",
      minSim = 0.0, pairBudget = 6L, maxDfFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(some == Set((1L, 2L))) // only the "p" pair survives
    // budget 22 → bMax=3 → cap 7 — "s" admitted, all 6 pairs connect
    val all = SparseSim.cosinePairsBudget(df, "text", "doc_id",
      minSim = 0.0, pairBudget = 22L, maxDfFrac = 1.0)
    assert(all.count() == 6)
    // budget 1 (< even the df=1 band) degrades to df ≤ 1: no pairs,
    // never an error — the conservative floor
    assert(SparseSim.cosinePairsBudget(df, "text", "doc_id",
      minSim = 0.0, pairBudget = 1L, maxDfFrac = 1.0).count() == 0)
    // the frac ceiling still applies under a huge budget
    val frac = SparseSim.cosinePairsBudget(df, "text", "doc_id",
      minSim = 0.0, pairBudget = Long.MaxValue, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(frac == Set((1L, 2L))) // cap = min(big, ceil(0.5·4)=2) → "s" out
  }
}
