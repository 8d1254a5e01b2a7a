package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfilingSpec extends SparkSpec {

  test("profile: nulls, distincts, min/max per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (Some(2), Some("c")), (None, Some("a")))
      .toDF("x", "s")
    val p = Profiling.profile(df, Seq("x", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(p("x") == ((4L, 1L, 2L, "1", "2")))
    assert(p("s") == ((4L, 1L, 2L, "a", "c")))
  }

  test("profile: hostile column names (quotes, spaces, hyphens, dots) survive the unpivot") {
    import spark.implicits._
    val names = Seq("it's", "a b", "x-y", "d.ot")
    val df = Seq((1, "u", 2.0, 3), (2, "v", 4.0, 3)).toDF(names: _*)
    val p = Profiling.profile(df, names)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(p.keySet == names.toSet)
    assert(p("it's") == ((2L, 0L, 2L)))
    assert(p("d.ot") == ((2L, 0L, 1L)))
  }

  test("profile: approx mode (single-pass HLL) matches exact at tiny cardinality") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("a")), (Some(2), None), (Some(2), Some("c")), (None, Some("a")))
      .toDF("x", "s")
    val p = Profiling.profile(df, Seq("x", "s"), exact = false)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    // HLL is exact at this cardinality; counts/min/max identical to exact mode
    assert(p("x") == ((4L, 1L, 2L, "1", "2")))
    assert(p("s") == ((4L, 1L, 2L, "a", "c")))
    // single-pass shape: no join in the approx plan (exact mode cross-joins)
    val plan = Profiling.profile(df, Seq("x", "s"), exact = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"approx profile should be one agg, got:\n$plan")
  }

  test("expectations: one-pass named verdicts, uniqueness, null semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, not}
    val df = Seq(
      (Some(1L), Some(5.0)), (Some(2L), Some(-1.0)),     // one range violation
      (Some(2L), None), (None, Some(3.0)))               // dup key; null key; null value
      .toDF("k", "v")
    val got = Profiling.expectations(df,
      rules = Seq(
        "k_not_null" -> col("k").isNull,
        "v_positive" -> not(col("v") > 0)),              // NULL v → not a violation
      uniqueCols = Seq("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got("k_not_null") == ((4L, 1L, false)))
    assert(got("v_positive") == ((4L, 1L, false)))       // only -1.0; NULL doesn't count
    assert(got("unique_k") == ((4L, 1L, false)))         // one duplicate of k=2
    // plan stays on hash aggregation despite the distinct
    val plan = Profiling.expectations(df, Seq("r" -> col("k").isNull), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("histogramDrift: shared bins, per-side shares, delta mass") {
    import spark.implicits._
    val before = Seq(0.0, 1.0, 2.0, 3.0).toDF("v")   // uniform over [0,4)
    val after = Seq(0.0, 0.5, 0.9, 3.0).toDF("v")    // mass shifted to bin 0
    val got = Profiling.histogramDrift(before, after, "v", buckets = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // shared bounds [0,3], width 0.75: before 0,1,2,3 → bins 0,1,2,3;
    // after 0,0.5,0.9,3 → bins 0,0,1,3
    assert(got(0) == ((1L, 2L, 0.25, 0.5, 0.25)))
    assert(got(1) == ((1L, 1L, 0.25, 0.25, 0.0)))
    assert(got(2)._1 == 1L && got(2)._2 == 0L)
    assert(got(3) == ((1L, 1L, 0.25, 0.25, 0.0)))
    // total variation distance = half the delta mass
    assert(math.abs(got.values.map(_._5).sum / 2 - 0.25) < 1e-9)
  }

  test("histogram: equi-width bins, closed top edge, nulls excluded, counts sum") {
    import spark.implicits._
    val df = Seq(("g", Some(0.0)), ("g", Some(2.5)), ("g", Some(5.0)),
      ("g", Some(10.0)), ("g", None), ("h", Some(10.0)))
      .toDF("grp", "v")
    val h = Profiling.histogram(df, "v", "grp", buckets = 4)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // width 2.5 over [0,10]: 0.0→0, 2.5→1, 5.0→2, 10.0→top bin 3 (closed)
    assert(h == Map(("g", 0) -> 1L, ("g", 1) -> 1L, ("g", 2) -> 1L,
      ("g", 3) -> 1L, ("h", 3) -> 1L))
    assert(h.values.sum == 5) // the null row is excluded
    // constant column degenerates to one bin
    val const = Profiling.histogram(
      Seq(("g", 7.0), ("g", 7.0)).toDF("grp", "v"), "v", "grp", buckets = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(const == Seq((0, 2L)))
  }

  test("numericCorr: perfect linear rescaling reads 1, sign flip reads -1") {
    import spark.implicits._
    // y = 2x exactly (corr 1 through the ×100 quantization), z = -x
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0),
      (4.0, 8.0, -4.0)).toDF("x", "y", "z")
    val r = Profiling.numericCorr(df,
      Seq("x" -> 100L, "y" -> 100L, "z" -> 100L))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getDouble(3)))).toMap
    assert(r(("x", "y")) == ((4L, 1.0)))
    assert(r(("x", "z")) == ((4L, -1.0)))
    assert(r(("y", "z")) == ((4L, -1.0)))
    // partitioning independence: decimal moment sums don't drift
    val r7 = Profiling.numericCorr(df.repartition(7),
      Seq("x" -> 100L, "y" -> 100L, "z" -> 100L))
    assert(Profiling.numericCorr(df,
      Seq("x" -> 100L, "y" -> 100L, "z" -> 100L)).exceptAll(r7).isEmpty)
  }

  test("ksDrift: hand ECDF gap, smallest argmax value, zero on identical samples") {
    import spark.implicits._
    val b = Seq(1.0, 2.0, 3.0).toDF("x")
    val a = Seq(3.0, 4.0, 5.0).toDF("x")
    val r = Profiling.ksDrift(b, a, "x").collect()(0)
    // gaps |i·m − j·n|: v=1→3, v=2→6, v=3→6, v=4→3, v=5→0; max 6
    // attained first at v=2; ks = 6/9
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 3L, 6L)))
    assert(r.getDouble(3) == 0.666667 && r.getDouble(4) == 2.0)
    val same = Profiling.ksDrift(b, b, "x").collect()(0)
    assert(same.getLong(2) == 0L && same.getDouble(3) == 0.0)
  }

  test("madOutliers: exact lower median/MAD, Hampel fence flags only the spike") {
    import spark.implicits._
    // group a: values 1..5 plus a 100 spike; n=6 → rank (6+1) div 2 = 3
    // sorted (1,2,3,4,5,100): median = 3; devs (2,1,0,1,2,97) sorted
    // (0,1,1,2,2,97) → MAD = 1; fence 3·1 → only 100 (dev 97) flagged
    val df = Seq(("a", 1.0, "i1"), ("a", 2.0, "i2"), ("a", 3.0, "i3"),
      ("a", 4.0, "i4"), ("a", 5.0, "i5"), ("a", 100.0, "i6"),
      ("b", 7.0, "j1")).toDF("g", "v", "id")
    val r = Profiling.madOutliers(df, "g", "v", "id", k = 3)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4)))).toMap
    assert(r("a") == ((6L, 3.0, 1.0, 1L)))
    // the singleton group is its own median, MAD 0, no outliers
    assert(r("b") == ((1L, 7.0, 0.0, 0L)))
  }

  test("monotonicityAudit/runLengthAudit: a value column listed twice, or also the order column") {
    import spark.implicits._
    // t orders the rows; t itself is sorted with 4 runs, v descends once
    // (3 -> 1) and runs as (3)(1 1)(2). Listing v twice made the staged
    // per-column names collide (an ambiguous reference)
    val df = Seq((1L, 3L), (2L, 1L), (3L, 1L), (4L, 2L)).toDF("t", "v")
    val mono = Profiling.monotonicityAudit(df, "t", Seq("t", "v", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(mono.toSeq.sortBy(_._1) ==
      Seq(("t", 4L, 0L, true), ("v", 4L, 1L, false), ("v", 4L, 1L, false)))
    val rle = Profiling.runLengthAudit(df, Seq("t"), Seq("t", "v", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rle.toSeq.sortBy(_._1) == Seq(("t", 4L, 4L), ("v", 4L, 3L), ("v", 4L, 3L)))
  }
}
