package graft.streaming

import graft.SparkSpec
import graft.operators.Survival
import org.apache.spark.sql.functions._

class SurvivalStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stagedSurvivalRoundtrip: min/max fold across batches equals batch KM") {
    // users whose first and last events land in DIFFERENT micro-batches
    // (the mid-date split) — the fold must merge across the boundary
    val ev = (1 to 20).flatMap { u =>
      Seq((u.toLong, s"2024-01-0${1 + u % 3} 10:00:00"),
        (u.toLong, s"2024-01-${10 + u % 15} 10:00:00"))
    }.toDF("user_id", "ts").withColumn("ts", to_timestamp(col("ts")))
    val streamed = StagedRoundtrips.stagedSurvivalRoundtrip(spark, ev,
      "user_id", "ts", "/tmp/graft_test_survstream")
      .orderBy(col("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val maxD = ev.agg(max(to_date(col("ts")))).collect()(0).getDate(0)
    val batch = Survival.kaplanMeier(
      Survival.lifetimes(ev, "user_id", "ts", lit(maxD.toString)),
      "dur", "ev")
      .orderBy(col("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
  }
}
