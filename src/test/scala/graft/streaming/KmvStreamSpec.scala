package graft.streaming

import graft.SparkSpec
import graft.operators.Kmv
import org.apache.spark.sql.functions._

class KmvStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stagedKmvRoundtrip: cross-batch fold equals the one-pass batch audit") {
    val items = (1 to 400).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "g")
    val streamed = StagedRoundtrips.stagedKmvRoundtrip(spark, items,
      "id", "g", k = 16, "/tmp/graft_test_kmvstream")
      .orderBy(col("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    val batch = Kmv.audit(items, "id", "g", k = 16)
      .orderBy(col("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(streamed.toSeq == batch.toSeq) // order statistic: bit-equal
    assert(streamed.length == 2)
  }
}
