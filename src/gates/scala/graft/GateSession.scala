package graft

import org.apache.spark.sql.SparkSession

/** The one local session every gate runs under — Bench, Verify and the
  * gate tools — so what a tool measures is the plan the bench runs.
  *
  * Sized by `SPARK_GRAFT_CPUS` (default 4): that many local cores and
  * shuffle partitions.
  */
object GateSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // The staged streaming gates pin their own shuffle partitions for
      // each stream run (streaming.StagedStream: 4, frequent pairs 8,
      // interval join 2), whatever this session's count.
      // Incremental changelog per commit instead of a full RocksDB
      // snapshot — the recommended production mode for RocksDB state
      // stores, and measured ~5-9% off the heavier TWS gates here
      // (OPTIMIZATION_r13.md §5): stream_tws_sessions 4.39 -> 4.00 s,
      // stream_tws_asof 3.47 -> 3.26 s, others flat.
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
