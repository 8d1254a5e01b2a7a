package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** One staged-JSONL streaming run — the machinery every
  * `staged*Roundtrip` correctness harness in [[StagedRoundtrips]] shares,
  * so each harness holds only its wire schema, its stagings, the
  * operator under test and the final read.
  *
  * A run wipes `workDir`, stages input as JSONL files under it
  * ([[stage]]), reads them back as a file-source stream ([[read]]),
  * starts ONE query ([[toMemory]], [[fold]] or [[run]]), drains it with
  * `processAllAvailable` after the start and after each step, and stops
  * it in `finally`.
  *
  * The whole run pins `spark.sql.shuffle.partitions` to `parts`: state
  * stores capture it at query start, and fold plans read it on every
  * batch. At gate scale each stateful operator commits one state store
  * per shuffle partition per micro-batch and each fold writes and reads
  * one parquet file per partition per action, so 32 partitions are fixed
  * overhead (re-measured across the unpinned gates against p4:
  * stream_dedup 12.5 -> 3.1 s, stream_hourly_rollup 8.1 -> 3.2 s,
  * stream_substring_spans 7.8 -> 4.5 s, stream_survival_km 6.6 -> 4.1 s,
  * every other gate at or under its p32 time). The pin mutates the shared
  * session conf and restores it after, which is only correct because
  * gates run one at a time on one session.
  *
  * For transformWithState operators (`rocksDb`) the query starts under
  * [[StreamingIngest.withRocksDbStateStore]].
  */
private[streaming] final class StagedStream(spark: SparkSession,
    workDir: String, parts: Int = 4, rocksDb: Boolean = false) {

  {
    val root = new org.apache.hadoop.fs.Path(workDir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
  }

  def dir(name: String): String = s"$workDir/$name"

  /** Append `df` to `into` as JSONL, one object per row. Timestamp
    * columns ride as explicit micro-precision strings (the default JSON
    * timestamp format is milli-precision and would silently round).
    * One file per call, so a staging is one atomic arrival; `oneFile =
    * false` lets the encode run on all cores for folds that are correct
    * whatever micro-batch split the file source makes. */
  def stage(df: DataFrame, into: String = "in", oneFile: Boolean = true): Unit = {
    val json = df.select(to_json(struct(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampType)
        date_format(col(f.name), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(f.name)
      else col(f.name)
    }: _*)).as("value"))
    (if (oneFile) json.coalesce(1) else json).write.mode("append").text(dir(into))
  }

  /** The raw staged lines of `from` as a stream; `filesPerTrigger` > 0
    * makes each staged file its own micro-batch. */
  def lines(from: String = "in", filesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(StructType(Seq(StructField("value", StringType))))
    (if (filesPerTrigger > 0) r.option("maxFilesPerTrigger", filesPerTrigger.toLong) else r)
      .text(dir(from))
  }

  /** The staged JSONL of `from` parsed with the `wire` schema. */
  def read(wire: StructType, from: String = "in", filesPerTrigger: Int = 0): DataFrame =
    lines(from, filesPerTrigger)
      .select(from_json(col("value"), wire).as("j")).select(col("j.*"))

  /** Midpoint and maximum of the `ts` column: the event-time split of the
    * two halves, and the anchor sentinel flushes are placed after. */
  def midAndMax(df: DataFrame, ts: String = "ts"): (java.sql.Timestamp, java.sql.Timestamp) = {
    val b = df.agg(min(col(ts)), max(col(ts))).collect()(0)
    val hi = b.getTimestamp(1)
    (new java.sql.Timestamp((b.getTimestamp(0).getTime + hi.getTime) / 2), hi)
  }

  /** Mean of `c` over `df`: the key that splits a fold's input into its
    * two stagings. */
  def keyMid(df: DataFrame, c: String): Double = {
    val r = df.agg(avg(col(c))).collect()(0)
    require(!r.isNullAt(0), s"StagedStream: no $c to split on in $workDir")
    r.getDouble(0)
  }

  /** Start a query under the run's pins, drain it, then run each step and
    * drain again; the query stops even if a step fails. */
  def run(start: => StreamingQuery, steps: (() => Unit)*): Unit =
    StreamingIngest.withConf(spark,
        Seq("spark.sql.shuffle.partitions" -> parts.toString)) {
      val q = if (rocksDb) StreamingIngest.withRocksDbStateStore(spark)(start) else start
      try {
        q.processAllAvailable()
        steps.foreach { step => step(); q.processAllAvailable() }
      } finally q.stop()
    }

  /** Run `out` into an in-memory table and return that table. */
  def toMemory(out: DataFrame, mode: OutputMode, steps: (() => Unit)*): DataFrame = {
    val table = "staged_" + Integer.toHexString(workDir.hashCode)
    run(out.writeStream.format("memory").queryName(table)
      .option("checkpointLocation", dir("ckpt"))
      .outputMode(mode)
      .start(), steps: _*)
    spark.table(table)
  }

  /** Fold each micro-batch into a versioned parquet store and return its
    * final version. `step(batch, prev, save)` builds the next version from
    * the micro-batch and the previous version (None for the first batch)
    * and hands it to `save`, which writes it. A step that reads the batch
    * more than once calls `save` inside `readOnce(batch)`, so the batch's
    * JSONL is parsed once; a step that reads it once persists nothing.
    * Each batch writes a NEW version directory: overwriting the directory
    * a batch is reading is the classic self-overwrite corruption. */
  def fold(in: DataFrame, steps: (() => Unit)*)(
      step: (DataFrame, Option[DataFrame], DataFrame => Unit) => Unit): DataFrame = {
    var latest: Option[String] = None
    run(in.writeStream
      .option("checkpointLocation", dir("ckpt"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val out = dir(s"store/v$id")
        step(batch, latest.map(spark.read.parquet(_)),
          _.write.mode("overwrite").parquet(out))
        latest = Some(out)
      }
      .start(), steps: _*)
    spark.read.parquet(latest.getOrElse(
      sys.error(s"StagedStream.fold: no micro-batch ran in $workDir")))
  }
}
