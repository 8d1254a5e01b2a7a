package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One memory as read back from a store. */
final case class MemRow(
    id: String,
    session: String,
    tool: String,
    tsMicros: Long,
    title: String,
    context: String,
    content: String,
    params: Map[String, String],
    frames: Map[String, String],
    seq: Int,
    prev: Option[String],
    emb: Array[Double])

/** Moving tool calls and memories between the generators, parquet and the
  * checks. */
object Store {

  val CallSchema: StructType = StructType(Seq(
    StructField("memory_id", StringType),
    StructField("session_id", StringType),
    StructField("tool", StringType),
    StructField("timestamp", TimestampType),
    StructField("args", MapType(StringType, StringType))))

  /** Writes generated calls as the parquet file set the program reads,
    * one file per task slot. */
  def writeCalls(spark: SparkSession, calls: Seq[Call], path: String, files: Int): Unit = {
    val rows = calls.map(c => Row(c.memoryId, c.sessionId, c.tool, Gen.ts(c.tsMicros), c.args))
    spark.createDataFrame(rows.asJava, CallSchema)
      .repartition(files)
      .write.mode("overwrite").parquet(path)
  }

  def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + (t.getNanos / 1000)

  private def strMap(r: Row, f: String): Map[String, String] =
    if (r.isNullAt(r.fieldIndex(f))) Map.empty else r.getMap[String, String](r.fieldIndex(f)).toMap

  /** Every memory of a store, with its sessionization and embedding. */
  def collect(store: DataFrame): IndexedSeq[MemRow] =
    store.select("memory_id", "session_id", "tool", "timestamp", "title", "context",
      "content", "parameters", "frames", "sequence_order", "preceding_memory_id", "embedding")
      .collect().toIndexedSeq.map { r =>
        MemRow(r.getString(0), r.getString(1), r.getString(2), micros(r.getTimestamp(3)),
          r.getString(4), r.getString(5), r.getString(6), strMap(r, "parameters"),
          strMap(r, "frames"), r.getInt(9), Option(r.getString(10)),
          r.getSeq[Double](11).toArray)
      }
}
