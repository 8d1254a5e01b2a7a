package graft.sink

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Batch vector-index sink — the engine's "Batch vector indexing to
  * Qdrant" path (BASELINE.json north star; reference storage.py).
  *
  * No vector-DB client library exists in this environment, so the network
  * transport is a pluggable [[VectorIndexClient]]; the Spark-side contract
  * is the real design:
  *
  *  - collection DDL is idempotent create-if-absent (reference
  *    storage.py:56-68);
  *  - payload index DDL diffs existing indexes and creates only the
  *    missing ones (storage.py:71-111, O2) — the 12-field index set below
  *    mirrors storage.py:73-86;
  *  - upsert runs via `foreachPartition`: ONE client per partition
  *    (connection amortized, the gRPC-channel shape of storage.py:33-38),
  *    rows pushed in bounded batches, ids = memory_id so replays and
  *    speculative task retries are idempotent (storage.py:194-199);
  *  - executors never coordinate — the sink scales with partition count,
  *    and a 1000-executor indexing job is just more partitions.
  */
object VectorIndexSink {

  final case class Point(id: String, vector: Seq[Float], payload: Map[String, String])

  /** Transport boundary. Implementations: gRPC/HTTP client per partition in
    * production; [[InMemoryVectorIndex]] in tests. The factory crosses the
    * closure boundary instead of the client so non-serializable channels
    * are constructed executor-side.
    */
  trait VectorIndexClient {
    def listCollections(): Seq[String]
    def createCollection(name: String, vectorSize: Int, distance: String): Unit
    def listIndexes(collection: String): Seq[String]
    def createIndex(collection: String, field: String, kind: String): Unit
    def upsertBatch(collection: String, points: Seq[Point]): Unit
  }

  /** The reference's 12 payload indexes (storage.py:73-86). */
  val PayloadIndexes: Seq[(String, String)] = Seq(
    "title" -> "text",
    "context" -> "text",
    "tool" -> "keyword",
    "session_id" -> "keyword",
    "memory_id" -> "keyword",
    "preceding_memory_id" -> "keyword",
    "meta.agent_id" -> "keyword",
    "meta.schema_version" -> "keyword",
    "meta.archetype_title" -> "keyword",
    "meta.archetype_version" -> "keyword",
    "sequence_order" -> "integer",
    "timestamp" -> "datetime")

  /** Fields whose payload index kind is `integer` — these must reach the
    * wire as JSON numbers, not strings: Qdrant silently skips indexing a
    * value whose JSON type mismatches the declared index schema, so a
    * string-serialized `sequence_order` would make every range/order
    * filter on it return nothing (the reference stores it as an int,
    * storage.py:178). */
  val IntegerPayloadFields: Set[String] =
    PayloadIndexes.collect { case (f, "integer") => f }.toSet

  /** Idempotent collection bootstrap (S3 + S4): create collection if
    * absent, then create only the indexes that do not exist yet. Driver-
    * side, once per job. */
  def ensureCollection(client: VectorIndexClient, name: String,
      vectorSize: Int, distance: String = "Cosine"): Unit = {
    if (!client.listCollections().contains(name))
      client.createCollection(name, vectorSize, distance)
    val existing = client.listIndexes(name).toSet
    PayloadIndexes.foreach { case (field, kind) =>
      if (!existing.contains(field)) client.createIndex(name, field, kind)
    }
  }

  /** Batch-index a memories DataFrame: ship (memory_id, embedding, payload)
    * per row; everything except id/vector rides as string payload (the
    * reference stores the envelope as Qdrant payload, storage.py:173-191).
    */
  def indexBatch(
      memories: DataFrame,
      collection: String,
      clientFactory: () => VectorIndexClient,
      batchSize: Int = 256): Unit = {
    val payloadCols = memories.columns.filterNot(Set("memory_id", "embedding")).toSeq
    val prepared = memories.select(
      col("memory_id").cast("string").as("memory_id"),
      // the wire point is float: Ingest.toMemories emits array<double>
      col("embedding").cast("array<float>").as("embedding"),
      map_from_arrays(
        typedLit(payloadCols),
        array(payloadCols.map(c => col(c).cast("string")): _*)).as("payload"))
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val client = clientFactory() // one connection per partition
        rows.grouped(batchSize).foreach { batch =>
          client.upsertBatch(collection, batch.map { r =>
            Point(
              r.getString(0),
              r.getSeq[Float](1),
              r.getMap[String, String](2).toMap)
          })
        }
      }
    }
  }
}

/** JVM-singleton in-memory fake of the vector index — stands in for the
  * remote store in tests (executors share the JVM under local master, so a
  * static registry observes upserts from every partition). */
object InMemoryVectorIndex {
  import VectorIndexSink._

  private val collections =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]()
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()
  private val points =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Point]()
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val createCollectionCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val createIndexCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  def reset(): Unit = {
    collections.clear(); indexes.clear(); points.clear(); batchSizes.clear()
    createCollectionCalls.set(0); createIndexCalls.set(0)
  }

  def pointCount(collection: String): Int =
    points.keySet().stream().filter(_._1 == collection).count().toInt

  def point(collection: String, id: String): Option[Point] =
    Option(points.get((collection, id)))

  def client(): VectorIndexClient = new VectorIndexClient {
    def listCollections(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      collections.keySet().asScala.toSeq
    }
    def createCollection(name: String, vectorSize: Int, distance: String): Unit = {
      createCollectionCalls.incrementAndGet()
      collections.put(name, (vectorSize, distance))
      indexes.putIfAbsent(name, java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
    }
    def listIndexes(collection: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      Option(indexes.get(collection)).map(_.asScala.toSeq).getOrElse(Nil)
    }
    def createIndex(collection: String, field: String, kind: String): Unit = {
      createIndexCalls.incrementAndGet()
      indexes.get(collection).add(field)
    }
    def upsertBatch(collection: String, batch: Seq[Point]): Unit = {
      batchSizes.add(batch.size)
      batch.foreach(p => points.put((collection, p.id), p))
    }
  }
}
