package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** An in-process HTTP endpoint with Qdrant's REST shapes — the five calls
  * [[graft.sink.QdrantHttpClient]] makes — that records what it receives:
  * every point id with its vector and how many times it arrived, plus the
  * request, byte and point counts of the upserts. It serves on loopback
  * from at most `threads` handler threads.
  */
final class QdrantEndpoint(threads: Int) {
  private val mapper = new ObjectMapper()
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)

  private val collections = new ConcurrentHashMap[String, java.util.Set[String]]()
  val vectors = new ConcurrentHashMap[String, Array[Float]]()
  val arrivals = new ConcurrentHashMap[String, AtomicLong]()
  val upserts = new AtomicLong()
  val upsertBytes = new AtomicLong()
  val points = new AtomicLong()

  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Forget the points and counters (collections and indexes stay). */
  def resetPoints(): Unit = {
    vectors.clear(); arrivals.clear(); upserts.set(0); upsertBytes.set(0); points.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length.toLong)
    val os = ex.getResponseBody
    try os.write(b) finally os.close()
  }

  private val ok = """{"result":true,"status":"ok","time":0.0}"""

  private def handle(ex: HttpExchange): Unit =
    try {
      val body = ex.getRequestBody.readAllBytes()
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
      (ex.getRequestMethod, parts) match {
        case ("GET", Seq("collections")) =>
          val names = collections.keySet().asScala.toSeq.sorted
            .map(n => s"""{"name":${Harness.str(n)}}""").mkString(",")
          reply(ex, 200, s"""{"result":{"collections":[$names]},"status":"ok"}""")
        case ("PUT", Seq("collections", c)) =>
          collections.putIfAbsent(c, ConcurrentHashMap.newKeySet[String]())
          reply(ex, 200, ok)
        case ("GET", Seq("collections", c)) =>
          Option(collections.get(c)) match {
            case None => reply(ex, 404, """{"status":{"error":"Not found"}}""")
            case Some(idx) =>
              val schema = idx.asScala.toSeq.sorted
                .map(f => s"""${Harness.str(f)}:{"data_type":"keyword"}""").mkString(",")
              reply(ex, 200, s"""{"result":{"payload_schema":{$schema}},"status":"ok"}""")
          }
        case ("PUT", Seq("collections", c, "index")) =>
          collections.get(c).add(mapper.readTree(body).path("field_name").asText())
          reply(ex, 200, ok)
        case ("PUT", Seq("collections", c, "points")) if collections.containsKey(c) =>
          upserts.incrementAndGet()
          upsertBytes.addAndGet(body.length.toLong)
          val arr = mapper.readTree(body).path("points")
          var i = 0
          while (i < arr.size()) {
            val p = arr.get(i)
            val id = p.path("id").asText()
            val v = p.path("vector")
            vectors.put(id, Array.tabulate(v.size())(j => v.get(j).floatValue()))
            arrivals.computeIfAbsent(id, _ => new AtomicLong()).incrementAndGet()
            i += 1
          }
          points.addAndGet(arr.size().toLong)
          reply(ex, 200, ok)
        case _ => reply(ex, 404, """{"status":{"error":"no such route"}}""")
      }
    } catch {
      case e: Exception => reply(ex, 500, s"""{"status":{"error":${Harness.str(e.toString)}}}""")
    }
}
