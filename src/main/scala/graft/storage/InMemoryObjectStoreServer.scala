package graft.storage

import java.io.OutputStream
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process HTTP object store speaking the primitive set
  * [[HttpMetaStore]] (metadata) and [[GraftObjectFileSystem]] (data)
  * consume — S3-style semantics over real sockets: GET / PUT /
  * conditional PUT (`If-None-Match: *`, arbitrated server-side by one
  * ConcurrentHashMap.putIfAbsent) / DELETE / prefix LIST (`?list` →
  * `size TAB mtime TAB key` lines, PAGINATED like S3 ListObjectsV2:
  * at most `listPageSize` keys per response, `start-after` resumes,
  * `x-list-truncated: true` signals more) / server-side copy (PUT with
  * `x-copy-source`, the S3 CopyObject shape) / MULTIPART UPLOAD
  * (`POST k?uploads` → uploadId, `PUT k?uploadId=U&partNumber=N` per
  * part, `POST k?uploadId=U` completes — the object appears ATOMICALLY
  * at complete, never part-by-part; `DELETE k?uploadId=U` aborts).
  * Objects are bytes with an mtime; GET honors `Range: bytes=a-b` with
  * a 206 slice.
  *
  * This is demo/test INFRASTRUCTURE (the MinIO stand-in —
  * /root/reference/fluss-iceberg/docker-compose.yml:139-155), not a
  * production store: state is one in-memory map. The ObjectStoreStub
  * test fixture and [[DemoObjectStore]] both run on it.
  */
class InMemoryObjectStoreServer(listPageSize: Int = 1000) {
  private case class Obj(bytes: Array[Byte], mtime: Long)
  private val objects = new ConcurrentHashMap[String, Obj]()
  // uploadId -> (target key, partNumber -> bytes)
  private case class Upload(key: String,
                            parts: ConcurrentHashMap[Int, Array[Byte]])
  private val uploads = new ConcurrentHashMap[String, Upload]()

  /** Observability for specs: completed multipart uploads / LIST pages
    * served (how a test proves pagination and multipart actually
    * happened, not just that the bytes round-tripped).
    */
  val multipartCompletes = new AtomicLong(0)
  val listPagesServed = new AtomicLong(0)

  // request threads: non-daemon, so stop() must shut them down
  val executor: ExecutorService = Executors.newFixedThreadPool(8)
  val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(executor)
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    s.start()
    s
  }

  def port: Int = server.getAddress.getPort

  def stop(): Unit = { server.stop(0); executor.shutdown() }

  /** Keys currently held under a prefix — introspection for specs. */
  def keysUnder(prefix: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala
      .filter(k => k == prefix || k.startsWith(prefix + "/")).toSeq.sorted
  }

  private def respond(ex: HttpExchange, status: Int,
                      body: Array[Byte] = Array.empty): Unit = {
    // -1 = no body (204); 0 = chunked would confuse clients, use length
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
    val os: OutputStream = ex.getResponseBody
    try if (body.nonEmpty) os.write(body)
    finally os.close()
  }

  private def decode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** `a=b&c` query string → map (`c` maps to ""). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) {
      _.split("&").filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => decode(k) -> decode(v)
          case Array(k) => decode(k) -> ""
        }
      }.toMap
    }

  private def handle(ex: HttpExchange): Unit = {
    try {
      val key = ex.getRequestURI.getRawPath.stripPrefix("/")
        .split("/", -1).map(decode).mkString("/")
      val params = queryParams(ex)
      val listing = params.contains("list")
      ex.getRequestMethod match {
        case "GET" if listing =>
          import scala.jdk.CollectionConverters._
          // S3 ListObjectsV2 shape: lexicographic key order, at most
          // `listPageSize` entries, `start-after` resumes AFTER the
          // named key, truncation signalled out-of-band (header) so
          // the line protocol stays line = object
          val startAfter = params.get("start-after")
          val all = objects.entrySet().asScala
            .filter(e => e.getKey == key || e.getKey.startsWith(key + "/"))
            .toSeq.sortBy(_.getKey)
          val resumed = startAfter match {
            case Some(sa) => all.dropWhile(_.getKey <= sa)
            case None => all
          }
          val page = resumed.take(listPageSize)
          listPagesServed.incrementAndGet()
          if (resumed.sizeIs > listPageSize)
            ex.getResponseHeaders.set("x-list-truncated", "true")
          val lines = page.map(e =>
            s"${e.getValue.bytes.length}\t${e.getValue.mtime}\t${e.getKey}")
          respond(ex, 200, lines.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case "GET" =>
          Option(objects.get(key)) match {
            case Some(o) =>
              // ranged read (`Range: bytes=a-b`, inclusive) → 206 with
              // the slice — the S3 GetObject range semantics parquet's
              // footer-then-row-group access pattern rides on
              val range = Option(ex.getRequestHeaders.getFirst("Range"))
              val rangeRe = """bytes=(\d+)-(\d+)""".r
              range match {
                case Some(rangeRe(a, b)) =>
                  val lo = a.toLong.min(o.bytes.length.toLong).toInt
                  val hi = (b.toLong + 1).min(o.bytes.length.toLong).toInt
                  respond(ex, 206,
                    java.util.Arrays.copyOfRange(o.bytes, lo, hi.max(lo)))
                case _ => respond(ex, 200, o.bytes)
              }
            case None => respond(ex, 404)
          }
        case "POST" if params.contains("uploads") =>
          // initiate multipart: the id names the staging area; nothing
          // is visible under the key until complete
          val id = java.util.UUID.randomUUID().toString
          uploads.put(id, Upload(key, new ConcurrentHashMap()))
          respond(ex, 200,
            id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case "POST" if params.contains("uploadId") =>
          // complete: concatenate parts in part-number order and
          // publish ATOMICALLY (one map put) — the S3 visibility rule
          Option(uploads.remove(params("uploadId"))) match {
            case Some(u) if u.key == key =>
              import scala.jdk.CollectionConverters._
              val ordered = u.parts.entrySet().asScala.toSeq
                .sortBy(_.getKey).map(_.getValue)
              val out = new java.io.ByteArrayOutputStream()
              ordered.foreach(out.write)
              objects.put(key, Obj(out.toByteArray, System.currentTimeMillis()))
              multipartCompletes.incrementAndGet()
              respond(ex, 200)
            case Some(_) => respond(ex, 400) // id belongs to another key
            case None => respond(ex, 404)
          }
        case "PUT" if params.contains("uploadId") =>
          (Option(uploads.get(params("uploadId"))),
            params.get("partNumber").map(_.toInt)) match {
            case (Some(u), Some(n)) if u.key == key =>
              u.parts.put(n, ex.getRequestBody.readAllBytes())
              respond(ex, 200)
            case _ => respond(ex, 404)
          }
        case "PUT"
            if ex.getRequestHeaders.getFirst("x-copy-source") != null =>
          // server-side copy (the S3 CopyObject shape)
          val src = ex.getRequestHeaders.getFirst("x-copy-source")
            .stripPrefix("/").split("/", -1).map(decode).mkString("/")
          Option(objects.get(src)) match {
            case Some(o) =>
              objects.put(key, Obj(o.bytes, System.currentTimeMillis()))
              respond(ex, 200)
            case None => respond(ex, 404)
          }
        case "PUT" =>
          val body = ex.getRequestBody.readAllBytes()
          val obj = Obj(body, System.currentTimeMillis())
          val conditional =
            Option(ex.getRequestHeaders.getFirst("If-None-Match"))
              .contains("*")
          if (conditional) {
            // the atomic server-side arbitration: exactly one winner
            if (objects.putIfAbsent(key, obj) == null) respond(ex, 201)
            else respond(ex, 412)
          } else {
            objects.put(key, obj)
            respond(ex, 200)
          }
        case "DELETE" if params.contains("uploadId") =>
          uploads.remove(params("uploadId")) // abort: staged parts gone
          respond(ex, 204)
        case "DELETE" =>
          objects.remove(key)
          respond(ex, 204)
        case _ => respond(ex, 405)
      }
    } catch {
      case scala.util.control.NonFatal(_) => respond(ex, 500)
    } finally ex.close()
  }
}

/** Scoped in-process object store: start, hand the block a
  * `graftos://` bucket root, stop. The specs use it to run whole
  * workloads with the warehouse in a bucket.
  */
object DemoObjectStore {
  def withStore[A](f: String => A): A = {
    val store = new InMemoryObjectStoreServer()
    try f(s"graftos://127.0.0.1:${store.port}/demo")
    finally store.stop()
  }
}
