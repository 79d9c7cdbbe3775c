package graft.storage

import java.io.OutputStream
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** The Iceberg REST catalog role — the reference stack's
  * `iceberg-rest` service on port 8181
  * (/root/reference/fluss-iceberg/docker-compose.yml:127-133), which
  * is HOW Trino discovers the tiered tables (`trino/catalog/
  * iceberg.properties` points at it): tables are named in a catalog
  * and loaded over HTTP, never by filesystem path.
  *
  * Serves the subset of the REST catalog OpenAPI an external engine
  * drives — reads AND the write path (the reference's REST service is
  * the COMMIT AUTHORITY for the tiering job, not just a directory):
  *
  *  - `GET /v1/config` → engine handshake
  *  - `GET /v1/namespaces` → namespace listing
  *  - `GET /v1/namespaces/{ns}/tables` → table listing
  *  - `GET /v1/namespaces/{ns}/tables/{t}` → `LoadTableResult`:
  *    `metadata-location` plus the full embedded table-metadata
  *    document (served through [[TableFs]], so a bucket-resident
  *    metadata chain is proxied straight from the bucket)
  *  - `POST /v1/namespaces/{ns}/register` → RegisterTableRequest
  *    (`name` + `metadata-location`): create the table entry from an
  *    existing metadata document; 409 AlreadyExistsException if the
  *    name is taken — the spec's register endpoint, verbatim
  *  - `POST /v1/namespaces/{ns}/tables/{t}` → CommitTableRequest:
  *    `requirements` are validated against the CURRENT state under the
  *    table's commit lock — `assert-create`, `assert-table-uuid`,
  *    `assert-ref-snapshot-id` (branch `main`) — and a failed
  *    requirement is the spec's 409 CommitFailedException: the loser
  *    of a commit race must rebase, exactly the arbitration the
  *    reference's `iceberg-rest` service performs. Updates use the
  *    pointer-swap profile (`set-metadata-location`, the Nessie/JDBC
  *    catalog commit shape): the client stages the full new
  *    metadata.json in storage first, the catalog validates + swaps
  *    the pointer atomically. Commits may instead use the APPEND-ONLY
  *    update-action profile real Iceberg REST writers send —
  *    `add-snapshot` (one or more) plus `set-snapshot-ref` — in which
  *    case the CATALOG materializes the next metadata document itself
  *    (appends the snapshots, moves the named ref, bumps
  *    last-sequence-number / snapshot-log / metadata-log, stages the
  *    new metadata.json beside the current one) and swaps the pointer,
  *    under the same requirements arbitration. This is how the
  *    reference's tiering job commits against its `iceberg-rest`
  *    service (fluss-iceberg/docker-compose.yml:126-137): the external
  *    engine writes data files + manifests + a manifest list, never a
  *    metadata.json. Rewrite actions (`remove-snapshots`, schema
  *    changes, …) are refused loudly with guidance, never
  *    half-applied.
  *  - `DELETE /v1/namespaces/{ns}/tables/{t}` → drop (204; 404 when
  *    absent)
  *
  * In-process `register` remains for wiring convenience and performs
  * the same pointer swap the HTTP route does.
  */
class IcebergRestCatalogServer {
  private val tables =
    new ConcurrentHashMap[(String, String), String]() // (ns, t) → metadata loc
  /** Serializes commits per catalog (commit payloads are metadata-
    * sized; a real REST catalog serializes per table the same way —
    * arbitration, not a data-path bottleneck).
    */
  private val commitLock = new Object

  // request threads: non-daemon, so stop() must shut them down
  val executor: ExecutorService = Executors.newFixedThreadPool(4)
  val server: HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(executor)
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    s.start()
    s
  }

  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"
  def stop(): Unit = { server.stop(0); executor.shutdown() }

  /** Point `ns.table` at a metadata.json location (idempotent swap —
    * the catalog commit).
    */
  def register(ns: String, table: String, metadataLocation: String): Unit =
    tables.put((ns, table), metadataLocation)

  def unregister(ns: String, table: String): Unit =
    tables.remove((ns, table))

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val body = json.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length)
    val os: OutputStream = ex.getResponseBody
    try os.write(body) finally os.close()
  }

  private def err(ex: HttpExchange, status: Int, msg: String,
                  errType: String = "RESTException"): Unit =
    respond(ex, status, JsonMethods.compact(JsonMethods.render(
      "error" -> (("message" -> msg) ~ ("type" -> errType) ~
        ("code" -> status)))))

  private def readBody(ex: HttpExchange): org.json4s.JValue = {
    val is = ex.getRequestBody
    val raw = try new String(is.readAllBytes(), "UTF-8") finally is.close()
    if (raw.isEmpty) org.json4s.JObject() else JsonMethods.parse(raw)
  }

  private def jStr(v: org.json4s.JValue): Option[String] = v match {
    case org.json4s.JString(s) => Some(s)
    case _ => None
  }
  private def jNum(v: org.json4s.JValue): Option[Long] = v match {
    case org.json4s.JInt(n) => Some(n.longValue)
    case org.json4s.JLong(n) => Some(n)
    case _ => None
  }

  /** LoadTableResult / CommitTableResponse body for a pointer. */
  private def loadResult(loc: String): Either[String, String] =
    TableFs.forPath(loc).readString(loc) match {
      case None => Left(s"metadata location unreadable: $loc")
      case Some(body) => Right(JsonMethods.compact(JsonMethods.render(
        ("metadata-location" -> loc) ~
          ("metadata" -> JsonMethods.parse(body)))))
    }

  /** Validate one CommitTableRequest requirement against the current
    * pointer (None = table absent). Returns the failure message, or
    * None when satisfied. Unknown requirement types FAIL the commit —
    * silently ignoring an assertion the client relies on would turn
    * the arbitration into a lost-update machine.
    */
  private def checkRequirement(req: org.json4s.JValue,
                               current: Option[String]): Option[String] = {
    def currentMeta: Option[org.json4s.JValue] =
      current.flatMap(loc => TableFs.forPath(loc).readString(loc))
        .map(JsonMethods.parse(_))
    jStr(req \ "type") match {
      case Some("assert-create") =>
        if (current.isEmpty) None
        else Some("requirement failed: table already exists (assert-create)")
      case Some("assert-table-uuid") =>
        val want = jStr(req \ "uuid")
        val have = currentMeta.flatMap(m => jStr(m \ "table-uuid"))
        if (want.isDefined && want == have) None
        else Some(s"requirement failed: table-uuid is " +
          s"${have.getOrElse("<absent>")}, expected ${want.getOrElse("?")}")
      case Some("assert-ref-snapshot-id") =>
        val ref = jStr(req \ "ref").getOrElse("main")
        if (ref != "main")
          Some(s"unknown ref '$ref' — this catalog tracks branch 'main'")
        else {
          val want = jNum(req \ "snapshot-id") // absent = ref must not exist
          val have = currentMeta.flatMap(m => jNum(m \ "current-snapshot-id"))
          if (want == have) None
          else Some(s"requirement failed: branch main is at snapshot " +
            s"${have.getOrElse("<none>")}, expected ${want.getOrElse("<none>")}")
        }
      case Some(other) =>
        Some(s"unsupported requirement type '$other' — supported: " +
          "assert-create, assert-table-uuid, assert-ref-snapshot-id")
      case None => Some("requirement with no 'type'")
    }
  }

  /** Materialize the APPEND-ONLY commit profile: validate the staged
    * snapshots (ids fresh, manifest lists readable — the writer stages
    * data files, manifests and the manifest list BEFORE the commit),
    * build the next metadata document from the current one, stage it
    * beside the current location, swap the pointer. Called under the
    * commit lock, after requirements arbitration. Returns the
    * CommitTableResponse body, or (status, message).
    */
  private def applyAppendCommit(ns: String, t: String, curLoc: String,
      updates: List[org.json4s.JValue]): Either[(Int, String), String] = {
    import org.json4s._
    val curBody = TableFs.forPath(curLoc).readString(curLoc).getOrElse(
      return Left((500, s"metadata location unreadable: $curLoc")))
    val md = JsonMethods.parse(curBody)
    def arr(v: JValue): List[JValue] =
      v match { case JArray(a) => a; case _ => Nil }
    val existingIds: Set[Long] =
      arr(md \ "snapshots").flatMap(s => jNum(s \ "snapshot-id")).toSet
    val adds =
      updates.filter(u => jStr(u \ "action").contains("add-snapshot"))
    val snaps: List[(Long, JValue)] = adds.map { u =>
      val s = u \ "snapshot"
      val id = jNum(s \ "snapshot-id").getOrElse(return Left((400,
        "add-snapshot: snapshot needs a numeric 'snapshot-id'")))
      val ml = jStr(s \ "manifest-list").getOrElse(return Left((400,
        s"add-snapshot $id: snapshot needs 'manifest-list'")))
      if (existingIds(id)) return Left((409,
        s"Commit failed for $ns.$t: snapshot $id already exists"))
      if (TableFs.forPath(ml).readBytes(ml).isEmpty) return Left((400,
        s"add-snapshot $id: manifest list unreadable: $ml — stage data " +
          "files, manifests and the manifest list BEFORE the commit"))
      (id, s)
    }
    val newIds = snaps.map(_._1)
    if (newIds.distinct.size != newIds.size)
      return Left((400, "duplicate snapshot-id within one commit"))
    // ref moves — append-only: branch `main` forward, or tags; a tag
    // is immutable once set (re-pointing one is a rewrite)
    val knownIds = existingIds ++ newIds
    val existingTags: Map[String, Long] = (md \ "refs") match {
      case JObject(fs) => fs.collect {
        case (n, v) if jStr(v \ "type").contains("tag") =>
          n -> jNum(v \ "snapshot-id").getOrElse(-1L)
      }.toMap
      case _ => Map.empty
    }
    val refMoves: List[(String, String, Long)] = updates
      .filter(u => jStr(u \ "action").contains("set-snapshot-ref"))
      .map { u =>
        val name = jStr(u \ "ref-name").getOrElse(return Left((400,
          "set-snapshot-ref needs 'ref-name'")))
        val kind = jStr(u \ "type").getOrElse("branch")
        val id = jNum(u \ "snapshot-id").getOrElse(return Left((400,
          s"set-snapshot-ref $name needs a numeric 'snapshot-id'")))
        if (kind == "branch" && name != "main") return Left((400,
          s"unknown branch '$name' — this catalog tracks branch 'main'"))
        if (kind == "tag" && existingTags.get(name).exists(_ != id))
          return Left((400, s"tag '$name' already points at snapshot " +
            s"${existingTags(name)} — re-pointing a tag is a rewrite, " +
            "not accepted by the append profile"))
        if (!knownIds(id)) return Left((400,
          s"set-snapshot-ref $name: snapshot $id is neither existing " +
            "nor added in this commit"))
        (name, kind, id)
      }
    val nowMs = System.currentTimeMillis()
    def upd(obj: JValue, key: String)(f: JValue => JValue): JValue =
      obj match {
        case JObject(fs) if fs.exists(_._1 == key) =>
          JObject(fs.map { case (k, v) =>
            if (k == key) k -> f(v) else k -> v })
        case JObject(fs) => JObject(fs :+ (key -> f(JNothing)))
        case other => other
      }
    val lastSeq = math.max(
      jNum(md \ "last-sequence-number").getOrElse(0L),
      snaps.flatMap { case (_, s) => jNum(s \ "sequence-number") }
        .maxOption.getOrElse(0L))
    var next = md
    next = upd(next, "snapshots")(v => JArray(arr(v) ++ snaps.map(_._2)))
    next = upd(next, "last-sequence-number")(_ => JLong(lastSeq))
    next = upd(next, "last-updated-ms")(_ => JLong(nowMs))
    refMoves.collectFirst { case ("main", "branch", id) => id }
      .foreach { id =>
        next = upd(next, "current-snapshot-id")(_ => JLong(id))
        next = upd(next, "snapshot-log")(v => JArray(arr(v) :+
          ((("timestamp-ms" -> nowMs) ~ ("snapshot-id" -> id)): JValue)))
      }
    refMoves.foreach { case (name, kind, id) =>
      val entry: JValue = ("snapshot-id" -> id) ~ ("type" -> kind)
      next = upd(next, "refs") {
        case JObject(fs) =>
          JObject(fs.filterNot(_._1 == name) :+ (name -> entry))
        case _ => JObject(List(name -> entry))
      }
    }
    next = upd(next, "metadata-log")(v => JArray(arr(v) :+
      ((("metadata-file" -> curLoc) ~ ("timestamp-ms" -> nowMs)): JValue)))
    val dir = curLoc.substring(0, curLoc.lastIndexOf('/'))
    val newLoc =
      s"$dir/rest-commit-${java.util.UUID.randomUUID()}.metadata.json"
    TableFs.forPath(newLoc).writeString(newLoc,
      JsonMethods.compact(JsonMethods.render(next)))
    loadResult(newLoc) match {
      case Left(msg) => Left((500, msg))
      case Right(resp) =>
        tables.put((ns, t), newLoc) // the arbitrated swap
        Right(resp)
    }
  }

  /** REST-spec LIST pagination: `pageSize` caps the page and the
    * response carries `next-page-token` when more remain; `pageToken`
    * resumes AFTER the named cursor. The token is the last returned
    * name — a sorted-name cursor stays exact under concurrent
    * registration (an insert before the cursor was already passed;
    * one after it will be served), the same stance as the object
    * store's LIST. Without `pageSize` the full list returns in one
    * page — the pre-pagination clients' shape.
    */
  private def paginate(ex: HttpExchange,
                       sorted: Seq[String]): (Seq[String], Option[String]) = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap
    val after = q.get("pageToken").filter(_.nonEmpty)
    val size = q.get("pageSize").flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > 0)
    val remaining = after.fold(sorted)(tok => sorted.dropWhile(_ <= tok))
    val page = size.fold(remaining)(remaining.take)
    val next =
      if (size.isDefined && remaining.size > page.size) page.lastOption
      else None
    (page, next)
  }

  private def handle(ex: HttpExchange): Unit = {
    try {
      val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
        .map(java.net.URLDecoder.decode(_, "UTF-8")).toSeq
      (ex.getRequestMethod, parts) match {
        case ("GET", Seq("v1", "config")) =>
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            ("defaults" -> org.json4s.JObject()) ~
              ("overrides" -> org.json4s.JObject()))))
        case ("GET", Seq("v1", "namespaces")) =>
          import scala.jdk.CollectionConverters._
          val nss = tables.keySet().asScala.map(_._1).toSeq.distinct.sorted
          val (page, next) = paginate(ex, nss)
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            next.foldLeft(("namespaces" -> page.map(Seq(_)))
                : org.json4s.JObject) {
              (o, t) => o ~ ("next-page-token" -> t)
            })))
        case ("GET", Seq("v1", "namespaces", ns)) =>
          // namespace-exists probe — the first call real clients
          // (pyiceberg, Trino) make before listing; this catalog is
          // table-keyed, so a namespace exists iff it holds tables
          import scala.jdk.CollectionConverters._
          if (tables.keySet().asScala.exists(_._1 == ns))
            respond(ex, 200, JsonMethods.compact(JsonMethods.render(
              ("namespace" -> Seq(ns)) ~
                ("properties" -> org.json4s.JObject()))))
          else err(ex, 404, s"Namespace does not exist: $ns",
            "NoSuchNamespaceException")
        case ("HEAD", Seq("v1", "namespaces", ns, "tables", t)) =>
          // table-exists probe: 204 when present, 404 otherwise
          if (tables.containsKey((ns, t))) {
            ex.sendResponseHeaders(204, -1); ex.close()
          } else err(ex, 404, s"Table does not exist: $ns.$t",
            "NoSuchTableException")
        case ("GET", Seq("v1", "namespaces", ns, "tables")) =>
          import scala.jdk.CollectionConverters._
          val names = tables.keySet().asScala.filter(_._1 == ns)
            .map(_._2).toSeq.sorted
          val (page, next) = paginate(ex, names)
          val ids = page.map(t => ("namespace" -> Seq(ns)) ~ ("name" -> t))
          respond(ex, 200, JsonMethods.compact(JsonMethods.render(
            next.foldLeft(("identifiers" -> ids): org.json4s.JObject) {
              (o, t) => o ~ ("next-page-token" -> t)
            })))
        case ("GET", Seq("v1", "namespaces", ns, "tables", t)) =>
          Option(tables.get((ns, t))) match {
            case None => err(ex, 404, s"Table does not exist: $ns.$t",
              "NoSuchTableException")
            case Some(loc) => loadResult(loc) match {
              case Left(msg) => err(ex, 500, msg)
              case Right(body) => respond(ex, 200, body)
            }
          }

        // ---- write path: the catalog as commit authority ----
        case ("POST", Seq("v1", "namespaces", ns, "register")) =>
          val body = readBody(ex)
          (jStr(body \ "name"), jStr(body \ "metadata-location")) match {
            case (Some(t), Some(loc)) =>
              loadResult(loc) match { // unreadable metadata never registers
                case Left(msg) => err(ex, 400, msg)
                case Right(resp) =>
                  if (tables.putIfAbsent((ns, t), loc) != null)
                    err(ex, 409, s"Table already exists: $ns.$t",
                      "AlreadyExistsException")
                  else respond(ex, 200, resp)
              }
            case _ => err(ex, 400,
              "RegisterTableRequest needs 'name' and 'metadata-location'")
          }

        case ("POST", Seq("v1", "namespaces", ns, "tables", t)) =>
          val body = readBody(ex)
          val reqs = (body \ "requirements") match {
            case org.json4s.JArray(rs) => rs
            case org.json4s.JNothing => Nil
            case _ => Nil
          }
          val updates = (body \ "updates") match {
            case org.json4s.JArray(us) => us
            case _ => Nil
          }
          val actions = updates.map(u => jStr(u \ "action"))
          val pointerProfile =
            actions.forall(_.contains("set-metadata-location"))
          val appendProfile = updates.nonEmpty && actions.forall(a =>
            a.contains("add-snapshot") || a.contains("set-snapshot-ref"))
          // requirements arbitration shared by both commit profiles:
          // validate under the lock, 409 on the first failed assertion
          def arbitrate(current: Option[String])(
              commit: => Either[(Int, String), String]): Unit =
            reqs.iterator.map(checkRequirement(_, current))
              .collectFirst { case Some(m) => m } match {
              case Some(m) =>
                err(ex, 409, s"Commit failed for $ns.$t: $m",
                  "CommitFailedException")
              case None => commit match {
                case Left((code, msg)) => err(ex, code, msg,
                  if (code == 409) "CommitFailedException" else "RESTException")
                case Right(resp) => respond(ex, 200, resp)
              }
            }
          if (pointerProfile) {
          val newLoc = updates.flatMap(u => jStr(u \ "action") match {
            case Some("set-metadata-location") =>
              jStr(u \ "metadata-location").map(Right(_)).orElse(
                Some(Left("set-metadata-location with no 'metadata-location'")))
            case _ => Some(Left("update with no 'action'"))
          })
          newLoc.collectFirst { case Left(m) => m } match {
            case Some(bad) => err(ex, 400, bad)
            case None => newLoc.collect { case Right(l) => l } match {
              case Seq(loc) => commitLock.synchronized {
                val current = Option(tables.get((ns, t)))
                val creating = reqs.exists(r =>
                  jStr(r \ "type").contains("assert-create"))
                if (current.isEmpty && !creating)
                  err(ex, 404, s"Table does not exist: $ns.$t — a first " +
                    "commit must carry the assert-create requirement",
                    "NoSuchTableException")
                else arbitrate(current) {
                  loadResult(loc) match {
                    case Left(msg) => Left((400, msg))
                    case Right(resp) =>
                      tables.put((ns, t), loc) // the arbitrated swap
                      Right(resp)
                  }
                }
              }
              case Seq() => err(ex, 400,
                "CommitTableRequest carried no set-metadata-location update")
              case _ => err(ex, 400,
                "multiple set-metadata-location updates in one commit")
            }
          }
          } else if (appendProfile) commitLock.synchronized {
            Option(tables.get((ns, t))) match {
              case None => err(ex, 404,
                s"Table does not exist: $ns.$t — the append profile " +
                  "commits onto an existing table (register or " +
                  "assert-create + set-metadata-location first)",
                "NoSuchTableException")
              case Some(curLoc) =>
                arbitrate(Some(curLoc))(
                  applyAppendCommit(ns, t, curLoc, updates))
            }
          } else err(ex, 400,
            s"unsupported update action mix [${actions.flatten.mkString(", ")}]" +
              " — this catalog commits by pointer swap " +
              "({\"action\":\"set-metadata-location\",...}) or by the " +
              "append-only profile (add-snapshot + set-snapshot-ref); " +
              "rewrite actions are not accepted")

        case ("DELETE", Seq("v1", "namespaces", ns, "tables", t)) =>
          // under the commit lock: a drop racing a commit must order
          // strictly before or after the pointer swap, never between
          // its state read and its put (which would resurrect the
          // dropped table)
          val removed = commitLock.synchronized(tables.remove((ns, t)))
          if (removed != null) {
            ex.sendResponseHeaders(204, -1); ex.close()
          } else err(ex, 404, s"Table does not exist: $ns.$t",
            "NoSuchTableException")

        case _ => err(ex, 404, "route not found")
      }
    } catch {
      case e: Throwable => err(ex, 500, String.valueOf(e.getMessage))
    }
  }
}

/** The external engine's side of the protocol: discover and scan a
  * table knowing ONLY the catalog URL and the table name — the Trino
  * read path of the reference, with [[IcebergExport.readFromMetadata]]
  * as the scan (no [[TieredTable]] code anywhere in the flow).
  */
object IcebergRestClient {

  /** The spec's CommitFailedException surfaced client-side: the commit
    * lost the race (or asserted a stale snapshot) — rebase and retry.
    */
  class CommitFailedException(msg: String) extends RuntimeException(msg)

  private def http(method: String, url: String,
                   body: Option[String] = None): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(30000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(b.getBytes("UTF-8")) finally os.close()
    }
    val status = conn.getResponseCode
    val is = if (status < 400) conn.getInputStream else conn.getErrorStream
    val resp =
      if (is == null) ""
      else try new String(is.readAllBytes(), "UTF-8") finally is.close()
    (status, resp)
  }

  private def get(url: String): (Int, String) = http("GET", url)

  /** Drain a paginated LIST endpoint: follow `next-page-token` until
    * the server stops returning one. With `pageSize = None` the
    * server answers in one page (pre-pagination shape).
    */
  private def listPaged(url: String, field: String,
                        pageSize: Option[Int])
      (extract: org.json4s.JValue => Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var token: Option[String] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      val qs = Seq(pageSize.map(s => s"pageSize=$s"),
        token.map(t => s"pageToken=${enc(t)}")).flatten.mkString("&")
      val (status, body) = get(if (qs.isEmpty) url else s"$url?$qs")
      require(status == 200, s"list $field: HTTP $status $body")
      val json = JsonMethods.parse(body)
      out ++= extract(json \ field)
      token = (json \ "next-page-token") match {
        case org.json4s.JString(t) => Some(t)
        case _ => None
      }
    }
    out.result()
  }

  def listNamespaces(baseUrl: String,
                     pageSize: Option[Int] = None): Seq[String] =
    listPaged(s"$baseUrl/v1/namespaces", "namespaces", pageSize) {
      case org.json4s.JArray(nss) => nss.collect {
        case org.json4s.JArray(List(org.json4s.JString(n))) => n
      }
      case _ => Nil
    }

  def listTables(baseUrl: String, ns: String,
                 pageSize: Option[Int] = None): Seq[String] =
    listPaged(s"$baseUrl/v1/namespaces/${enc(ns)}/tables", "identifiers",
      pageSize) {
      case org.json4s.JArray(ids) => ids.map(i =>
        (i \ "name").asInstanceOf[org.json4s.JString].s)
      case _ => Nil
    }

  /** Load `ns.table` through the catalog and scan it purely from the
    * served metadata document.
    */
  def loadTable(spark: SparkSession, baseUrl: String, ns: String,
                table: String,
                asOfSnapshotId: Option[Long] = None): DataFrame = {
    val (status, body) =
      get(s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}")
    if (status == 404)
      throw new NoSuchElementException(s"table $ns.$table not in catalog")
    require(status == 200, s"loadTable: HTTP $status $body")
    val md = JsonMethods.parse(body) \ "metadata"
    IcebergExport.readFromMetadata(spark, md, asOfSnapshotId)
  }

  /** RegisterTableRequest: create `ns.table` from an existing staged
    * metadata.json. 409 (name taken) surfaces as
    * [[CommitFailedException]] — the caller should commit instead.
    */
  def registerTable(baseUrl: String, ns: String, table: String,
                    metadataLocation: String): Unit = {
    val body = JsonMethods.compact(JsonMethods.render(
      ("name" -> table) ~ ("metadata-location" -> metadataLocation)))
    val (status, resp) =
      http("POST", s"$baseUrl/v1/namespaces/${enc(ns)}/register", Some(body))
    if (status == 409) throw new CommitFailedException(resp)
    require(status == 200, s"registerTable: HTTP $status $resp")
  }

  /** CommitTableRequest through the catalog's arbitration: assert the
    * expected current snapshot (None = the table must not exist yet →
    * assert-create) and swap the pointer to the staged metadata
    * document. Throws [[CommitFailedException]] on 409 — the caller
    * lost the race and must re-export from the new current state.
    */
  def commitTable(baseUrl: String, ns: String, table: String,
                  metadataLocation: String,
                  expectedSnapshotId: Option[Long],
                  tableUuid: Option[String] = None): Unit = {
    import org.json4s.JsonDSL._
    val reqs: List[org.json4s.JValue] = expectedSnapshotId match {
      case None => List(("type" -> "assert-create"): org.json4s.JObject)
      case Some(id) =>
        (("type" -> "assert-ref-snapshot-id") ~ ("ref" -> "main") ~
          ("snapshot-id" -> id)) ::
          tableUuid.map(u =>
            (("type" -> "assert-table-uuid") ~ ("uuid" -> u))
              : org.json4s.JValue).toList
    }
    val body = JsonMethods.compact(JsonMethods.render(
      ("requirements" -> org.json4s.JArray(reqs)) ~
        ("updates" -> Seq(
          ("action" -> "set-metadata-location") ~
            ("metadata-location" -> metadataLocation)))))
    val (status, resp) = http("POST",
      s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}", Some(body))
    if (status == 409) throw new CommitFailedException(resp)
    require(status == 200, s"commitTable: HTTP $status $resp")
  }

  /** The table's current metadata-location and current-snapshot-id as
    * the catalog serves them — what a committer rebases against.
    */
  def tableState(baseUrl: String, ns: String,
                 table: String): Option[(String, Option[Long])] = {
    val (status, body) =
      get(s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}")
    if (status == 404) None
    else {
      require(status == 200, s"tableState: HTTP $status $body")
      val j = JsonMethods.parse(body)
      val loc = (j \ "metadata-location").asInstanceOf[org.json4s.JString].s
      val snap = (j \ "metadata" \ "current-snapshot-id") match {
        case org.json4s.JInt(n) => Some(n.longValue)
        case org.json4s.JLong(n) => Some(n)
        case _ => None
      }
      Some((loc, snap))
    }
  }

  /** The namespace-exists probe (`GET /v1/namespaces/{ns}`). */
  def namespaceExists(baseUrl: String, ns: String): Boolean =
    get(s"$baseUrl/v1/namespaces/${enc(ns)}")._1 == 200

  /** The table-exists probe (`HEAD /v1/namespaces/{ns}/tables/{t}`). */
  def tableExists(baseUrl: String, ns: String, table: String): Boolean =
    http("HEAD",
      s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}")._1 == 204

  def dropTable(baseUrl: String, ns: String, table: String): Boolean = {
    val (status, resp) = http("DELETE",
      s"$baseUrl/v1/namespaces/${enc(ns)}/tables/${enc(table)}")
    if (status == 204) true
    else if (status == 404) false
    else throw new IllegalStateException(s"dropTable: HTTP $status $resp")
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
}
