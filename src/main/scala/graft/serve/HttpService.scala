package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** HTTP front for [[QueryService]] — the literal REST surface of the
  * reference (`api/main.py:307-701`), as a thin adapter: each route is
  * translated to one op-request and dispatched through
  * [[QueryService.handle]] unchanged, so every behavior (tenant
  * checks, upsert semantics, cascade deletes, dense-mode selection,
  * status codes) is the one the JSON-line protocol already pins.
  * Built on the JDK's `com.sun.net.httpserver` — no new dependencies.
  *
  * Routes (tenant via the reference's header contract,
  * `api/main.py:44-81`: X-Organization-ID required, X-Workspace-ID /
  * X-Collection-ID optional):
  *  - GET  /health                  → health
  *  - GET  /stats                   → stats
  *  - POST /search                  → search (body: query, limit,
  *         weights, filters, enhanced, dense_mode)
  *  - POST /documents/ingest        → ingest (body: {docs: [...]})
  *  - GET  /documents?limit=&offset=&document_type=&cursor= → list
  *    (cursor = last id of the previous page → keyset pagination:
  *     bounded driver collect at any depth; response carries
  *     documents + next_cursor)
  *  - GET  /documents/{id}          → get_document
  *  - DELETE /documents/{id}        → delete
  *
  * Error mapping: the op-protocol's `{"status": <int>, "detail": …}`
  * error payloads become the HTTP status; success payloads are 200.
  * The server runs on a small fixed thread pool — requests serialize
  * into Spark jobs exactly as the stdin loop's would.
  */
class HttpService(svc: QueryService, bindPort: Int = 0) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", bindPort), 64)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
  server.createContext("/", (ex: HttpExchange) => dispatch(ex))

  def port: Int = server.getAddress.getPort
  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)

  private def dispatch(ex: HttpExchange): Unit =
    try {
      val method = ex.getRequestMethod.toUpperCase
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val route = (method, path) match {
        case ("GET", "/health") => Some("health" -> JObject())
        case ("GET", "/stats") => Some("stats" -> JObject())
        case ("POST", "/search") => Some("search" -> body(ex))
        case ("POST", "/documents/ingest") => Some("ingest" -> body(ex))
        // raw-file upload (multipart-equivalent): docs[] entries carry
        // {filename, content_b64}; the service parses bytes→text via
        // the DocumentParser seam server-side
        case ("POST", "/documents/upload") => Some("ingest" -> body(ex))
        case ("GET", "/documents") => Some("documents" -> queryParams(ex))
        case ("GET", DocPath(id)) =>
          Some("get_document" -> JObject("document_id" -> JString(id)))
        case ("DELETE", DocPath(id)) =>
          Some("delete" -> JObject("document_id" -> JString(id)))
        case _ => None
      }
      route match {
        case None =>
          respond(ex, 404, """{"status":404,"detail":"no such route"}""")
        case Some((op, params)) =>
          val req = JObject("op" -> JString(op)) merge tenantFields(ex) merge params
          val resp = svc.handle(compact(render(req)))
          respond(ex, httpStatus(resp), resp)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500,
          compact(render(JObject("status" -> JInt(500),
            "detail" -> JString(String.valueOf(e.getMessage))))))
    } finally ex.close()

  private object DocPath {
    def unapply(path: String): Option[String] =
      if (path.startsWith("/documents/") && path.count(_ == '/') == 2)
        Some(java.net.URLDecoder.decode(
          path.stripPrefix("/documents/"), "UTF-8"))
      else None
  }

  /** Header contract → op-protocol tenant fields. Missing org header →
    * no field → the service's own 401, matching `api/main.py:58-65`. */
  private def tenantFields(ex: HttpExchange): JObject = {
    def h(name: String): Option[String] =
      Option(ex.getRequestHeaders.getFirst(name))
    JObject(List(
      h("X-Organization-ID").map("organization_id" -> JString(_)),
      h("X-Workspace-ID").map("workspace_id" -> JString(_)),
      h("X-Collection-ID").map("collection_id" -> JString(_))).flatten)
  }

  private def body(ex: HttpExchange): JObject = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) JObject()
    else parse(new String(bytes, StandardCharsets.UTF_8)) match {
      case o: JObject => o
      case _ => JObject()
    }
  }

  private def queryParams(ex: HttpExchange): JObject = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val kvs = q.split("&").toList.filter(_.contains("=")).map { p =>
      val Array(k, v) = p.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }
    JObject(kvs.collect {
      case ("limit", v) if v.matches("-?\\d+") => "limit" -> JInt(BigInt(v))
      case ("offset", v) if v.matches("-?\\d+") => "offset" -> JInt(BigInt(v))
      case ("document_type", v) => "document_type" -> JString(v)
      case ("cursor", v) => "cursor" -> JString(v)
    })
  }

  /** The op protocol marks errors as `{"status": <int>}` with integer
    * 4xx/5xx; success payloads either lack `status` or carry a string
    * ("completed", "healthy", "deleted"). */
  private def httpStatus(resp: String): Int =
    parse(resp) \ "status" match {
      case JInt(s) if s >= 400 && s <= 599 => s.toInt
      case _ => 200
    }

  private def respond(ex: HttpExchange, status: Int, payload: String): Unit = {
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}

/** Standalone HTTP entrypoint: `runMain graft.serve.HttpService <port>
  * [storeRoot]` — the same service the stdin loop hosts, behind HTTP. */
object HttpService {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val storeRoot = args.drop(1).headOption.getOrElse(
      sys.env.getOrElse("GRAFT_STORE", "/tmp/graft_store"))
    val http = new HttpService(new QueryService(QueryService.session(), storeRoot), port)
    http.start()
    // serve until the JVM is stopped; Spark holds non-daemon threads
    System.err.println(s"graft http service on port ${http.port}")
  }
}
