package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import org.apache.spark.sql.DataFrame

import graft.exec.{ExecutionContext, PlanCache}

/** Minimal HTTP facade (reference `src/server/http/router.rs:59-196`):
  *
  *   POST /sql              run SQL (JSON body `{"sql": "..."}` or raw
  *                          text), JSON-array response, `result_limit`
  *                          applied (`router.rs:93-111`, limit applied in
  *                          `local.rs:557-569`)
  *   GET  /catalog          table listing (`router.rs:119-135` SHOW TABLES;
  *                          served in the reference's catalog/schema/name/
  *                          type column shape)
  *   GET  /table/:c/:s/:t   `SELECT * FROM t LIMIT n` (`router.rs:137-170`)
  *   GET  /tpch/:n          shipped TPC-H query n (`router.rs:172-196`)
  *
  * Plan-once / execute-later over the wire (the FlightSQL
  * get_flight_info -> DoGet contract, `src/server/flightsql/service.rs:
  * 486-560`, on HTTP):
  *
  *   POST /prepare          plan the SQL, return {"handle": ..., "schema": ...}
  *   GET  /execute/:handle  execute the stored plan
  *   GET  /close/:handle    drop the stored plan
  *
  * Optional Basic/Bearer auth mirrors the reference's server auth layer
  * (`src/server/flightsql/mod.rs:58-106`; config
  * `crates/datafusion-app/src/config.rs:309-319`). Every request is
  * recorded in the observability table like the reference's per-endpoint
  * records (`router.rs:283-308`).
  *
  * Built on the JDK's HttpServer — zero dependencies; request handling
  * delegates straight to [[ExecutionContext]], so rewrites, result limits
  * and observability behave identically to the CLI path.
  */
class HttpServer(ctx: ExecutionContext,
    port: Int = 0,
    resultLimit: Int = 1000,
    bearerToken: Option[String] = None,
    basicAuth: Option[(String, String)] = None,
    tpchQuery: Option[Int => DataFrame] = None) {

  private val server = JdkHttpServer.create(new InetSocketAddress(port), 0)
  // concurrent request handling like the reference's axum server
  // (`router.rs:59-84` — tower layers over a multi-threaded runtime);
  // Spark's SQLConf is thread-safe per session, and the observability
  // recorder is lock-free
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(pool)
  private val planCache = new PlanCache(ctx)

  /** Bound port (useful when constructed with port=0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = { server.createContext("/", handler _); server.start() }
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  private val ArrowMime = "application/vnd.apache.arrow.stream"

  private def handler(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    val path = ex.getRequestURI.getPath
    var sqlRun: Option[String] = None
    var rowsOut: Option[Long] = None
    var contentType = "application/json"
    var rawBody: Option[Array[Byte]] = None
    val (status, body) =
      try {
        def ok(df: DataFrame): (Int, String) = {
          val (json, n) = toJsonArray(df)
          rowsOut = Some(n)
          (200, json)
        }
        // Arrow IPC negotiation on the execute path (the reference's DoGet
        // boundary is Arrow IPC, `service.rs:87-125`)
        def okNegotiated(df: DataFrame): (Int, String) = {
          val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
          if (accept.contains(ArrowMime)) {
            // single pass: rows are counted while the batches are encoded,
            // and the Arrow content type is committed only after the stream
            // serialized — a failure mid-encode falls through to the JSON
            // error body with the JSON content type
            val (bytes, n) = ArrowTransport.toArrowStream(df.limit(resultLimit))
            rowsOut = Some(n)
            contentType = ArrowMime
            rawBody = Some(bytes)
            (200, "")
          } else ok(df.limit(resultLimit))
        }
        if (!AuthCheck.allows(ex.getRequestHeaders.getFirst("Authorization"),
            bearerToken, basicAuth)) (401, """{"error":"unauthorized"}""")
        else (ex.getRequestMethod, path) match {
          case ("POST", "/sql") =>
            val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val sql = extractSql(raw)
            sqlRun = Some(sql)
            ok(ctx.sql(sql).limit(resultLimit))
          case ("GET", "/catalog") =>
            ok(FlightSqlCatalogs.getTables(ctx))
          case ("GET", "/metrics") =>
            // Prometheus text exposition (reference runs a dedicated
            // metrics server, `src/server/mod.rs`); rendered before this
            // request's own observability record, so it reports completed
            // requests only
            contentType = "text/plain; version=0.0.4; charset=utf-8"
            (200, PrometheusText.render(ctx.observability.counters))
          case ("POST", "/prepare") =>
            val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val sql = extractSql(raw)
            sqlRun = Some(sql)
            val p = planCache.prepare(sql)
            (200, s"""{"handle":${jsonString(p.handle)},""" +
              s""""schema":${jsonString(p.schema.simpleString)}}""")
          case ("GET", ExecutePath(handle)) =>
            okNegotiated(planCache.execute(handle))
          case ("GET", ClosePath(handle)) =>
            (200, s"""{"closed":${planCache.close(handle)}}""")
          case ("GET", TablePath(_, _, table)) =>
            // catalog/schema segments accepted for URL-shape parity; the
            // session catalog resolves the bare table name. Backticks in
            // the segment are doubled so a crafted path cannot break out
            // of the quoted identifier into arbitrary SQL (POST /sql is
            // the intentional arbitrary-SQL endpoint; this is not).
            val ident = table.replace("`", "``")
            ok(ctx.sql(s"SELECT * FROM `$ident`").limit(resultLimit))
          case ("GET", TpchPath(n)) =>
            tpchQuery match {
              case Some(f) => ok(f(n.toInt).limit(resultLimit))
              case None => (404, """{"error":"tpch queries not configured"}""")
            }
          case _ => (404, """{"error":"not found"}""")
        }
      } catch {
        case NonFatal(e) =>
          (400, s"""{"error":${jsonString(Option(e.getMessage).getOrElse(e.toString))}}""")
      }
    ctx.observability.record(None, path, sqlRun, ts,
      (System.nanoTime() - start) / 1000000, rowsOut, status)
    val bytes = rawBody.getOrElse(body.getBytes(StandardCharsets.UTF_8))
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private val TablePath = """/table/([^/]+)/([^/]+)/([^/]+)""".r
  private val TpchPath = """/tpch/(\d+)""".r
  private val ExecutePath = """/execute/([0-9a-f-]+)""".r
  private val ClosePath = """/close/([0-9a-f-]+)""".r

  private def extractSql(body: String): String = HttpServer.extractSql(body)

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Rows as a JSON array of objects (reference `router.rs:230-281`
    * serializes the batch stream to a JSON array).
    */
  private def toJsonArray(df: DataFrame): (String, Long) = {
    val rows = df.toJSON.collect()
    (rows.mkString("[", ",", "]"), rows.length.toLong)
  }
}

object HttpServer {
  /** Body is either `{"sql": "..."}` (reference shape) or raw SQL text.
    * The JSON path goes through a real single-pass parser ([[MiniJson]]):
    * sequential `String.replace` cannot unescape JSON (a literal backslash
    * followed by `n` — `"\\n"` on the wire — must stay two characters, not
    * collapse into a newline).
    */
  private[graft] def extractSql(body: String): String = {
    val t = body.trim
    if (t.startsWith("{"))
      MiniJson.objectField(t, "sql").getOrElse(t)
    else t
  }
}
