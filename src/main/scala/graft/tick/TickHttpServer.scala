package graft.tick

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.matching.Regex

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** The reference's HTTP daemon surface (route table
  * `main.go:24-37`, handlers `handlers.go:15-166`) as a thin shim over
  * [[TickApi]]: same methods, same path regexes (evaluated in the same
  * order), same status codes and JSON bodies — so the README's curl
  * examples (`README.md:15-60`) run unchanged against this server.
  *
  * Zero new dependencies: `com.sun.net.httpserver` ships with the JDK.
  * The handler threads share one SparkSession; each request delegates
  * to the library call, so everything the correctness gate pins about
  * [[TickApi]]/[[TickStore]] holds on the wire too.
  *
  * Parity notes:
  *  - 201 replies carry no body (the reference only calls
  *    `WriteHeader(201)`).
  *  - ingest renders the JSON string `"success"` (`handlers.go:74`).
  *  - errors render `{"error": e, "reason": r}` (`main.go:51-54`),
  *    unmatched routes get 400 `no_handler` (`main.go:56-58`).
  *  - a bad time in GET /{db}/{index}/{time} is 400 `Bad time format`
  *    (`handlers.go:102-104`); a missing from/to on range delete is the
  *    reference's odd 500 `Time 'to' Error` (`handlers.go:163`).
  *  - unmarshal errors are IGNORED like the reference's bare
  *    `json.Unmarshal` calls: a malformed ingest body no-ops to 200
  *    `"success"` (`handlers.go:68-74`), and a malformed range-delete
  *    body falls into the missing-from/to branch, 500 `Time 'to'
  *    Error` (`handlers.go:141-164`); unparseable from/to times render
  *    500 `Time 'from' Error` / `Time 'to' Error` (`handlers.go:146,153`).
  */
final class TickHttpServer(spark: SparkSession, store: TickStore, port: Int = 0,
    maxQueryRows: Int = TickApi.DefaultMaxRows) {

  private val mapper = new ObjectMapper()

  private type Handler = (Seq[String], HttpExchange) => Unit
  private final case class Route(method: String, pattern: Regex, handler: Handler)

  // the reference's db-name character class (main.go:28-37)
  private val db = "([-%+()$_a-zA-Z0-9]+)"

  private val routes: Seq[Route] = Seq(
    Route("GET", "^/$".r, (_, ex) => respond(ex, 200, TickApi.serverInfo)),
    Route("GET", "^/_all_dbs$".r, (_, ex) =>
      respond(ex, 200, TickApi.listDbs(spark, store))),
    Route("GET", s"^/$db/?$$".r, (p, ex) =>
      respond(ex, 200, TickApi.dbInfo(spark, store, p(0)))),
    Route("PUT", s"^/$db/?$$".r, (p, ex) => {
      TickApi.createDb(spark, store, p(0)); respond(ex, 201, "")
    }),
    Route("DELETE", s"^/$db/_all$$".r, (p, ex) => {
      TickApi.dropDb(spark, store, p(0)); respond(ex, 201, "")
    }),
    Route("POST", s"^/$db/_query$$".r, (p, ex) =>
      respond(ex, 200, TickApi.query(spark, store, p(0), body(ex), maxQueryRows))),
    Route("POST", s"^/$db/?$$".r, (p, ex) => {
      // the reference ignores json.Unmarshal errors (handlers.go:68):
      // a malformed / non-array body leaves the data slice nil,
      // dbstore no-ops over it (database.go:71-90), and the client
      // still sees 200 "success" — mimic that by skipping the store
      // call entirely when the body isn't a JSON array
      val b = body(ex)
      if (scala.util.Try(mapper.readTree(b)).toOption.exists(_.isArray))
        TickApi.ingest(spark, store, p(0), b)
      respond(ex, 200, "\"success\"")
    }),
    Route("GET", s"^/$db/([^/]+)/([^/]+)$$".r, (p, ex) => {
      val time = java.net.URLDecoder.decode(p(2), "UTF-8")
      scala.util.Try(TickQuery.parseTimeNs(time)) match {
        case scala.util.Failure(e) =>
          error(ex, 400, "Bad time format", e.getMessage)
        case scala.util.Success(_) =>
          TickApi.getPoint(spark, store, p(0), p(1), time) match {
            case Some(json) => respond(ex, 200, json)
            case None => error(ex, 500, "Server Error", "point not found")
          }
      }
    }),
    Route("DELETE", s"^/$db/([^/]+)/_all$$".r, (p, ex) => {
      TickApi.dropIndex(spark, store, p(0), p(1)); respond(ex, 201, "")
    }),
    Route("DELETE", s"^/$db/([^/]+)$$".r, (p, ex) => {
      val b = body(ex)
      // the reference checks the raw byte length (handlers.go:135) —
      // a whitespace-only body falls through to the unmarshal, which
      // fails silently into the missing-from/to branch
      if (b.isEmpty) respond(ex, 201, "")
      else {
        // unmarshal errors are ignored (handlers.go:141): a malformed
        // body leaves the query map nil, so it lands in the
        // missing-from/to branch -> 500 "Time 'to' Error"
        val root = scala.util.Try(mapper.readTree(b)).toOption
        def str(k: String) = root.flatMap(r => Option(r.get(k)))
          .filterNot(_.isNull).map(_.asText).getOrElse("")
        val (from, to) = (str("from"), str("to"))
        if (from.isEmpty || to.isEmpty)
          error(ex, 500, "Time 'to' Error", "'from' and 'to' time required")
        else scala.util.Try(TickQuery.parseTimeNs(from)) match {
          case scala.util.Failure(e) =>
            error(ex, 500, "Time 'from' Error", String.valueOf(e.getMessage))
          case scala.util.Success(fromNs) =>
            scala.util.Try(TickQuery.parseTimeNs(to)) match {
              case scala.util.Failure(e) =>
                error(ex, 500, "Time 'to' Error", String.valueOf(e.getMessage))
              case scala.util.Success(toNs) =>
                store.deleteRange(spark, p(0), p(1), fromNs, toNs)
                respond(ex, 201, "")
            }
        }
      }
    })
  )

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // the handler pool's threads are non-daemon: stop() must shut it down
  // or they keep the JVM alive after the server is gone
  private val pool = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"tick-http-${n.incrementAndGet()}"))
  }
  server.setExecutor(pool)

  /** Bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Int = { server.start(); boundPort }

  /** Stops the listener, then the handler pool: a handler still running
    * gets up to 10 s to finish before it is interrupted.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow()
    ()
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getRawPath
      val method = ex.getRequestMethod
      routes.collectFirst {
        case r if r.method == method && r.pattern.findFirstMatchIn(path).isDefined =>
          (r, r.pattern.findFirstMatchIn(path).get.subgroups)
      } match {
        case Some((route, groups)) =>
          try route.handler(groups, ex)
          catch {
            // over-cap raw range queries: 413, not a driver OOM (the
            // one deliberate departure from reference wire behavior)
            case e: TickApi.ResultTooLargeException =>
              error(ex, 413, "result_too_large", String.valueOf(e.getMessage))
            case e: Throwable =>
              error(ex, 500, "Server Error", String.valueOf(e.getMessage))
          }
        case None =>
          error(ex, 400, "no_handler", s"Can't handle $method to $path\n")
      }
    } finally ex.close()

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, status: Int, payload: String): Unit = {
    val h = ex.getResponseHeaders
    h.set("Access-Control-Allow-Origin", "*")
    h.set("Content-Type", "application/json")
    if (payload.isEmpty) ex.sendResponseHeaders(status, -1)
    else {
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
    }
  }

  private def error(ex: HttpExchange, status: Int, e: String, reason: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("error", e)
    node.put("reason", reason)
    respond(ex, status, mapper.writeValueAsString(node))
  }
}
