package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.util.control.NonFatal
import graft.operators.Warehouse

/** The reference's HTTP service, wire-level (`api/app.py:45-58`): the
  * extract routes in scheduler order (agents → tags →
  * tickets-and-messages → convo), the whitelisted table-fetch route, the
  * monitoring routes (`api/logs/routes.py:35-86`), and the runtime-tracker
  * middleware (`api/logs/middleware.py:11-45`) wrapping exactly the four
  * tracked extract routes with start/complete/fail transitions.
  *
  * Built on the JDK's `com.sun.net.httpserver` — no extra dependency; the
  * HEAVY work behind each route is the same [[graft.pipeline.Pipelines]] /
  * [[Serving]] code the batch surface runs (Spark jobs, lazy LIMIT-to-scan
  * fetch pages), the listener only parses/serializes. Route actions are
  * injected as thunks so specs drive the full §3.1/§3.2 lifecycles over a
  * real local port with the fixture API and mock LLM.
  */
final class HttpServing(
    wh: Warehouse,
    tracker: RuntimeTracker,
    actions: HttpServing.Actions,
    clock: () => Instant = () => Instant.now()) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Bind and start; `port = 0` picks a free port. Returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    // lifespan parity (app.py:24-35): the tracker initializes at app start
    tracker.initialize()
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", dispatch _)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  // ---- dispatch ----

  private def dispatch(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      (method, path) match {
        case ("GET", "/") => respond(ex, 200, mapper.writeValueAsString("Hello, World!"))
        case ("POST", "/extract/process-agents") =>
          tracked(ex, path)(() => envelope(actions.processAgents()))
        case ("POST", "/extract/process-tags") =>
          tracked(ex, path)(() => envelope(actions.processTags()))
        case ("POST", "/extract/process-tickets-and-messages") =>
          val q = query(ex)
          val isInitial = q.get("is_initial").exists(v => v == "true" || v == "1")
          tracked(ex, path)(() =>
            envelope(actions.processTicketsAndMessages(isInitial, q.get("date"))))
        case ("POST", "/extract/process-convo") =>
          tracked(ex, path)(() => envelope(actions.processConvo()))
        case ("GET", p) if p.startsWith("/fetch/") => fetchRoute(ex, p.stripPrefix("/fetch/"))
        case ("GET", "/logs") => logsRoute(ex)
        case ("GET", "/summary") => summaryRoute(ex)
        case ("GET", "/health") =>
          val o = mapper.createObjectNode()
          o.put("status", "healthy")
          o.put("timestamp", RuntimeTracker.iso(clock()))
          respond(ex, 200, o.toString)
        case _ => detail(ex, 404, "Not Found")
      }
    } catch {
      case NonFatal(e) => detail(ex, 500, String.valueOf(e.getMessage))
    } finally ex.close()
  }

  /** Middleware parity (middleware.py:29-43): tracked routes transition
    * in_progress → completed/failed around the handler; failures surface
    * as 500 with the error detail AND count toward total_errors. A fatal
    * error (out of memory, a linkage error) marks the route failed, then
    * escapes: the exchange closes without a response, and the pool
    * replaces the thread it ended.
    */
  private def tracked(ex: HttpExchange, path: String)(body: () => ObjectNode): Unit = {
    tracker.startRoute(path)
    try {
      val out = body()
      tracker.completeRoute(path)
      respond(ex, 200, out.toString)
    } catch {
      case NonFatal(e) =>
        tracker.failRoute(path, e)
        detail(ex, 500, String.valueOf(e.getMessage))
      case e: Throwable =>
        tracker.failRoute(path, e)
        throw e
    }
  }

  /** ExtractionResponse shape (`api/schemas/response.py:18-23`,
    * tickets.py:36-41): status + stringly count + data.
    */
  private def envelope(count: Long): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("status", Serving.Success)
    o.put("count", count.toString)
    o.putNull("data")
    o
  }

  /** `GET /fetch/{table}?limit=` (tables.py:12-23 + Extractor.py:178-198):
    * whitelist 404, required limit (422, the FastAPI contract for a
    * default-less Query), then [[Serving.fetch]]'s one-job page serialized
    * row-wise.
    */
  private def fetchRoute(ex: HttpExchange, table: String): Unit = {
    val q = query(ex)
    q.get("limit").map(v => (v, v.toIntOption)) match {
      case None =>
        detail(ex, 422, "limit query parameter is required")
      case Some((raw, None)) =>
        // present but unparseable — FastAPI's 422 distinguishes a missing
        // Query param from one that fails int coercion
        detail(ex, 422,
          s"limit query parameter is not a valid integer: '$raw'")
      case Some((_, Some(limit))) =>
        dispatchFetch(ex, table, limit)
    }
  }

  private def dispatchFetch(ex: HttpExchange, table: String, limit: Int): Unit = {
    Serving.fetch(wh, table, limit) match {
      case Left(err) => detail(ex, err.statusCode, err.detail)
      case Right(env) =>
        val o = mapper.createObjectNode()
        o.put("status", env.status)
        o.put("count", env.count)
        env.data match {
          case None => o.putNull("data")
          case Some(df) =>
            val arr = o.putArray("data")
            // the page is already a collected LocalRelation (one job
            // ran inside Serving.fetch); toJSON here is local
            df.toJSON.collect().foreach(r => arr.add(mapper.readTree(r)))
        }
        env.message.foreach(m => o.put("message", m))
        respond(ex, 200, o.toString)
    }
  }

  /** `GET /logs` (routes.py:35-57): summary + full runtime details. */
  private def logsRoute(ex: HttpExchange): Unit = {
    if (!tracker.initialized) { detail(ex, 404, "No runtime data available."); return }
    val rs = tracker.routeExecutions
    val o = mapper.createObjectNode()
    val s = o.putObject("summary")
    s.put("total_routes", rs.size)
    s.put("completed_routes", rs.count(_.status == tracker.Status.Completed))
    s.put("failed_routes", rs.count(_.status == tracker.Status.Failed))
    s.put("in_progress_routes", rs.count(_.status == tracker.Status.InProgress))
    s.put("not_started_routes", rs.count(_.status == tracker.Status.NotStarted))
    s.put("total_errors", tracker.totalErrors)
    s.put("app_status", if (tracker.appEndTime.isDefined) "completed" else "running")
    val d = o.putObject("runtime_details")
    tracker.appStartTime.foreach(t => d.put("app_start_time", RuntimeTracker.iso(t)))
    tracker.appEndTime match {
      case Some(t) => d.put("app_end_time", RuntimeTracker.iso(t))
      case None => d.putNull("app_end_time")
    }
    tracker.totalDurationSeconds match {
      case Some(v) => d.put("total_duration_seconds", v)
      case None => d.putNull("total_duration_seconds")
    }
    d.put("total_errors", tracker.totalErrors)
    val arr = d.putArray("routes_execution")
    rs.foreach(r => arr.add(routeNode(r)))
    o.put("timestamp", RuntimeTracker.iso(clock()))
    respond(ex, 200, o.toString)
  }

  private def routeNode(r: tracker.RouteExecution): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("route", r.route)
    n.put("status", r.status)
    def put(name: String, v: Option[Instant]): Unit = v match {
      case Some(t) => n.put(name, RuntimeTracker.iso(t))
      case None => n.putNull(name)
    }
    put("start_time", r.startTime)
    put("end_time", r.endTime)
    r.durationSeconds match {
      case Some(v) => n.put("duration_seconds", v)
      case None => n.putNull("duration_seconds")
    }
    r.errorMessage match {
      case Some(m) => n.put("error_message", m)
      case None => n.putNull("error_message")
    }
    r.errorType match {
      case Some(t) => n.putObject("error_details").put("type", t)
      case None => n.putNull("error_details")
    }
    n
  }

  /** `GET /summary` (routes.py:59-79). */
  private def summaryRoute(ex: HttpExchange): Unit = {
    if (!tracker.initialized) { detail(ex, 404, "No runtime data available."); return }
    val o = mapper.createObjectNode()
    val now = clock()
    tracker.appStartTime.foreach { s =>
      o.put("app_start_time", RuntimeTracker.iso(s))
      o.put("elapsed_time_seconds", (now.toEpochMilli - s.toEpochMilli) / 1000.0)
    }
    tracker.appEndTime match {
      case Some(t) => o.put("app_end_time", RuntimeTracker.iso(t))
      case None => o.putNull("app_end_time")
    }
    tracker.totalDurationSeconds match {
      case Some(v) => o.put("total_duration_seconds", v)
      case None => o.putNull("total_duration_seconds")
    }
    o.put("total_errors", tracker.totalErrors)
    o.put("status", if (tracker.appEndTime.isDefined) "completed" else "running")
    val rs = o.putObject("routes_stats")
    tracker.routeExecutions.foreach(r => rs.put(r.route, r.status))
    respond(ex, 200, o.toString)
  }

  // ---- plumbing ----

  private def query(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) kv else kv.substring(0, i)
      val v = if (i < 0) "" else kv.substring(i + 1)
      java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
    }.toMap
  }

  /** FastAPI error shape: {"detail": ...}. */
  private def detail(ex: HttpExchange, code: Int, message: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("detail", message)
    respond(ex, code, o.toString)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object HttpServing {
  /** The four extract-route actions, each returning the processed row
    * count (the envelope's `count`). tickets takes the reference's
    * (is_initial, date) query params (tickets.py:15-23 +
    * `resolve_extraction_date`).
    */
  final case class Actions(
      processAgents: () => Long,
      processTags: () => Long,
      processTicketsAndMessages: (Boolean, Option[String]) => Long,
      processConvo: () => Long)

  /** `resolve_extraction_date` parity
    * (`api/routes/helpers/tickets_route_helpers.py`): initial runs filter
    * on date_created from the given (or default) start date; incremental
    * runs filter on date_changed from now-6h. Returns (startTs,
    * filterField); `now` injectable for specs.
    */
  def resolveExtractionDate(isInitial: Boolean, date: Option[String],
      now: () => Instant = () => Instant.now(),
      initialDefault: String = "2025-01-01"): (java.time.LocalDateTime, String) = {
    val zone = RuntimeTracker.DefaultZone
    if (isInitial) {
      val d = java.time.LocalDate.parse(date.getOrElse(initialDefault))
      (d.atStartOfDay(), "date_created")
    } else {
      (now().atZone(zone).toLocalDateTime.minusHours(6), "date_changed")
    }
  }
}
