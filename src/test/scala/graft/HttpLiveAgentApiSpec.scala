package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** The production HTTP transport against a local stub LiveAgent server:
  * request shape (headers, _page/_perPage/_filters params), envelope
  * parsing (array / data-wrapped / point-object / non-JSON), stop-on-empty
  * pagination, error mapping, and throttle spacing — the contract
  * `core/LiveAgentClient.py` implements against the real API.
  */
class HttpLiveAgentApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestBase.spark

  private var server: HttpServer = _
  private var base: String = _
  // (path, query, apiKey header, arrival millis) per request, in order
  private val seen = mutable.ArrayBuffer.empty[(String, String, String, Long)]

  private def respond(ex: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def param(query: String, name: String): Option[String] =
    query.split("&").toSeq.map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, "UTF-8") }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      seen.synchronized {
        seen += ((path, query, ex.getRequestHeaders.getFirst("apiKey"),
          System.nanoTime() / 1000000))
      }
      val page = param(query, "_page").map(_.toInt).getOrElse(1)
      path match {
        case "/tickets" => // bare-array envelope, 2 pages then empty
          val body = page match {
            case 1 => """[{"id":"t1","subject":"a"},{"id":"t2","subject":"b"}]"""
            case 2 => """[{"id":"t3","subject":"c"}]"""
            case _ => "[]"
          }
          respond(ex, 200, body)
        case "/agents" => // data-wrapped envelope
          val body = if (page == 1)
            """{"data":[{"id":"a1"},{"id":"a2"}],"total":2}""" else """{"data":[]}"""
          respond(ex, 200, body)
        case "/tickets/t1/messages" =>
          val body = if (page == 1)
            """[{"id":"g1","messages":[{"id":"m1","message":"hi"}]}]""" else "[]"
          respond(ex, 200, body)
        case "/tickets/gone/messages" =>
          respond(ex, 404, """{"message":"Ticket not found"}""")
        case "/tickets/flaky/messages" => // page 1 ok, page 2 blows up
          if (page == 1)
            respond(ex, 200, """[{"id":"g9","messages":[{"id":"m9","message":"partial"}]}]""")
          else respond(ex, 500, """{"message":"boom"}""")
        case "/users/u1" => // point lookup: bare object, no data envelope
          respond(ex, 200, """{"name":"Ana","email":"a@x","role":"A"}""")
        case "/users/u404" =>
          respond(ex, 404, """{"message":"User not found"}""")
        case "/plain" => // 2xx non-JSON: must yield an empty page, not a row
          respond(ex, 200, "maintenance", contentType = "text/plain")
        case _ =>
          respond(ex, 404, """{"message":"Not found"}""")
      }
    })
    server.start()
    base = s"http://localhost:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def api = new HttpLiveAgentApi(base, apiKey = "k123")

  test("empty API key is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      new HttpLiveAgentApi(base, apiKey = "")
    }
    assert(e.getMessage.contains("API key"))
  }

  test("paginate over the real transport: pages until empty, params sent") {
    seen.synchronized(seen.clear())
    val filters = LiveAgentSource.windowFilters(
      "date_created", "2024-01-01 00:00:00", "2024-01-31 23:59:59")
    val df = LiveAgentSource.json(spark, LiveAgentSource.fetchPages(api, "tickets", filters))
    assert(df.count() == 3)
    assert(df.columns.toSet == Set("id", "subject"))
    val reqs = seen.synchronized(seen.filter(_._1 == "/tickets").toSeq)
    assert(reqs.size == 3) // page 1, 2, then the empty page 3 that stops it
    assert(reqs.forall(_._3 == "k123")) // apiKey header on every request
    val q1 = reqs.head._2
    assert(param(q1, "_page").contains("1") &&
      param(q1, "_perPage").contains(LiveAgentSource.PageSize.toString))
    // the _filters JSON rides through URL-encoding intact
    assert(param(q1, "_filters").contains(
      """[["date_created","D>","2024-01-01 00:00:00"],["date_created","D<=","2024-01-31 23:59:59"]]"""))
  }

  test("data-wrapped envelope unwraps like the reference page loop") {
    val df = LiveAgentSource.json(spark, LiveAgentSource.fetchPages(api, "agents"))
    assert(df.count() == 2 && df.columns.contains("id"))
  }

  test("404 maps to ApiError with the body's message") {
    assert(api.fetchPage("nope", 1, 10, Map.empty) ===
      Left(ApiError(404, "Not found")))
  }

  test("2xx non-JSON yields an empty page, never a fake row") {
    assert(api.fetchPage("plain", 1, 10, Map.empty) === Right(Seq.empty))
  }

  test("unreachable server maps to a transport ApiError, not an exception") {
    val dead = new HttpLiveAgentApi("http://localhost:1", "k", timeoutMillis = 500)
    dead.fetchPage("tickets", 1, 10, Map.empty) match {
      case Left(ApiError(0, msg)) => assert(msg.contains("tickets"))
      case other => fail(s"expected transport error, got $other")
    }
  }

  test("fetchTicketMessages: good ticket lands, 404 ticket skipped") {
    val df = LiveAgentSource.ticketMessageGroups(spark,
      LiveAgentSource.fetchTicketMessageRows(api,
        Seq(TicketRef("t1", ownerName = Some("own")), TicketRef("gone"))))
    val flat = LiveAgentSource.flattenMessageGroups(df)
    val rows = flat.select("ticket_id", "message_message").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("t1", "hi"))) // `gone` skipped, not fatal
  }

  test("fetchTicketMessages: mid-pagination failure drops the WHOLE ticket") {
    // reference behavior (`core/Ticket.py:125-132`): a per-ticket error
    // returns [] for that ticket — never a silently-truncated prefix
    val df = LiveAgentSource.ticketMessageGroups(spark,
      LiveAgentSource.fetchTicketMessageRows(api, Seq(TicketRef("flaky"), TicketRef("t1"))))
    val flat = LiveAgentSource.flattenMessageGroups(df)
    val rows = flat.select("ticket_id", "message_message").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("t1", "hi"))) // flaky's page-1 rows NOT retained
  }

  test("fetchUsers: point object resolves, missing user skipped") {
    val df = LiveAgentSource.fetchUsers(spark, api, Seq("u1", "u404"))
    val rows = df.select("id", "name", "role").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq == Seq(("u1", "Ana", "A")))
  }

  test("throttle spacing: launches at least delayMillis apart") {
    val throttled = new HttpLiveAgentApi(base, "k123",
      limiter = Some(new RateLimiter(maxConcurrent = 15, delayMillis = 120)))
    seen.synchronized(seen.clear())
    LiveAgentSource.fetchPages(throttled, "tickets")
    val times = seen.synchronized(
      seen.filter(_._1 == "/tickets").map(_._4).toSeq)
    assert(times.size == 3)
    val gaps = times.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    // scheduler jitter tolerance: the limiter sleeps >=120ms between
    // launches; arrivals can compress slightly but never collapse
    assert(gaps.forall(_ >= 100), s"request gaps too small: $gaps")
  }

  test("RetryingApi: transient errors retry with exponential backoff; 4xx do not") {
    import graft.sources.{ApiError, LiveAgentApi, RetryingApi}
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    // fails twice with 503, then succeeds
    var calls = 0
    val flaky = new LiveAgentApi {
      override def fetchPage(e: String, p: Int, pp: Int, f: Map[String, String]) = {
        calls += 1
        if (calls <= 2) Left(ApiError(503, "unavailable"))
        else Right(Seq("""{"id":"ok"}"""))
      }
    }
    val api = new RetryingApi(flaky, maxAttempts = 4,
      baseDelayMillis = 100, sleep = delays += _)
    assert(api.fetchPage("t", 1, 10, Map.empty) == Right(Seq("""{"id":"ok"}""")))
    assert(calls == 3)
    assert(delays.toSeq == Seq(100L, 200L), "expected 1x, 2x backoff")
    // a 404 must NOT retry
    var calls404 = 0
    val notFound = new LiveAgentApi {
      override def fetchPage(e: String, p: Int, pp: Int, f: Map[String, String]) = {
        calls404 += 1; Left(ApiError(404, "no"))
      }
    }
    assert(new RetryingApi(notFound, maxAttempts = 4, sleep = _ => ())
      .fetchPage("t", 1, 10, Map.empty) == Left(ApiError(404, "no")))
    assert(calls404 == 1)
    // exhausted transient retries surface the last error
    var callsDown = 0
    val down = new LiveAgentApi {
      override def fetchPage(e: String, p: Int, pp: Int, f: Map[String, String]) = {
        callsDown += 1; Left(ApiError(0, "connect timeout"))
      }
    }
    assert(new RetryingApi(down, maxAttempts = 3, sleep = _ => ())
      .fetchPage("t", 1, 10, Map.empty) == Left(ApiError(0, "connect timeout")))
    assert(callsDown == 3)
  }
}
