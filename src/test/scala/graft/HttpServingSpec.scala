package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.MockLlmGateway
import graft.operators.Warehouse
import graft.pipeline.{MessageEnrich, Pipelines}
import graft.serving.{HttpServing, RuntimeTracker, Serving}
import graft.sources.{FixtureApi, TicketRef}

/** The wire-level serving facade: the reference's route set in scheduler
  * order over a REAL local port (`api/app.py:45-58`) — extract routes
  * driving the §3.1/§3.2 lifecycles (FixtureApi + mock LLM), the
  * whitelisted fetch route with its envelope, the monitoring routes, and
  * runtime-tracker middleware parity (`api/logs/middleware.py:11-45`,
  * `api/logs/routes.py:35-86`) including the failure path.
  */
class HttpServingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def call(port: Int, method: String, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val built = (if (method == "POST")
      req.POST(HttpRequest.BodyPublishers.noBody()) else req.GET()).build()
    val res = client.send(built, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }
  private def json(body: String) = mapper.readTree(body)

  private def fixtureApi = new FixtureApi(Map(
    "agents" -> Seq(Seq("""{"id":"A1","name":"Alice"}""", """{"id":"55","name":"Raw Special"}""")),
    "tags" -> Seq(Seq("""{"id":"g1","name":"vip"}""")),
    "tickets" -> Seq(Seq(
      """{"id":"T1","subject":"s1","tags":["a"],"date_created":"2024-01-01 02:00:00"}""",
      """{"id":"T2","subject":"s2","tags":[],"date_created":"2024-01-02 03:00:00"}""")),
    "tickets/T1/messages" -> Seq(Seq(
      """{"id":"g1","userid":"C7","messages":[{"mid":"m1","message":"I want to purchase in quezon city"}]}""")),
    "tickets/T2/messages" -> Seq(Seq(
      """{"id":"g2","userid":"A1","messages":[{"mid":"m2","message":"noted"}]}""")),
    "users/C7" -> Seq(Seq("""{"name":"Cara","email":"c@x.ph"}"""))))

  /** A serving stack over one warehouse; deterministic tracker clock.
    * `agentsError`, when given, is what the agents action throws.
    */
  private def stack(agentsError: Option[Throwable] = None) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-http").toString
    val wh = new Warehouse(spark, dir)
    val p = new Pipelines(spark, wh, fixtureApi, new MockLlmGateway,
      ids = MessageEnrich.Ids("sys00", "55", "BrandCo"))
    val tick = new java.util.concurrent.atomic.AtomicLong(0L)
    val clock = () => java.time.Instant.ofEpochMilli(tick.addAndGet(1000))
    val tracker = new RuntimeTracker(clock)
    val runTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val actions = HttpServing.Actions(
      processAgents = () => agentsError.fold(p.refreshAgents())(e => throw e),
      processTags = () => p.refreshTags(),
      processTicketsAndMessages = (isInitial, date) => {
        val (start, field) = HttpServing.resolveExtractionDate(isInitial, date,
          now = () => java.time.Instant.parse("2024-02-01T06:00:00Z"))
        val n = p.processTickets(field, start.toLocalDate.toString, "2024-12-31",
          runTs, Seq("subject", "tags"))
        p.processTicketMessages(Seq(TicketRef("T1"), TicketRef("T2")))
        n
      },
      processConvo = () => {
        // §3.2 reads the messages the §3.1 leg appended; order within a
        // ticket rides the message id (the fixture carries no datecreated)
        val messages = wh.read("messages").select(
          col("ticket_id"), col("sender_type"), col("message"),
          col("message_mid").as("datecreated"))
        val ref = Seq(Tuple1("quezon city"), Tuple1("makati")).toDF("ref_name")
        val svc = Seq(Tuple1("quezon city")).toDF("svc_name")
        p.processConvos(messages, ref, "ref_name", svc, "svc_name",
          updateCols = graft.pipeline.ColumnContracts.ConvoUpdateColumns
            .filter(Seq("summary", "intent_rating", "location").contains),
          runTs = runTs)
      })
    (wh, tracker, new HttpServing(wh, tracker, actions, clock))
  }

  test("scheduler-order lifecycle over the wire: extract → tracker → fetch → monitoring") {
    val (wh, tracker, serving) = stack()
    val port = serving.start()
    try {
      // root + health + whitelisted-but-absent table (error envelope,
      // Extractor.py:191-198) BEFORE anything ran
      assert(call(port, "GET", "/") == ((200, "\"Hello, World!\"")))
      val (hs, hb) = call(port, "GET", "/health")
      assert(hs == 200 && json(hb).get("status").asText() == "healthy")
      val (es, eb) = call(port, "GET", "/fetch/convo_analysis?limit=5")
      assert(es == 200 && json(eb).get("status").asText() == "error"
        && json(eb).get("message").asText() == "Table not found!")
      // /logs before any route: initialized at app start, all not_started
      val (ls0, lb0) = call(port, "GET", "/logs")
      assert(ls0 == 200 &&
        json(lb0).get("summary").get("not_started_routes").asInt() == 4 &&
        json(lb0).get("summary").get("app_status").asText() == "running")

      // the cloud-scheduler order (app.py:49-53)
      val (s1, b1) = call(port, "POST", "/extract/process-agents")
      assert(s1 == 200 && json(b1).get("status").asText() == "success"
        && json(b1).get("count").asText() == "2")
      val (s2, b2) = call(port, "POST", "/extract/process-tags")
      assert(s2 == 200 && json(b2).get("count").asText() == "1")
      val (s3, b3) = call(port, "POST",
        "/extract/process-tickets-and-messages?is_initial=true&date=2024-01-01")
      assert(s3 == 200 && json(b3).get("count").asText() == "2")
      assert(wh.read("tickets").count() == 2)
      assert(wh.read("messages").count() == 2)
      val (s4, b4) = call(port, "POST", "/extract/process-convo")
      assert(s4 == 200 && json(b4).get("count").asText() == "2")
      assert(wh.read("convo_analysis").count() == 2)

      // fetch route: whitelist gate, required limit, one-page envelope
      val (fs, fb) = call(port, "GET", "/fetch/tickets?limit=1")
      assert(fs == 200)
      val fenv = json(fb)
      assert(fenv.get("status").asText() == "success"
        && fenv.get("count").asText() == "1" && fenv.get("data").size() == 1)
      assert(call(port, "GET", "/fetch/nope?limit=1")._1 == 404)
      assert(call(port, "GET", "/fetch/tickets")._1 == 422)
      // present-but-unparseable limit is 422 too, but with the FastAPI
      // int-coercion detail, not the missing-param one
      val (bs, bb) = call(port, "GET", "/fetch/tickets?limit=abc")
      assert(bs == 422 && bb.contains("not a valid integer"))
      assert(call(port, "GET", "/nosuch")._1 == 404)

      // /logs after the full run: all completed, app ended (middleware +
      // Tracker intent — see RuntimeTracker doc on the reference's dead
      // route-name comparison)
      val (ls, lb) = call(port, "GET", "/logs")
      val summary = json(lb).get("summary")
      assert(ls == 200 && summary.get("completed_routes").asInt() == 4
        && summary.get("total_errors").asInt() == 0
        && summary.get("app_status").asText() == "completed")
      val routes = json(lb).get("runtime_details").get("routes_execution")
      assert(routes.size() == 4)
      assert((0 until 4).forall(i => routes.get(i).get("status").asText() == "completed"))
      assert(routes.get(0).get("route").asText() == "/extract/process-agents")
      assert(routes.get(3).get("route").asText() == "/extract/process-convo")
      assert((0 until 4).forall(i => routes.get(i).get("duration_seconds").asDouble() > 0))

      // /summary (routes.py:59-79)
      val (ss, sb) = call(port, "GET", "/summary")
      val sum = json(sb)
      assert(ss == 200 && sum.get("status").asText() == "completed")
      assert(sum.get("total_duration_seconds").asDouble() > 0)
      assert(sum.get("routes_stats").get("/extract/process-convo").asText() == "completed")

      // the tracker's batch view feeds the engine-side summary aggregation
      val agg = Serving.runtimeSummary(tracker.routesDf(spark),
        tracker.totalErrors, tracker.appEndTime.isDefined).collect().head
      assert(agg.getAs[Long]("completed_routes") == 4
        && agg.getAs[String]("app_status") == "completed")
    } finally serving.stop()
  }

  test("middleware failure path: 500 detail, failed route, error counted, app stays running") {
    val (_, tracker, serving) = stack(Some(new RuntimeException("liveagent unreachable")))
    val port = serving.start()
    try {
      val (s, b) = call(port, "POST", "/extract/process-agents")
      assert(s == 500 && json(b).get("detail").asText().contains("unreachable"))
      val (_, lb) = call(port, "GET", "/logs")
      val summary = json(lb).get("summary")
      assert(summary.get("failed_routes").asInt() == 1
        && summary.get("total_errors").asInt() == 1
        && summary.get("app_status").asText() == "running")
      val r0 = json(lb).get("runtime_details").get("routes_execution").get(0)
      assert(r0.get("status").asText() == "failed"
        && r0.get("error_message").asText().contains("unreachable")
        && r0.get("error_details").get("type").asText().nonEmpty)
    } finally serving.stop()
  }

  test("negative: a fatal error in a route escapes, no 500 envelope, route failed, server still up") {
    val (_, _, serving) = stack(Some(new StackOverflowError("boom")))
    val port = serving.start()
    try {
      // the exchange closes without a response: the client sees an I/O
      // error, or at least no envelope carrying the error's message
      scala.util.Try(call(port, "POST", "/extract/process-agents")).foreach { case (s, b) =>
        assert(s != 500 && !b.contains("boom"), s"fatal error answered as $s: $b")
      }
      val (ls, lb) = call(port, "GET", "/logs")
      val r0 = json(lb).get("runtime_details").get("routes_execution").get(0)
      assert(ls == 200 && r0.get("route").asText() == "/extract/process-agents"
        && r0.get("status").asText() == "failed", lb)
      // the fixed pool replaced the thread the error ended
      val (hs, hb) = call(port, "GET", "/health")
      assert(hs == 200 && json(hb).get("status").asText() == "healthy")
    } finally serving.stop()
  }

  test("resolve_extraction_date parity: initial → date_created from given/default; else now-6h on date_changed") {
    val now = () => java.time.Instant.parse("2024-06-15T10:00:00Z") // 18:00 Manila
    val (d1, f1) = HttpServing.resolveExtractionDate(isInitial = true, None, now)
    assert(d1 == java.time.LocalDate.parse("2025-01-01").atStartOfDay() && f1 == "date_created")
    val (d2, f2) = HttpServing.resolveExtractionDate(isInitial = true, Some("2024-03-01"), now)
    assert(d2 == java.time.LocalDate.parse("2024-03-01").atStartOfDay() && f2 == "date_created")
    val (d3, f3) = HttpServing.resolveExtractionDate(isInitial = false, None, now)
    assert(d3 == java.time.LocalDateTime.parse("2024-06-15T12:00:00") && f3 == "date_changed")
  }
}
