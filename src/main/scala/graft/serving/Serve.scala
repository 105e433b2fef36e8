package graft.serving

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{HttpLlmGateway, LlmGateway, MockLlmGateway}
import graft.operators.Warehouse
import graft.pipeline.{ColumnContracts, MessageEnrich, Pipelines}
import graft.sources.{FixtureApi, HttpLiveAgentApi, LiveAgentApi, RateLimiter, TicketRef}

/** The runnable serving binary — the engine twin of `uvicorn api.app:app`
  * (`api/app.py:45-58`): composes a [[graft.operators.Warehouse]] +
  * [[graft.pipeline.Pipelines]] + a LiveAgent transport + an LLM gateway
  * into a started [[HttpServing]] exposing the reference's route set in
  * scheduler order (`/extract/process-agents`, `/extract/process-tags`,
  * `/extract/process-tickets-and-messages`, `/extract/process-convo`,
  * `/fetch/{table}`, `/`, `/health`, `/logs`).
  *
  * Run: `sbt "runMain graft.serving.Serve"` (or with a port argument:
  * `"runMain graft.serving.Serve 8080"`). Configuration is environment
  * variables, mirroring the reference's dotenv settings
  * (`config/config.py:10-12`):
  *
  *  - `GRAFT_SERVE_PORT` — listen port (default 8000; arg wins)
  *  - `GRAFT_WAREHOUSE_DIR` — parquet warehouse root
  *    (default `target/warehouse`)
  *  - `GRAFT_LIVEAGENT_URL` + `GRAFT_LIVEAGENT_API_KEY` — real LiveAgent
  *    transport ([[graft.sources.HttpLiveAgentApi]] under the reference's
  *    ~150 req/min limiter). ABSENT → offline demo mode: a small
  *    [[graft.sources.FixtureApi]] dataset so every route works with zero
  *    network (the shape the specs drive).
  *  - `GRAFT_LLM_URL` + `GRAFT_LLM_API_KEY` (+ `GRAFT_LLM_MODELS`,
  *    comma-separated fallback chain) — real LLM gateway
  *    ([[graft.llm.HttpLlmGateway]]). ABSENT → [[graft.llm.MockLlmGateway]].
  *  - `GRAFT_GEO_REF_CSV` — geocode reference table (S11/S12; header CSV,
  *    first column = reference names). ABSENT → a built-in demo list.
  *  - `GRAFT_SVC_CSV` — serviceable-names list, same format.
  *  - `GRAFT_INITIAL_DATE` — initial-run default start date
  *    (`resolve_extraction_date`'s default, yyyy-MM-dd).
  *  - `GRAFT_SPARK_MASTER` — Spark master. ABSENT → `local[cores]`.
  *
  * The session comes from [[graft.Session]], as every engine main's does:
  * its cores (`SPARK_GRAFT_CPUS`, default the available processors), its
  * shuffle partitions (the cores) and the [[graft.plans.GraftExtensions]]
  * that `processConvos` plans through.
  *
  * The process stays up until SIGTERM (HttpServing's daemon threads are
  * held by a main-thread join), like uvicorn.
  */
object Serve {

  /** Everything the binary composes, returned so specs can drive the same
    * stack on an ephemeral port without spawning a process.
    */
  final case class Stack(wh: Warehouse, tracker: RuntimeTracker,
                         serving: HttpServing)

  /** Build the serving stack from environment-style config. Pure
    * composition — nothing starts until `serving.start(port)`.
    */
  def build(spark: SparkSession, env: Map[String, String]): Stack = {
    val whDir = env.getOrElse("GRAFT_WAREHOUSE_DIR", "target/warehouse")
    val wh = new Warehouse(spark, whDir)

    val api: LiveAgentApi = env.get("GRAFT_LIVEAGENT_URL") match {
      case Some(url) =>
        // Semaphore(15) + 0.4 s spacing ≈ 150 req/min, under the API's
        // 180/min cap (LiveAgentClient.py's envelope)
        new HttpLiveAgentApi(url,
          env.getOrElse("GRAFT_LIVEAGENT_API_KEY",
            sys.error("GRAFT_LIVEAGENT_API_KEY required with GRAFT_LIVEAGENT_URL")),
          limiter = Some(new RateLimiter(15, 400)))
      case None => demoApi
    }
    val llm: LlmGateway = env.get("GRAFT_LLM_URL") match {
      case Some(url) =>
        new HttpLlmGateway(url,
          env.getOrElse("GRAFT_LLM_API_KEY",
            sys.error("GRAFT_LLM_API_KEY required with GRAFT_LLM_URL")),
          models = env.getOrElse("GRAFT_LLM_MODELS", "gpt-4o-mini")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case None => new MockLlmGateway
    }

    val p = new Pipelines(spark, wh, api, llm,
      ids = MessageEnrich.Ids(
        env.getOrElse("GRAFT_SYSTEM_USER_ID", "system-user"),
        env.getOrElse("GRAFT_SPECIAL_USER_ID", "special-user"),
        env.getOrElse("GRAFT_BRAND_NAME", "Brand")))
    val tracker = new RuntimeTracker()

    def namesDf(envKey: String, fallback: Seq[String], col0: String): DataFrame =
      env.get(envKey) match {
        case Some(path) =>
          val df = spark.read.option("header", "true").csv(path)
          df.select(col(df.columns.head).as(col0))
        case None =>
          spark.createDataFrame(fallback.map(Tuple1(_))).toDF(col0)
      }
    lazy val geoRef = namesDf("GRAFT_GEO_REF_CSV", DemoGeoNames, "ref_name")
    lazy val svc = namesDf("GRAFT_SVC_CSV", DemoSvcNames, "svc_name")
    val initialDefault = env.getOrElse("GRAFT_INITIAL_DATE", "2025-01-01")

    val actions = HttpServing.Actions(
      processAgents = () => p.refreshAgents(),
      processTags = () => p.refreshTags(),
      processTicketsAndMessages = (isInitial, date) => {
        val (start, field) = HttpServing.resolveExtractionDate(
          isInitial, date, initialDefault = initialDefault)
        val runTs = java.sql.Timestamp.from(java.time.Instant.now())
        val end = java.time.LocalDate.now(RuntimeTracker.DefaultZone).plusDays(1)
        val n = p.processTickets(field, start.toLocalDate.toString,
          end.toString, runTs, ColumnContracts.TicketsUpdateColumns)
        // messages leg for the tickets in THIS window (the reference
        // fetches messages for the ids it just extracted): the window
        // filter re-applied to the upserted table is exactly that id set
        if (n > 0 && wh.exists("tickets")) {
          val refs = wh.read("tickets")
            .where(col(field) >=
              lit(java.sql.Timestamp.valueOf(start)).cast("timestamp_ntz"))
            .select(col("id").cast("string")).collect()
            .map(r => TicketRef(r.getString(0))).toSeq
          p.processTicketMessages(refs)
        }
        n
      },
      processConvo = () => {
        if (!wh.exists("messages")) 0L
        else {
          val m = wh.read("messages")
          // real LiveAgent messages carry message_datecreated; fixture
          // data may not — the message id is a stable per-ticket order
          val ordered =
            if (m.columns.contains("message_datecreated"))
              m.withColumn("datecreated", col("message_datecreated"))
            else m.withColumn("datecreated", col("message_mid"))
          val messages = ordered.select(
            col("ticket_id"), col("sender_type"), col("message"),
            col("datecreated"))
          p.processConvos(messages, geoRef, "ref_name", svc, "svc_name",
            updateCols = ColumnContracts.ConvoUpdateColumns,
            runTs = java.sql.Timestamp.from(java.time.Instant.now()))
        }
      })
    Stack(wh, tracker, new HttpServing(wh, tracker, actions))
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt)
      .orElse(sys.env.get("GRAFT_SERVE_PORT").map(_.toInt)).getOrElse(8000)
    val spark = graft.Session("graft-serve", master = sys.env.get("GRAFT_SPARK_MASTER"))
    val stack = build(spark, sys.env)
    val bound = stack.serving.start(port)
    println(s"graft serving listening on http://0.0.0.0:$bound " +
      s"(warehouse=${sys.env.getOrElse("GRAFT_WAREHOUSE_DIR", "target/warehouse")}, " +
      s"liveagent=${if (sys.env.contains("GRAFT_LIVEAGENT_URL")) "http" else "fixture-demo"}, " +
      s"llm=${if (sys.env.contains("GRAFT_LLM_URL")) "http" else "mock"})")
    // uvicorn-style foreground: block until the process is signalled
    Thread.currentThread().join()
  }

  private val DemoGeoNames = Seq(
    "quezon city", "makati", "pasig", "taguig", "cebu city", "davao city")
  private val DemoSvcNames = Seq("quezon city", "makati", "pasig")

  /** Offline demo dataset — two tickets with messages, an agent, a tag,
    * and a customer point-lookup, enough for every route to return a
    * nonzero envelope with zero network.
    */
  private def demoApi: LiveAgentApi = new FixtureApi(Map(
    "agents" -> Seq(Seq(
      """{"id":"A1","name":"Alice Agent","email":"alice@brand.ph"}""")),
    "tags" -> Seq(Seq("""{"id":"g1","name":"vip"}""")),
    "tickets" -> Seq(Seq(
      """{"id":"T1","subject":"inspection request","tags":["vip"],"owner_name":"Cara","agentid":"A1","date_created":"2025-01-02 09:00:00","date_changed":"2025-01-02 09:30:00"}""",
      """{"id":"T2","subject":"quotation follow-up","tags":[],"owner_name":"Dan","agentid":"A1","date_created":"2025-01-03 10:00:00","date_changed":"2025-01-03 11:00:00"}""")),
    "tickets/T1/messages" -> Seq(Seq(
      """{"id":"g1","userid":"C7","datecreated":"2025-01-02 09:01:00","messages":[{"mid":"m1","message":"I want an inspection in quezon city","datecreated":"2025-01-02 09:01:00"}]}""")),
    "tickets/T2/messages" -> Seq(Seq(
      """{"id":"g2","userid":"A1","datecreated":"2025-01-03 10:05:00","messages":[{"mid":"m2","message":"quotation sent, see Ref: QU123","datecreated":"2025-01-03 10:05:00"}]}""")),
    "users/C7" -> Seq(Seq("""{"name":"Cara","email":"cara@mail.ph"}"""))))
}
