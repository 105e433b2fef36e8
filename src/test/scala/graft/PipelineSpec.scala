package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{FallbackLlmGateway, LlmExtract, LlmGateway, MockLlmGateway}
import graft.operators.Warehouse
import graft.pipeline.{MessageEnrich, Pipelines}
import graft.sources._

/** Mock extraction whose location is the conversation's last
  * `Address: …` line, so a later message correcting the address wins.
  */
private final class LastAddressLlm extends LlmGateway {
  private val mock = new MockLlmGateway
  override def extract(conversation: String): graft.llm.LlmResult = {
    val r = mock.extract(conversation)
    val loc = "Address: ([a-z ]+)".r.findAllMatchIn(conversation)
      .map(_.group(1).trim).toSeq.lastOption.getOrElse("")
    r.copy(fields = r.fields.updated("location", loc))
  }
}

/** Gateway calls per tag, JVM-wide: tasks call a deserialized copy of the
  * gateway, so the count cannot live on the instance.
  */
private object GatewayCalls {
  private val calls = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
  def hit(tag: String): Int =
    calls.computeIfAbsent(tag, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
  def of(tag: String): Int = Option(calls.get(tag)).map(_.get).getOrElse(0)
}

/** Counts its calls and answers differently on every one, as a model
  * sampled at temperature 0.8 does: the summary names the call.
  */
private final class SampledLlm(tag: String) extends LlmGateway {
  private val mock = new MockLlmGateway
  override def extract(conversation: String): graft.llm.LlmResult = {
    val n = GatewayCalls.hit(tag)
    val r = mock.extract(conversation)
    r.copy(fields = r.fields.updated("summary", s"answer $n"))
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Every route runs interpreted below the input gate, and none may write
    * a session conf on the way.
    */
  override def withFixture(test: NoArgTest) = {
    val conf = spark.conf.getAll
    val outcome = super.withFixture(test)
    assert(spark.conf.getAll == conf, s"${test.name} changed the session conf")
    outcome
  }

  private def fixtureApi = new FixtureApi(Map(
    "tickets" -> Seq(
      Seq("""{"id":"T1","subject":"s1","tags":["a","b"],"date_created":"2024-01-01 02:00:00"}""",
          """{"id":"T2","subject":"s2","tags":[],"date_created":"2024-01-02 03:00:00"}"""),
      Seq("""{"id":"T3","subject":"s3","tags":["c"],"date_created":"2024-01-03 04:00:00"}""")),
    "agents" -> Seq(Seq("""{"id":"A1","name":"Alice"}""", """{"id":"A2","name":"Bob"}""")),
    "tags"   -> Seq(Seq("""{"id":"g1","name":"vip"}"""))))

  test("S1 pagination: loops pages, stops on empty; S4 tags→CSV") {
    val df = LiveAgentSource.json(spark, LiveAgentSource.fetchPages(fixtureApi, "tickets"))
    assert(df.count() == 3)
    val processed = LiveAgentSource.processTickets(df)
    val tags = processed.orderBy("id").select("tags").as[String].collect().toSeq
    assert(tags == Seq("a,b", "", "c"))
  }

  test("S1 pagination: a source past the page cap raises instead of landing the first pages") {
    val filters = LiveAgentSource.windowFilters("date_changed", "2024-01-01", "2024-01-02")
    // two pages fit a cap of two; the empty third page ends them
    assert(LiveAgentSource.fetchPages(fixtureApi, "tickets", filters, maxPages = 2).size == 3)
    val e = intercept[IllegalStateException](
      LiveAgentSource.fetchPages(fixtureApi, "tickets", filters, maxPages = 1))
    assert(e.getMessage.contains("tickets") && e.getMessage.contains("date_changed") &&
      e.getMessage.contains("cap of 1 pages"), e.getMessage)
    val messages = new FixtureApi(Map("tickets/T1/messages" -> Seq(
      Seq("""{"id":"g1"}"""), Seq("""{"id":"g2"}"""))))
    assert(LiveAgentSource.fetchTicketMessageRows(messages, Seq(TicketRef("T1")),
      maxPagesPerTicket = 2).size == 2)
    val m = intercept[IllegalStateException](LiveAgentSource.fetchTicketMessageRows(
      messages, Seq(TicketRef("T1")), maxPagesPerTicket = 1))
    assert(m.getMessage.contains("tickets/T1/messages") && m.getMessage.contains("cap of 1 pages"))
  }

  test("S6 flatten: group × inner messages, empty group kept (explode_outer)") {
    val groups = Seq(
      ("g1", "T1", Seq(("m1", "hello"), ("m2", "world"))),
      ("g2", "T2", Seq.empty[(String, String)]))
      .toDF("id", "ticket_id", "messages")
      .withColumn("messages", transform(col("messages"),
        m => struct(m.getField("_1").as("mid"), m.getField("_2").as("body"))))
    val flat = LiveAgentSource.flattenMessageGroups(groups)
    assert(flat.count() == 3) // 2 inner + 1 empty-group row
    assert(flat.columns.contains("message_mid") && flat.columns.contains("message_body"))
    val empty = flat.where(col("ticket_id") === "T2").collect().head
    assert(empty.isNullAt(flat.columns.indexOf("message_mid")))
  }

  test("X1 LLM extraction: mock gateway, field whitelist, token count") {
    val convos = Seq(("T1", "please purchase something nice")).toDF("ticket_id", "convo")
    val got = LlmExtract.extract(convos, "ticket_id", "convo", new MockLlmGateway)
    val row = got.collect().head
    assert(got.columns.toSeq == Seq("ticket_id") ++ LlmExtract.DefaultFields ++ Seq("tokens", "model"))
    assert(row.getAs[String]("intent_rating") == "purchase")
    assert(row.getAs[Long]("tokens") == 4L)
    assert(row.getAs[String]("model") == "mock-model")
  }

  test("X4 single-pass metrics: Observation rides the sink job, no second scan") {
    val df = Seq(("a", 1), (null: String, 2), ("c", 3)).toDF("id", "v")
    val (tagged, obs) = Pipelines.observed(df, "id")
    tagged.write.mode("overwrite").format("noop").save() // the one and only job
    val m = obs.get
    assert(m("n_rows") == 3L && m("null_keys") == 1L)
  }

  test("X1 fallback chain: first failure falls through; total failure → sentinel row") {
    class Failing extends LlmGateway {
      var calls = 0
      def extract(c: String) = { calls += 1; sys.error("model down") }
    }
    val primary = new Failing
    // primary fails → secondary answers, marked with its own model name
    val chained = new FallbackLlmGateway(Seq(primary, new MockLlmGateway))
    val ok = chained.extract("please purchase something nice")
    assert(primary.calls == 1 && ok.model == "mock-model")

    // every delegate fails → reference sentinel: null fields,
    // model=fallback_error, tokens counted on the prompt
    val allFail = new FallbackLlmGateway(Seq(new Failing, new Failing))
    val convos = Seq(("T1", "three word convo")).toDF("ticket_id", "convo")
    val row = LlmExtract.extract(convos, "ticket_id", "convo", allFail).collect().head
    assert(row.getAs[String]("model") == "fallback_error")
    assert(row.getAs[Long]("tokens") == 3L)
    LlmExtract.DefaultFields.foreach(f =>
      assert(row.isNullAt(row.fieldIndex(f)), s"$f should be null"))
  }

  test("full lifecycle: dims → tickets upsert → convo analysis → metrics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val wh = new Warehouse(spark, dir)
    val p = new Pipelines(spark, wh, fixtureApi, new MockLlmGateway)

    assert(p.refreshAgents() == 2)
    assert(p.refreshTags() == 1)
    val n = p.processTickets("date_created", "2024-01-01", "2024-02-01",
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), Seq("subject", "tags"))
    assert(n == 3 && wh.read("tickets").count() == 3)

    // second run is an upsert: same keys, no duplicates
    p.processTickets("date_created", "2024-01-01", "2024-02-01",
      java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), Seq("subject", "tags"))
    assert(wh.read("tickets").count() == 3)

    val messages = Seq(
      ("T1", "client", "I am in quezon city area", "2024-01-01 10:00:00"),
      ("T1", "agent", "noted, purchase confirmed", "2024-01-01 10:05:00"))
      .toDF("ticket_id", "sender_type", "message", "datecreated")
      .withColumn("datecreated", to_timestamp(col("datecreated")))
    val ref = Seq(Tuple1("quezon city"), Tuple1("makati")).toDF("ref_name")
    val svc = Seq(Tuple1("quezon city")).toDF("svc_name")
    val cnt = p.processConvos(messages, ref, "ref_name", svc, "svc_name",
      updateCols = graft.pipeline.ColumnContracts.ConvoUpdateColumns.filter(Seq("summary","intent_rating","location").contains),
      runTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(cnt == 1)
    assert(wh.read("convo_analysis").count() == 1)
    assert(wh.read("convo_analysis_history").count() == 1)
    // post-processing parity (Extractor.py:293-298 + extraction_helpers
    // convert_schedule_fields): geocode working columns dropped, address +
    // run stamp kept, schedule_date typed as a datetime
    val convoCols = wh.read("convo_analysis").columns.toSet
    assert(!convoCols.contains("score") && !convoCols.contains("accepted"))
    assert(convoCols.contains("address") && convoCols.contains("date_extracted"))
    assert(wh.read("convo_analysis").schema("schedule_date").dataType.typeName
      .startsWith("timestamp"))

    val (newK, updK) = p.metrics(Seq("T1", "T9").toDF("id"), "tickets", "id")
    assert(newK == 1 && updK == 1)
  }

  test("§3.1 tickets MERGE is partition-scoped: untouched day-partitions carry over inode-identical; scan prunes; pre-partitioning table migrates once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe-part").toString
    val wh = new Warehouse(spark, dir)
    val pcol = Pipelines.TicketsPartitionCol

    // seed a LEGACY standing table the old whole-table path would have
    // written: unpartitioned, no partition column — the migration probe
    val legacyApi = new FixtureApi(Map("tickets" -> Seq(Seq(
      """{"id":"T1","subject":"s1","tags":["a"],"date_created":"2024-01-01 02:00:00"}""",
      """{"id":"T2","subject":"s2","tags":[],"date_created":"2024-01-02 03:00:00"}"""))))
    val legacy = LiveAgentSource.processTickets(
      LiveAgentSource.json(spark, LiveAgentSource.fetchPages(legacyApi, "tickets")))
    wh.overwrite("tickets", legacy)
    assert(!wh.read("tickets").columns.contains(pcol))

    // first lifecycle batch: migrates the layout once, then scopes
    val p = new Pipelines(spark, wh, legacyApi, new MockLlmGateway)
    p.processTickets("date_created", "2024-01-01", "2024-02-01",
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), Seq("subject", "tags"))
    assert(wh.read("tickets").columns.contains(pcol))
    assert(wh.read("tickets").count() == 2)
    val snapBefore = wh.snapshots("tickets").last
    val dayOf = wh.read("tickets").select(col("id"), col(pcol).cast("string"))
      .as[(String, String)].collect().toMap
    assert(dayOf("T1") != dayOf("T2"), "fixture days must differ")

    // second batch touches ONLY T2's day (an update + an insert that day)
    val day2Api = new FixtureApi(Map("tickets" -> Seq(Seq(
      """{"id":"T2","subject":"s2-upd","tags":["x"],"date_created":"2024-01-02 03:00:00"}""",
      """{"id":"T9","subject":"s9","tags":[],"date_created":"2024-01-02 09:00:00"}"""))))
    new Pipelines(spark, wh, day2Api, new MockLlmGateway)
      .processTickets("date_created", "2024-01-01", "2024-02-01",
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), Seq("subject", "tags"))

    // merge semantics held: T1 untouched, T2 updated, T9 inserted
    val got = wh.read("tickets").select("id", "subject")
      .as[(String, String)].collect().toMap
    assert(got == Map("T1" -> "s1", "T2" -> "s2-upd", "T9" -> "s9"))

    // T1's day-partition carried over by HARDLINK (same inode — the
    // whole-table path would have rewritten every row)
    val snapAfter = wh.snapshots("tickets").last
    assert(snapAfter != snapBefore)
    val untouched = wh.dataFiles("tickets")
      .filter(_.startsWith(s"$pcol=${dayOf("T1")}"))
    assert(untouched.nonEmpty, "T1's partition must exist")
    untouched.foreach { rel =>
      assert(java.nio.file.Files.isSameFile(
        java.nio.file.Paths.get(dir, "tickets", snapBefore, rel),
        java.nio.file.Paths.get(dir, "tickets", snapAfter, rel)),
        s"$rel was rewritten — the lifecycle merge is not partition-scoped")
    }

    // and the layout prunes: a day predicate reaches the scan as a
    // PARTITION filter (directory pruning — what the scoped MERGE's
    // target read rides on every batch)
    val q = wh.read("tickets").where(col(pcol) === dayOf("T2"))
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty,
      "day predicate must prune partitions on the tickets table")
  }

  /** Driver-side API wrapper recording every endpoint hit — lets the specs
    * assert WHICH fetches happened (cache-miss discipline), not just the
    * resulting frames.
    */
  private class CountingApi(delegate: LiveAgentApi) extends LiveAgentApi {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    override def fetchPage(endpoint: String, page: Int, perPage: Int,
                           filters: Map[String, String]) = {
      calls += s"$endpoint#$page"
      delegate.fetchPage(endpoint, page, perPage, filters)
    }
  }

  test("S5 keyed fetch: pages per ticket, cache hit beats fallback, failed ticket skipped") {
    val api = new CountingApi(new FixtureApi(Map(
      "tickets/T1/messages" -> Seq(
        Seq("""{"id":"g1","userid":"U1","messages":[{"mid":"m1","message":"hello"}]}"""),
        Seq("""{"id":"g2","userid":"A1","messages":[{"mid":"m2","message":"hi"}]}""")),
      "tickets/T3/messages" -> Seq(
        Seq("""{"id":"g3","userid":"U2","messages":[{"mid":"m3","message":"yo"}]}""")))))
    val cache = Seq(("T1", "Cache Owner", "A9")).toDF("ticket_id", "owner_name", "agentid")
    val groups = LiveAgentSource.ticketMessageGroups(spark,
      LiveAgentSource.fetchTicketMessageRows(api,
        Seq(TicketRef("T1", agentId = Some("FBA"), ownerName = Some("FB Owner")),
            TicketRef("T2", agentId = Some("FBA2"), ownerName = Some("FB2")), // 404 → skipped
            TicketRef("T3", agentId = Some("A3"), ownerName = None))),
      metadataCache = Some(cache))
    assert(groups.count() == 3) // 2 T1 groups + 1 T3 group; T2 dropped, batch survives
    // cache hit replaces metadata wholesale (Ticket.py:96-106)
    val t1 = groups.where(col("ticket_id") === "T1").select("owner_name", "agentid")
      .distinct().as[(String, String)].collect().toSeq
    assert(t1 == Seq(("Cache Owner", "A9")))
    // cache miss → per-ticket fallback args (None → NULL)
    val t3 = groups.where(col("ticket_id") === "T3").select("owner_name", "agentid")
      .as[(String, String)].collect().head
    assert(t3 == ((null, "A3")))
    // pagination: T1 paged until empty (pages 1,2,3-empty), T3 until empty (1,2-empty)
    assert(api.calls.count(_.startsWith("tickets/T1/messages")) == 3)
    assert(api.calls.count(_.startsWith("tickets/T3/messages")) == 2)
  }

  test("S5 keyed fetch: group fields clashing with the envelope lose to it") {
    // the group object claims its own ticket_id/owner_name — base_info
    // semantics: the envelope's values win, no ambiguous-column failure
    val api = new FixtureApi(Map(
      "tickets/T9/messages" -> Seq(Seq(
        """{"id":"g1","ticket_id":"SPOOF","owner_name":"SPOOF","userid":"U1","messages":[]}"""))))
    val groups = LiveAgentSource.ticketMessageGroups(spark,
      LiveAgentSource.fetchTicketMessageRows(api,
        Seq(TicketRef("T9", agentId = Some("A1"), ownerName = Some("Real Owner")))))
    val row = groups.select("ticket_id", "owner_name").as[(String, String)]
      .collect().head
    assert(row == (("T9", "Real Owner")))
  }

  test("X3 user point fetch: resolved rows only, absent fields NULL") {
    val api = new FixtureApi(Map(
      "users/U1" -> Seq(Seq("""{"name":"  ","email":"u1@x.ph","role":"V"}""")),
      "users/U2" -> Seq(Seq("""{"name":"Uma","email":"u2@x.ph"}"""))))
    val users = LiveAgentSource.fetchUsers(spark, api, Seq("U1", "U2", "U404"))
    assert(users.columns.toSeq == Seq("id", "name", "email", "role", "avatar_url"))
    assert(users.count() == 2) // U404 failed lookup → skipped, not fatal
    val u2 = users.where(col("id") === "U2").collect().head
    assert(u2.getAs[String]("role") == null && u2.getAs[String]("avatar_url") == null)
  }

  test("X3+J11+J2 refreshUsers: only cache misses fetched, J2 name resolution, idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-users").toString
    val wh = new Warehouse(spark, dir)
    val api = new CountingApi(new FixtureApi(Map(
      "users/U2" -> Seq(Seq("""{"name":" ","email":"u2@x.ph","role":"V"}""")))))
    val p = new Pipelines(spark, wh, api, new MockLlmGateway)
    wh.overwrite("users", Seq(("U1", "Known", "u1@x.ph", null: String, null: String))
      .toDF("id", "name", "email", "role", "avatar_url"))
    val agents = Seq(("A1", "Alice")).toDF("id", "name")
    val flat = Seq(
      ("A1", "A1"), // agent-authored → covered by agents dim, no fetch
      ("U1", "A1"), // already in users table → no fetch
      ("U2", "A1"), // genuine miss → fetched
      (null: String, "A1")) // NULL id never fetched
      .toDF("userid", "agentid")
    assert(p.refreshUsers(flat, agents) == 1)
    // exactly one point fetch: the miss (J11 anti-join against BOTH caches)
    assert(api.calls.toSeq == Seq("users/U2#1"))
    // J2: blank name → email
    val u2 = wh.read("users").where(col("id") === "U2").collect().head
    assert(u2.getAs[String]("name") == "u2@x.ph")
    assert(wh.read("users").count() == 2)
    // second pass: U2 now cached → zero fetches (reference preload semantics)
    assert(p.refreshUsers(flat, agents) == 0L)
    assert(api.calls.size == 1)
  }

  test("X3 refreshUsers: the maxPointFetches guard fires before any point fetch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-users-guard").toString
    val wh = new Warehouse(spark, dir)
    val api = new CountingApi(new FixtureApi(Map(
      "users/U1" -> Seq(Seq("""{"name":"Uno","email":"u1@x.ph"}""")),
      "users/U2" -> Seq(Seq("""{"name":"Dos","email":"u2@x.ph"}""")),
      "users/U3" -> Seq(Seq("""{"name":"Tres","email":"u3@x.ph"}""")))))
    val p = new Pipelines(spark, wh, api, new MockLlmGateway)
    val agents = Seq(("A1", "Alice")).toDF("id", "name")
    val flat = Seq(("U1", "A1"), ("U2", "A1"), ("U3", "A1")).toDF("userid", "agentid")
    val e = intercept[IllegalArgumentException](p.refreshUsers(flat, agents, maxPointFetches = 2))
    assert(e.getMessage.contains("maxPointFetches"))
    assert(api.calls.isEmpty, "the guard must fire before any point fetch")
    assert(!wh.exists("users"))
    // exactly at the bound: every miss fetched
    assert(p.refreshUsers(flat, agents, maxPointFetches = 3) == 3)
    assert(api.calls.size == 3)
  }

  test("§3.1 end-to-end: recent keys → keyed fetch → flatten → enrich → append") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val wh = new Warehouse(spark, dir)
    val api = new CountingApi(new FixtureApi(Map(
      "agents" -> Seq(Seq("""{"id":"A1","name":"Alice"}""", """{"id":"55","name":"Raw Special"}""")),
      "tickets/T1/messages" -> Seq(Seq(
        """{"id":"g1","userid":"A1","messages":[{"mid":"m1","message":"Ref: ABC123 done"}]}""",
        """{"id":"g2","userid":"C7","messages":[{"mid":"m2","message":"client asks"}]}""",
        """{"id":"g3","userid":"55","messages":[{"mid":"m3","message":"auto"}]}""")),
      "users/C7" -> Seq(Seq("""{"name":"Cara","email":"c@x.ph"}""")))))
    val p = new Pipelines(spark, wh, api, new MockLlmGateway,
      ids = MessageEnrich.Ids("sys00", "55", "BrandCo"))
    p.refreshAgents()
    wh.overwrite("tickets", Seq(("T1", "Owen Owner", "A1"))
      .toDF("id", "owner_name", "agentid"))
    assert(p.processTicketMessages(Seq(TicketRef("T1"))) == 3)

    val msgs = wh.read("messages")
    // ticket metadata merged from the warehouse cache, sender/receiver CASE applied
    val bySender = msgs.select("message_mid", "sender_name", "sender_type",
        "receiver_name", "receiver_type", "agent_name")
      .as[(String, String, String, String, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(bySender("m1") == (("m1", "Alice", "agent", "Owen Owner", "client", "Alice")))
    assert(bySender("m2") == (("m2", "Owen Owner", "client", "Alice", "agent", "Alice")))
    // magic id wins over its agents-dimension row (precedence parity)
    assert(bySender("m3") == (("m3", "BrandCo", "system", "Owen Owner", "client", "Alice")))
    // the client author was point-fetched into the users dimension
    assert(api.calls.toSeq.contains("users/C7#1"))
    assert(wh.read("users").where(col("id") === "C7").count() == 1)
    // F1 reference-code extraction rode along; the body keeps its plain
    // name (Ticket.py:174), non-matching rows get the sentinel
    assert(msgs.where(col("message").contains("ABC123"))
      .select("reference_code").as[String].collect().head == "ABC123")
    assert(msgs.where(col("message_mid") === "m2")
      .select("reference_code").as[String].collect().head ==
      graft.functions.TextFns.NoReferenceCode)
  }

  test("enrich: duplicate agent-dim ids never fan out messages") {
    val flat = Seq(("A1", "A1", "Own")).toDF("userid", "agentid", "owner_name")
    val agents = Seq(("A1", "Alice"), ("A1", "Alice2")).toDF("id", "name")
    val got = graft.pipeline.MessageEnrich.enrich(flat, agents,
      graft.pipeline.MessageEnrich.Ids("s", "sp", "B"))
    // dict-cache semantics: one row per agent id, so one output row
    assert(got.count() == 1)
    assert(got.select("sender_type").as[String].collect().head == "agent")
  }

  test("messages append: duplicate-on-rerun parity default; dedupe flag drops re-deliveries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupe").toString
    val wh = new Warehouse(spark, dir)
    val p = new Pipelines(spark, wh, fixtureApi, new MockLlmGateway)
    val groups = Seq(("g1", "T1", Seq(("m1", "hello"), ("m1", "hello"), ("m2", "hi"))))
      .toDF("id", "ticket_id", "messages")
      .withColumn("messages", transform(col("messages"),
        m => struct(m.getField("_1").as("id"), m.getField("_2").as("message"))))
    // reference-exact default: re-runs append duplicates (§2.8)
    assert(p.processMessages(groups) == 3)
    assert(p.processMessages(groups) == 3)
    assert(wh.read("messages").count() == 6)
    // opt-in dedupe: within-batch re-delivery collapsed, standing ids skipped
    assert(p.processMessages(groups, dedupe = true) == 0)
    val fresh = new Pipelines(spark,
      new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft-dedupe2").toString),
      fixtureApi, new MockLlmGateway)
    assert(fresh.processMessages(groups, dedupe = true) == 2)
  }

  /** Short call sites (`count at Pipelines.scala:<line>`) of the jobs `body`
    * launches. A job inside a SQL execution takes the execution's call
    * site: AQE launches a query's stage jobs from its own threads, whose
    * stacks name no caller. Any other job takes its result stage's name.
    */
  private def jobSitesDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, String]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .toLeft(j.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    try SparkTestBase.jobsDuring(body)
    finally spark.sparkContext.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
      .map(_.fold(executions.getOrDefault(_, ""), identity))
  }

  test("processMessages counts its batch from the append, without a count job") {
    def batch(ids: String*) = Seq(("g1", "T1", ids.map(id => (id, s"text $id"))))
      .toDF("id", "ticket_id", "messages")
      .withColumn("messages", transform(col("messages"),
        m => struct(m.getField("_1").as("id"), m.getField("_2").as("message"))))
    val groups = batch("m1", "m1", "m2")
    def appended(wh: Warehouse, dedupe: Boolean, g: org.apache.spark.sql.DataFrame = groups): Long = {
      val p = new Pipelines(spark, wh, fixtureApi, new MockLlmGateway)
      val before = if (wh.exists("messages")) wh.read("messages").count() else 0L
      var n = -1L
      val sites = jobSitesDuring { n = p.processMessages(g, dedupe) }
      assert(sites.nonEmpty, "no job carried a call site")
      assert(!sites.exists(_.startsWith("count at Pipelines.scala")),
        s"processMessages re-ran its batch to count it: $sites")
      assert(n == wh.read("messages").count() - before)
      n
    }
    def whAt(tag: String) =
      new Warehouse(spark, java.nio.file.Files.createTempDirectory(s"graft-obs-$tag").toString)

    // linked append: the standing schema already holds every batch column
    val linked = whAt("linked")
    assert(appended(linked, dedupe = false) == 3) // first write: overwrite
    assert(appended(linked, dedupe = false) == 3)
    assert(appended(linked, dedupe = true, batch("m2", "m3", "m3")) == 1)
    assert(appended(linked, dedupe = true) == 0)

    // rewrite append: batch columns the standing table lacks force the
    // unionByName rewrite
    def legacy(tag: String) = {
      val wh = whAt(tag)
      wh.overwrite("messages", Seq(("m0", 7)).toDF("message_id", "legacy"))
      wh
    }
    assert(appended(legacy("rewrite"), dedupe = false) == 3)
    val rewrittenDedupe = legacy("rewrite-dedupe")
    assert(appended(rewrittenDedupe, dedupe = true, batch("m0", "m1", "m1")) == 1)
    assert(rewrittenDedupe.read("messages").columns.contains("legacy"))

    // groups without messages flatten to no message_id; rows still count
    val bare = Seq(("g9", "T9")).toDF("id", "ticket_id")
      .withColumn("messages", array().cast("array<string>"))
    assert(appended(whAt("bare"), dedupe = false, bare) == 1)
  }

  test("metrics: one pass gives the two-join counts for duplicate and null keys") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-metrics").toString)
    wh.overwrite("t", Seq(Some("K1"), Some("K1"), Some("K2"), None).toDF("k"))
    val p = new Pipelines(spark, wh, fixtureApi, new MockLlmGateway)
    val run = Seq(Some("K1"), Some("K1"), Some("K3"), None, Some("K2"), Some("K3")).toDF("k")
    val standing = wh.read("t")
    val twoJoins = (run.join(standing, Seq("k"), "left_anti").count(),
      run.join(standing, Seq("k"), "left_semi").count())
    assert(twoJoins == ((3L, 3L)))
    assert(p.metrics(run, "t", "k") == twoJoins)
  }

  test("rate limiter: enforces launch spacing") {
    val rl = new RateLimiter(2, 30)
    val t0 = System.nanoTime()
    (1 to 4).foreach { _ => rl.acquire(); rl.release() }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 85) // 4 launches, 30ms spacing → ≥ 90ms ideal (slack for timer)
  }

  test("convo re-analysis: a corrected address flips the serviceability flag") {
    val dir = java.nio.file.Files.createTempDirectory("graft-svc").toString
    val wh = new Warehouse(spark, dir)
    val p = new Pipelines(spark, wh, fixtureApi, new LastAddressLlm)
    val ref = Seq("quezon city", "cebu city").toDF("ref_name")
    val svc = Seq("quezon city").toDF("svc_name")
    def msgs(rows: (String, String, String)*) = rows.toDF("ticket_id", "message", "datecreated")
      .withColumn("sender_type", lit("client"))
      .withColumn("datecreated", to_timestamp(col("datecreated")))
    def run(m: org.apache.spark.sql.DataFrame) =
      p.processConvos(m, ref, "ref_name", svc, "svc_name",
        updateCols = graft.pipeline.ColumnContracts.ConvoUpdateColumns)
    def flags = wh.read("convo_analysis").orderBy("ticket_id")
      .select("ticket_id", "location", "is_serviceable").as[(String, String, String)]
      .collect().toSeq

    val first = Seq(("T1", "Address: quezon city", "2024-01-01 10:00:00"),
      ("T2", "Address: quezon city", "2024-01-01 11:00:00"))
    run(msgs(first: _*))
    assert(flags == Seq(("T1", "quezon city", "Yes"), ("T2", "quezon city", "Yes")))
    // second run: T1's customer corrects the address to an unserviced city
    run(msgs(first.take(1) :+ (("T1", "Address: cebu city", "2024-01-02 09:00:00")): _*))
    assert(flags == Seq(("T1", "cebu city", "No"), ("T2", "quezon city", "Yes")))
  }

  test("convo analysis calls the gateway once per conversation; history and current rows agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft-llm-once").toString
    val wh = new Warehouse(spark, dir)
    val tag = s"llm-once-${System.nanoTime()}"
    val p = new Pipelines(spark, wh, fixtureApi, new SampledLlm(tag))
    val ref = Seq("quezon city", "makati").toDF("ref_name")
    val svc = Seq("quezon city").toDF("svc_name")
    val msgs = Seq(
        ("T1", "Address: quezon city", "2024-01-01 10:00:00"),
        ("T1", "thanks", "2024-01-01 10:05:00"),
        ("T2", "Address: makati", "2024-01-01 11:00:00"),
        ("T3", "no address given", "2024-01-01 12:00:00"))
      .toDF("ticket_id", "message", "datecreated")
      .withColumn("sender_type", lit("client"))
      .withColumn("datecreated", to_timestamp(col("datecreated")))
    assert(p.processConvos(msgs, ref, "ref_name", svc, "svc_name",
      graft.pipeline.ColumnContracts.ConvoUpdateColumns) == 3)
    assert(GatewayCalls.of(tag) == 3, s"3 conversations, ${GatewayCalls.of(tag)} gateway calls")
    def rows(t: String) = {
      val df = wh.read(t)
      df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSet
    }
    assert(rows("convo_analysis_history") == rows("convo_analysis"),
      "the history row and the current row must carry the same answer")
    assert(rows("convo_analysis").size == 3)
  }

  test("route pins are released: a full window leaves no persisted RDD behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pins").toString
    val wh = new Warehouse(spark, dir)
    val api = new FixtureApi(Map(
      "agents" -> Seq(Seq("""{"id":"A1","name":"Alice"}""")),
      "tickets" -> Seq(Seq(
        """{"id":"T1","subject":"s1","owner_name":"Owen","agentid":"A1","date_created":"2024-01-01 02:00:00"}""")),
      "tickets/T1/messages" -> Seq(Seq(
        """{"id":"g1","userid":"C7","messages":[{"id":"m1","message":"Address: makati","datecreated":"2024-01-01 10:00:00"}]}""")),
      "users/C7" -> Seq(Seq("""{"name":"Cara","email":"c@x.ph"}"""))))
    val p = new Pipelines(spark, wh, api, new LastAddressLlm)
    // the context tracks persisted RDDs weakly, so RDDs of earlier specs
    // may vanish at any GC: count only the ones created since `before`
    val before = spark.sparkContext.getPersistentRDDs.keySet
    p.refreshAgents()
    val runTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    assert(p.processTickets("date_created", "2024-01-01", "2024-02-01", runTs,
      graft.pipeline.ColumnContracts.TicketsUpdateColumns) == 1)
    assert(p.processTicketMessages(Seq(TicketRef("T1"))) == 1)
    val msgs = wh.read("messages").select(col("ticket_id"), col("sender_type"),
      col("message"), col("message_datecreated").as("datecreated"))
    assert(p.processConvos(msgs, Seq("makati").toDF("ref_name"), "ref_name",
      Seq("makati").toDF("svc_name"), "svc_name",
      graft.pipeline.ColumnContracts.ConvoUpdateColumns, runTs) == 1)
    assert(p.metrics(Seq("T1").toDF("ticket_id"), "convo_analysis", "ticket_id") == ((0L, 1L)))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left behind by the window: $left")
  }

  test("convo MERGE asymmetry: contact_num/payment staged but never updated") {
    import graft.pipeline.ColumnContracts
    // reference fidelity: both fields are in the LLM whitelist…
    assert(ColumnContracts.LlmExpectedFields.contains("contact_num"))
    assert(ColumnContracts.LlmExpectedFields.contains("payment"))
    // …but excluded from the convo MERGE update list
    assert(!ColumnContracts.ConvoUpdateColumns.contains("contact_num"))
    assert(!ColumnContracts.ConvoUpdateColumns.contains("payment"))

    val target = Seq(("T1", "orig-num", "cash", "old summary"))
      .toDF("ticket_id", "contact_num", "payment", "summary")
    val staging = Seq(
      ("T1", "NEW-NUM", "card", "new summary"),
      ("T2", "fresh-num", "gcash", "fresh"))
      .toDF("ticket_id", "contact_num", "payment", "summary")
    val merged = graft.operators.Upsert.merge(target, staging, "ticket_id",
        updateCols = ColumnContracts.ConvoUpdateColumns)
      .orderBy("ticket_id")
      .as[(String, String, String, String)].collect().toSeq
    assert(merged == Seq(
      ("T1", "orig-num", "cash", "new summary"), // summary updated, asymmetric cols kept
      ("T2", "fresh-num", "gcash", "fresh")))    // insert takes all columns
  }

  private def tableRows(wh: Warehouse, t: String): Seq[String] = {
    val df = wh.read(t)
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  test("route counts come from the pin or the write: no count job, the rows that landed") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-counts").toString)
    val runTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    var got = Seq.empty[(String, Any)]
    val sites = jobSitesDuring { got = PipelineWindow.run(spark, wh, PipelineWindow.api("s1"), runTs) }
    assert(sites.nonEmpty, "no job carried a call site")
    assert(!sites.exists(_.startsWith("count at Pipelines.scala")),
      s"a route re-ran its batch to count it: ${sites.filter(_.startsWith("count"))}")
    val tables = Seq("agents", "tags", "tickets", "messages", "convo_analysis")
    assert(got.take(5) == tables.map(t => t -> wh.read(t).count()))
    assert(got.map(_._2) == Seq(1L, 2L, 2L, 3L, 2L, (0L, 2L)))
    // the users refresh inside the messages route counts on its upsert too
    val p = new Pipelines(spark, wh, new FixtureApi(Map(
      "users/C9" -> Seq(Seq("""{"name":"Cy","email":"e@x.ph"}""")))), new LastAddressLlm)
    var fetched = -1L
    val userSites = jobSitesDuring {
      fetched = p.refreshUsers(Seq(("C9", "A1"), ("C7", "A1")).toDF("userid", "agentid"),
        wh.read("agents"))
    }
    assert(!userSites.exists(_.startsWith("count at Pipelines.scala")), userSites)
    assert(fetched == 1L && wh.read("users").count() == 3L)
  }

  test("a second identical window leaves merged and overwritten tables unchanged; appends grow by the batch") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-rerun").toString)
    val runTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val first = PipelineWindow.run(spark, wh, PipelineWindow.api("s1"), runTs)
    val kept = Seq("agents", "tags", "tickets", "users", "convo_analysis")
    val before = kept.map(t => t -> tableRows(wh, t)).toMap
    val appended = Seq("messages", "convo_analysis_history").map(t => t -> wh.read(t).count()).toMap
    assert(PipelineWindow.run(spark, wh, PipelineWindow.api("s1"), runTs) == first)
    kept.foreach(t => assert(tableRows(wh, t) == before(t), s"$t changed on an identical rerun"))
    // append-only by reference parity (§2.8): the rerun lands its batch again
    assert(wh.read("messages").count() == 2 * appended("messages"))
    assert(wh.read("convo_analysis_history").count() == 2 * appended("convo_analysis_history"))
  }
}

/** A small window over every route, shared by the pipeline and the
  * interpreted-scope specs.
  */
private object PipelineWindow {
  def api(subject: String) = new FixtureApi(Map(
    "agents" -> Seq(Seq("""{"id":"A1","name":"Alice"}""")),
    "tags" -> Seq(Seq("""{"id":"g1","name":"vip"}""", """{"id":"g2","name":"new"}""")),
    "tickets" -> Seq(Seq(
      s"""{"id":"T1","subject":"$subject","owner_name":"Owen","agentid":"A1","date_created":"2024-01-01 02:00:00"}""",
      """{"id":"T2","subject":"s2","owner_name":"Ona","agentid":"A1","date_created":"2024-01-03 02:00:00"}""")),
    "tickets/T1/messages" -> Seq(Seq(
      """{"id":"g1","userid":"C7","messages":[{"id":"m1","message":"Address: makati","datecreated":"2024-01-01 10:00:00"}]}""")),
    "tickets/T2/messages" -> Seq(Seq(
      """{"id":"g2","userid":"C8","messages":[{"id":"m2","message":"Address: cebu","datecreated":"2024-01-03 10:00:00"},{"id":"m3","message":"thanks","datecreated":"2024-01-03 10:05:00"}]}""")),
    "users/C7" -> Seq(Seq("""{"name":"Cara","email":"c@x.ph"}""")),
    "users/C8" -> Seq(Seq("""{"name":" ","email":"d@x.ph"}"""))))

  /** One window over `wh`: every route, each result beside its route. */
  def run(spark: org.apache.spark.sql.SparkSession, wh: Warehouse, api: LiveAgentApi,
          runTs: java.sql.Timestamp): Seq[(String, Any)] = {
    import spark.implicits._
    val p = new Pipelines(spark, wh, api, new LastAddressLlm)
    val agents = p.refreshAgents()
    val tags = p.refreshTags()
    val tickets = p.processTickets("date_created", "2024-01-01", "2024-02-01", runTs,
      graft.pipeline.ColumnContracts.TicketsUpdateColumns)
    val messages = p.processTicketMessages(Seq(TicketRef("T1"), TicketRef("T2")))
    // the messages table keeps a rerun's duplicates (§2.8); the convo input
    // is its distinct messages, so an identical rerun analyses the same input
    val msgs = wh.read("messages").dropDuplicates("message_id").select(col("ticket_id"),
      col("sender_type"), col("message"), col("message_datecreated").as("datecreated"))
    val convos = p.processConvos(msgs, Seq("makati", "cebu").toDF("ref_name"), "ref_name",
      Seq("makati").toDF("svc_name"), "svc_name",
      graft.pipeline.ColumnContracts.ConvoUpdateColumns, runTs)
    val metrics = p.metrics(Seq("T1", "T2").toDF("ticket_id"), "convo_analysis", "ticket_id")
    Seq("agents" -> agents, "tags" -> tags, "tickets" -> tickets, "messages" -> messages,
      "convo_analysis" -> convos, "metrics" -> metrics)
  }
}
