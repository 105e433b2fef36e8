package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Warehouse
import graft.sources.LiveAgentSource

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val small = Sizes(tickets = 24, months = 1, windows = 2, newPerWindow = 2,
    changeShare = 0.1, correctionShare = 0.5)

  /** Every byte the source can serve for a dataset, in a fixed order. */
  private def dump(ds: Dataset): String = {
    val api = new BenchApi(ds)
    def all(endpoint: String, filters: Map[String, String] = Map.empty): Seq[String] =
      Iterator.from(1).map(p => api.fetchPage(endpoint, p, 7, filters).toOption.get)
        .takeWhile(_.nonEmpty).flatten.toSeq
    val base = all("agents") ++ all("tags") ++ all("tickets") ++
      ds.initial.flatMap(t => all(s"tickets/${t.id}/messages")) ++
      ds.customers.flatMap(c => all(s"users/${c.id}"))
    val windows = ds.windows.flatMap { w =>
      api.advance(w)
      all("tickets", LiveAgentSource.windowFilters("date_changed", Gen.fmt(w.start), Gen.fmt(w.end))) ++
        w.tickets.flatMap(t => all(s"tickets/${t.id}/messages"))
    }
    (base ++ windows ++ ds.gazetteer.map(_.toString) ++ ds.serviceable).mkString("\n")
  }

  test("the same seed produces byte-identical inputs; another seed does not") {
    val a = dump(Gen.generate(42, small))
    assert(a == dump(Gen.generate(42, small)))
    assert(a != dump(Gen.generate(43, small)))
    assert(a.length > 10000)
  }

  test("the stub API serves exactly the tickets inside a (start, end] window, page by page") {
    val ds = Gen.generate(7, Sizes(tickets = 450, months = 2, windows = 3, newPerWindow = 4,
      changeShare = 0.02, correctionShare = 0.25))
    val api = new BenchApi(ds)
    def ids(field: String, s: LocalDateTime, e: LocalDateTime): Seq[String] =
      Iterator.from(1).map(p => api.fetchPage("tickets", p, LiveAgentSource.PageSize,
        LiveAgentSource.windowFilters(field, Gen.fmt(s), Gen.fmt(e))).toOption.get)
        .takeWhile(_.nonEmpty).flatten.map(j => "\"id\":\"(T\\d+)\"".r.findFirstMatchIn(j).get.group(1))
        .toSeq
    val jan = LocalDateTime.of(2025, 1, 1, 0, 0)
    val feb = LocalDateTime.of(2025, 2, 1, 0, 0)
    val inJan = ids("date_created", jan, feb.minusSeconds(1))
    assert(inJan.nonEmpty && inJan.size < ds.initial.size)
    assert(inJan == ds.initial.filter(t => t.created.isAfter(jan) && t.created.isBefore(feb))
      .map(_.id).sorted)
    assert(inJan.size > LiveAgentSource.PageSize, "the window must span several pages")

    // boundaries: start is exclusive, end inclusive
    val t = ds.initial.minBy(_.created)
    assert(!ids("date_created", t.created, t.created.plusSeconds(1)).contains(t.id))
    assert(ids("date_created", t.created.minusSeconds(1), t.created).contains(t.id))

    // a window of date_changed serves the tickets the source changed in it
    val w = ds.windows.head
    assert(ids("date_changed", w.start, w.end).isEmpty)
    api.advance(w)
    assert(ids("date_changed", w.start, w.end) == w.tickets.map(_.id).sorted)
  }

  test("every generated window fits the pagination cap") {
    val ds = Gen.generate(1, small)
    Gen.checkWindowCaps(ds)
    val over = ds.copy(initial = Vector.fill(LiveAgentSource.MaxPages * LiveAgentSource.PageSize + 1)(
      ds.initial.head))
    intercept[IllegalArgumentException](Gen.checkWindowCaps(over))
  }

  test("the serviceability oracle follows normalize_location and the ratio threshold") {
    val flag = Expected.serviceableFlag(Seq("quezon city", "san isidro"))
    assert(flag("Quezon City") == "Yes")
    assert(flag("San  Isidro!") == "Yes")
    assert(flag("san isidrox") == "Yes") // ratio 90.9
    assert(flag("makati") == "No")
    assert(flag("") == "No")
  }

  test("the LLM stub returns the last planted address") {
    val llm = new BenchLlm(0)
    val text = "sender: client\nmessage: hi. Address: San Isidro.\n\n" +
      "sender: client\nmessage: Correction, sorry. Address: Bagong Silang."
    assert(llm.extract(text).fields("location") == "Bagong Silang")
    assert(llm.extract("sender: agent\nmessage: hello").fields("location") == "")
  }

  private var spark: SparkSession = _
  private lazy val scratch: Path =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "spec")

  override def beforeAll(): Unit = spark = Main.session(scratch.resolve("session"))

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    Main.rmrf(scratch)
  }

  test("the output check passes on a real run and fires on a corrupted warehouse") {
    val ds = Gen.generate(3, small)
    val dir = scratch.resolve("warehouse")
    val wh = new Warehouse(spark, dir.toString)
    val api = new BenchApi(ds)
    val lc = new Lifecycle(spark, wh, api, new BenchLlm(0), ds, new Tracer(spark, false))
    val flag = Expected.serviceableFlag(ds.serviceable)
    var e = Expected.backfill(ds, flag, lc.backfill(ds.initial.size))
    var current = ds.initial.map(t => t.id -> t).toMap
    for (w <- ds.windows) {
      api.advance(w)
      current = current ++ w.tickets.map(t => t.id -> t)
      e = Expected.window(e, current, w, flag, lc.window(w))
    }
    assert(lc.ops.forall(_.error.isEmpty), lc.ops.filter(_.error.nonEmpty))
    val clean = Expected.check(wh, e, lc.lastOp)
    assert(clean.forall(_.check == Expected.StaleFlag), clean)
    def checks = Expected.check(wh, e, lc.lastOp).map(_.check).toSet

    val tickets = wh.read("tickets").cache()
    val dropped = tickets.orderBy(col("id")).limit(1).select(col("id")).head().get(0)
    wh.overwrite("tickets", tickets.where(col("id") =!= dropped))
    assert(checks.contains("tickets.latest_version"))
    wh.overwrite("tickets", tickets.unionByName(tickets.limit(1)))
    assert(checks.contains("tickets.unique_id"))
    wh.overwrite("tickets", tickets)
    assert(!checks.exists(_.startsWith("tickets.")))

    val convo = wh.read("convo_analysis").cache()
    wh.overwrite("convo_analysis", convo.unionByName(convo.limit(1)))
    assert(checks.contains("convo_analysis.one_row_per_ticket"))

    val messages = wh.read("messages").cache()
    wh.overwrite("messages", messages.limit(messages.count().toInt - 1))
    assert(checks.contains("messages.rows"))
  }
}
