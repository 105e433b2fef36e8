package perfbench

import java.time.LocalDateTime
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport
import graft.llm.{LlmGateway, LlmResult}
import graft.sources.{ApiError, LiveAgentApi}

/** The source system behind the benchmark's `LiveAgentApi`: the current
  * version of every ticket, advanced one incremental window at a time.
  * Unlike the repo's `FixtureApi` it honours the `_filters` window, so each
  * window is served only the tickets whose filtered field falls inside it.
  */
final class BenchApi(ds: Dataset) extends LiveAgentApi {
  import BenchApi._

  private val customers = ds.customerById
  private var current: Map[String, Ticket] = Map.empty
  private var cache: Option[(Map[String, String], Vector[Ticket])] = None

  reset()

  /** Back to the initial (backfill) state of the source. */
  def reset(): Unit = synchronized {
    current = ds.initial.map(t => t.id -> t).toMap
    cache = None
  }

  /** Apply the writes the source system makes inside window `w`. */
  def advance(w: Window): Unit = synchronized {
    current = current ++ w.tickets.map(t => t.id -> t)
    cache = None
  }

  def ticket(id: String): Option[Ticket] = synchronized(current.get(id))

  /** JSON bytes of every record the source holds: agents, tags, tickets,
    * their message groups and their customers — the user bytes a full
    * warehouse stands for.
    */
  def heldBytes: Long = synchronized {
    val ts = current.values
    ds.agents.map(agentJson(_).length.toLong).sum + ds.tags.map(tagJson(_).length.toLong).sum +
      ts.iterator.map(t => ticketJson(t, customers).length.toLong +
        t.groups.map(groupJson(_).length.toLong).sum).sum +
      ts.map(_.customer).toSet.iterator.map((c: String) => userJson(customers(c)).length.toLong).sum
  }

  /** Tickets matching a `_filters` predicate, in id order. Pagination asks
    * for the same filter page after page, so the last selection is kept.
    */
  def filtered(filters: Map[String, String]): Vector[Ticket] = synchronized {
    if (!cache.exists(_._1 == filters)) {
      val sel = filters.get("_filters") match {
        case None => current.values.toVector
        case Some(f) =>
          val (field, start, end) = parseFilter(f)
          val get: Ticket => LocalDateTime = field match {
            case "date_created" => _.created
            case "date_changed" => _.changed
            case other => throw new IllegalArgumentException(s"unsupported filter field $other")
          }
          current.values.toVector.filter(t => Gen.inWindow(get(t), start, end))
      }
      cache = Some((filters, sel.sortBy(_.id)))
    }
    cache.get._2
  }

  override def fetchPage(endpoint: String, page: Int, perPage: Int,
                         filters: Map[String, String]): Either[ApiError, Seq[String]] = {
    def slice[A](xs: Seq[A]): Seq[A] = xs.slice((page - 1) * perPage, page * perPage)
    endpoint match {
      case "agents" => Right(slice(ds.agents).map(agentJson))
      case "tags" => Right(slice(ds.tags).map(tagJson))
      case "tickets" => Right(slice(filtered(filters)).map(ticketJson(_, customers)))
      case MessagesPath(id) => ticket(id) match {
        case Some(t) => Right(slice(t.groups).map(groupJson))
        case None => Left(ApiError(404, s"no ticket $id"))
      }
      case UserPath(id) => customers.get(id) match {
        case Some(c) => Right(slice(Seq(c)).map(userJson))
        case None => Left(ApiError(404, s"no user $id"))
      }
      case other => Left(ApiError(404, s"no such endpoint: $other"))
    }
  }
}

object BenchApi {
  private val MessagesPath = "tickets/([^/]+)/messages".r
  private val UserPath = "users/([^/]+)".r
  private val FilterRe =
    """\[\["(\w+)","D>","([^"]+)"\],\["(\w+)","D<=","([^"]+)"\]\]""".r

  /** (field, start, end) of a `LiveAgentSource.windowFilters` value. */
  def parseFilter(f: String): (String, LocalDateTime, LocalDateTime) = f match {
    case FilterRe(field, start, field2, end) if field == field2 =>
      (field, parseTs(start), parseTs(end))
    case _ => throw new IllegalArgumentException(s"unparseable _filters: $f")
  }

  private def parseTs(s: String): LocalDateTime =
    if (s.length == 10) java.time.LocalDate.parse(s).atStartOfDay()
    else LocalDateTime.parse(s, Gen.Fmt)

  def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  def agentJson(a: Agent): String =
    s"""{"id":${jstr(a.id)},"name":${jstr(a.name)},"email":${jstr(a.email)},""" +
      s""""role":"A","last_pswd_change":${jstr(Gen.fmt(a.lastPswdChange))}}"""

  def tagJson(t: Tag): String =
    s"""{"id":${jstr(t.id)},"name":${jstr(t.name)},"color":${jstr(t.color)},"is_public":1}"""

  def ticketJson(t: Ticket, customers: Map[String, Customer]): String = {
    val c = customers(t.customer)
    val resolved = if (t.status == "R" || t.status == "C") jstr(Gen.fmt(t.changed)) else "null"
    s"""{"id":${jstr(t.id)},"owner_contactid":${jstr(c.id)},"owner_email":${jstr(c.email)},""" +
      s""""owner_name":${jstr(c.name)},"departmentid":"dep1","agentid":${jstr(t.agentId)},""" +
      s""""status":${jstr(t.status)},"tags":[${t.tags.map(jstr).mkString(",")}],""" +
      s""""code":${jstr(t.code)},"channel_type":"E",""" +
      s""""date_created":${jstr(Gen.fmt(t.created))},"date_changed":${jstr(Gen.fmt(t.changed))},""" +
      s""""date_resolved":$resolved,"last_activity":${jstr(Gen.fmt(t.changed))},""" +
      s""""subject":${jstr(t.subject)},"custom_fields":[{"code":"unit","value":"split"}]}"""
  }

  def groupJson(g: Group): String =
    s"""{"id":${jstr(g.gid)},"userid":${jstr(g.userid)},"type":"M",""" +
      s""""datecreated":${jstr(Gen.fmt(g.datecreated))},"messages":[""" +
      g.msgs.map(m => s"""{"id":${jstr(m.mid)},"message":${jstr(m.text)},""" +
        s""""datecreated":${jstr(Gen.fmt(m.datecreated))},"type":"T"}""").mkString(",") + "]}"

  def userJson(c: Customer): String =
    s"""{"id":${jstr(c.id)},"name":${jstr(c.name)},"email":${jstr(c.email)},""" +
      s""""role":"R","avatar_url":"https://avatars.example/${c.id}.png"}"""
}

/** Deterministic `LlmGateway` stub: returns the location the generator
  * planted in the conversation (the last "Address: …" a customer wrote, so
  * a correction wins), derives the other fields from the text, and waits a
  * fixed time per call to stand in for the external model call.
  */
final class BenchLlm(delayNanos: Long) extends LlmGateway {
  override def extract(conversation: String): LlmResult = {
    BenchLlm.pause(delayNanos)
    val loc = BenchLlm.AddressRe.findAllMatchIn(conversation).map(_.group(1)).toSeq
      .lastOption.getOrElse("")
    val toks = conversation.split("\\s+").count(_.nonEmpty)
    val h = conversation.hashCode & 0x7fffffff
    val category = if (conversation.contains("inspection")) "inspection"
                   else if (conversation.contains("cleaning")) "cleaning" else "repair"
    LlmResult(Map(
      "service_category" -> category,
      "summary" -> conversation.linesIterator.find(_.startsWith("message: "))
        .map(_.stripPrefix("message: ").take(60)).getOrElse(""),
      "intent_rating" -> (1 + h % 5).toString,
      "engagement_rating" -> (1 + h / 5 % 5).toString,
      "clarity_rating" -> (1 + h / 25 % 5).toString,
      "resolution_rating" -> (1 + h / 125 % 5).toString,
      "sentiment_rating" -> (1 + h / 625 % 5).toString,
      "location" -> loc,
      "schedule_date" -> "",
      "schedule_time" -> "",
      "car" -> "",
      "contact_num" -> "",
      "payment" -> (if (conversation.contains("cash")) "cash" else ""),
      "inspection" -> (if (conversation.contains("inspection")) "yes" else "no"),
      "quotation" -> (if (conversation.contains("quotation")) "yes" else "no")),
      toks.toLong, "bench-stub")
  }
}

object BenchLlm {
  /** Modelled latency of one external model call. The value is also stated
    * in the lifecycle workloads' `why` in BENCHMARK.json.
    */
  val CallDelayNanos: Long = 1000000L

  val AddressRe: scala.util.matching.Regex = """Address: ([A-Za-z ]+)\.""".r

  /** Busy-free wait of `nanos` (park may wake early, so loop to the deadline). */
  def pause(nanos: Long): Unit = if (nanos > 0) {
    val until = System.nanoTime() + nanos
    var left = nanos
    while (left > 0) { LockSupport.parkNanos(left); left = until - System.nanoTime() }
  }
}

/** Process-wide counters for the traced run. Gateway calls run inside Spark
  * tasks on copies of the (serialized) gateway, so counts live in a static
  * object that every copy in this JVM shares.
  */
object Counters {
  val llmCalls = new LongAdder
  val llmNanos = new LongAdder
  val llmFallback = new LongAdder
  def reset(): Unit = Seq(llmCalls, llmNanos, llmFallback).foreach(_.reset())
}

/** Counting wrapper at the `LlmGateway` boundary (traced run only). */
final class TracedLlm(inner: LlmGateway) extends LlmGateway {
  override def extract(conversation: String): LlmResult = {
    val t0 = System.nanoTime()
    val r = inner.extract(conversation)
    Counters.llmNanos.add(System.nanoTime() - t0)
    Counters.llmCalls.increment()
    if (r.model == "fallback_error") Counters.llmFallback.increment()
    r
  }
}

/** Counting wrapper at the `LiveAgentApi` boundary (traced run only):
  * pages, rows, JSON bytes served and time spent fetching. All fetches run
  * on the thread that calls the route.
  */
final class TracedApi(inner: LiveAgentApi) extends LiveAgentApi {
  var pages = 0L
  var rows = 0L
  var bytes = 0L
  var nanos = 0L

  override def fetchPage(endpoint: String, page: Int, perPage: Int,
                         filters: Map[String, String]): Either[ApiError, Seq[String]] = {
    val t0 = System.nanoTime()
    val r = inner.fetchPage(endpoint, page, perPage, filters)
    nanos += System.nanoTime() - t0
    pages += 1
    r.foreach { items => rows += items.size; bytes += items.map(_.length.toLong).sum }
    r
  }
}
