package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1–S9 — the paginated REST source re-expressed as a connector
  * (SURVEY.md §2.1). The reference drives LiveAgent API v3 with a page
  * loop, a Semaphore(15) + 0.4 s throttle, and a success/error envelope
  * (`core/LiveAgentClient.py:36-185`); here the HTTP client is behind
  * `LiveAgentApi` so tests inject JSON fixtures, and the engine side turns
  * pages into a DataFrame via spark.read.json.
  *
  * Scale note: ingest parallelism is bounded by the API (150 req/min), not
  * the cluster — fetching stays driver-side by design; the moment data
  * lands in a DataFrame everything downstream is distributed. No DataSource
  * V2 TableProvider ships: page-range input partitions would only pay once
  * a bulk export endpoint allows parallel reads.
  */
trait LiveAgentApi extends Serializable {
  /** One page of raw JSON objects (the unwrapped `data` envelope), or
    * Left(error). Empty page ⇒ pagination stops (reference behavior).
    */
  def fetchPage(endpoint: String, page: Int, perPage: Int,
                filters: Map[String, String]): Either[ApiError, Seq[String]]
}

final case class ApiError(status: Int, message: String)

/** Token-bucket rate limiter mirroring the reference's envelope:
  * `maxConcurrent` in flight, at most one launch per `delayMillis`
  * (Semaphore(15) + 0.4 s ⇒ ~150 req/min, under the API's 180/min cap).
  */
final class RateLimiter(maxConcurrent: Int, delayMillis: Long) {
  private val sem = new java.util.concurrent.Semaphore(maxConcurrent)
  private var lastLaunch = 0L
  def acquire(): Unit = {
    sem.acquire()
    val wait = this.synchronized {
      val now = System.nanoTime() / 1000000
      val w = (lastLaunch + delayMillis) - now
      lastLaunch = math.max(now, lastLaunch + delayMillis)
      w
    }
    if (wait > 0) Thread.sleep(wait)
  }
  def release(): Unit = sem.release()
}

/** JSON-fixture API for tests: endpoint → pages of JSON rows. */
final class FixtureApi(pages: Map[String, Seq[Seq[String]]]) extends LiveAgentApi {
  override def fetchPage(endpoint: String, page: Int, perPage: Int,
                         filters: Map[String, String]): Either[ApiError, Seq[String]] =
    pages.get(endpoint) match {
      case None     => Left(ApiError(404, s"no such endpoint: $endpoint"))
      case Some(ps) => Right(if (page <= ps.size) ps(page - 1) else Seq.empty)
    }
}

/** A recent ticket to fetch messages for: key + the metadata fallback args
  * the reference threads through the per-ticket fetch
  * (`core/Ticket.py:75-107`).
  */
final case class TicketRef(ticketId: String, agentId: Option[String] = None,
                           ownerName: Option[String] = None)

object LiveAgentSource {

  val PageSize = 100 // constants.py:15 MAX_VALUE
  val MaxPages = 100

  /** Minimal JSON string literal (for wrapping fetched objects). */
  private def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `set_filter` analog (utils/tickets_util.py:5-15): the reference
    * serializes the window predicate into the API's `_filters` JSON —
    * predicate pushdown into the source, done in the connector (Catalyst
    * can't see across the HTTP boundary).
    */
  def windowFilters(field: String, start: String, end: String): Map[String, String] =
    Map("_filters" -> s"""[["$field","D>","$start"],["$field","D<=","$end"]]""")

  /** S1 — generic page loop: the rows of the pages fetched until
    * empty/error/maxPages. Driver-side, no Spark work.
    * Raises when the source holds more than `maxPages` pages ([[pages]]).
    */
  def fetchPages(api: LiveAgentApi, endpoint: String,
                 filters: Map[String, String] = Map.empty,
                 limiter: Option[RateLimiter] = None,
                 maxPages: Int = MaxPages): Seq[String] =
    pages(api, endpoint, filters, limiter, maxPages)._1

  /** The rows of `endpoint`'s pages up to the first empty or failed page,
    * and the error that ended them, if any. Page `maxPages + 1` is fetched
    * only to check the cap: rows there raise, because landing the first
    * `maxPages` pages alone would drop the rest with no error.
    */
  private def pages(api: LiveAgentApi, endpoint: String, filters: Map[String, String],
                    limiter: Option[RateLimiter],
                    maxPages: Int): (Seq[String], Option[ApiError]) = {
    def fetch(page: Int) = {
      limiter.foreach(_.acquire())
      try api.fetchPage(endpoint, page, PageSize, filters)
      finally limiter.foreach(_.release())
    }
    @scala.annotation.tailrec
    def loop(page: Int, rows: Vector[String]): (Seq[String], Option[ApiError]) =
      fetch(page) match {
        case Left(e) => (rows, Some(e))
        case Right(items) if items.isEmpty => (rows, None)
        case Right(_) if page > maxPages => throw new IllegalStateException(
          s"$endpoint with filters $filters holds more than the cap of $maxPages " +
            s"pages of $PageSize rows; fetching stopped there would drop the rest")
        case Right(items) => loop(page + 1, rows ++ items)
      }
    loop(1, Vector.empty)
  }

  /** Size of fetched JSON rows, one byte per character: the input size a
    * route gates on ([[graft.plans.Interpreted]]).
    */
  def fetchedBytes(rows: Seq[String]): Long = rows.iterator.map(_.length.toLong).sum

  /** One spark.read.json over fetched rows (an empty frame for none). */
  def json(spark: SparkSession, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    if (rows.isEmpty) spark.emptyDataFrame
    else spark.read.json(rows.toDS())
  }

  /** S5 — keyed per-ticket message fetch (`core/Ticket.py:75-141`): page
    * `tickets/{id}/messages` for each recent ticket under the rate
    * limiter, one JSON row per message group, the group wrapped with its
    * ticket key and fallback args. A failed ticket is skipped, not fatal
    * (`Ticket.py:130-132`); a ticket with more than `maxPagesPerTicket`
    * pages raises.
    *
    * Fetching stays driver-side by design (API-bound, ~150 req/min);
    * [[ticketMessageGroups]] frames the rows, and the returned DataFrame
    * of message GROUPS (still nested) is where distributed processing
    * starts — flatten with [[flattenMessageGroups]].
    */
  def fetchTicketMessageRows(api: LiveAgentApi, tickets: Seq[TicketRef],
                             limiter: Option[RateLimiter] = None,
                             maxPagesPerTicket: Int = MaxPages): Seq[String] =
    tickets.flatMap { t =>
      // a failed page drops the WHOLE ticket, not just the suffix — the
      // reference's per-ticket catch returns [] for the entire ticket
      // (`core/Ticket.py:125-132`), so a fetch error can't leave a
      // silently-truncated message history in the batch
      val (fetched, failed) = pages(api, s"tickets/${t.ticketId}/messages", Map.empty,
        limiter, maxPagesPerTicket)
      val rows = if (failed.isDefined) Seq.empty else fetched
      // the ticket key + fallback args must survive spark.read.json: wrap
      // each group object under a typed envelope
      rows.map { json =>
        s"""{"ticket_id":${jstr(t.ticketId)},"__fb_agentid":${jstr(t.agentId.orNull)},""" +
          s""""__fb_owner":${jstr(t.ownerName.orNull)},"group":$json}"""
      }
    }

  /** The message groups of [[fetchTicketMessageRows]]' rows, with ticket
    * metadata merged — a cache row wholesale when the ticket is cached,
    * else the per-ticket fallback args (`Ticket.py:96-106`).
    */
  def ticketMessageGroups(spark: SparkSession, wrapped: Seq[String],
                          metadataCache: Option[DataFrame] = None): DataFrame = {
    if (wrapped.isEmpty) return spark.emptyDataFrame
    val raw = json(spark, wrapped)
    // envelope keys win over same-named group fields (the reference's
    // base_info overwrites them when flattening, Ticket.py:149-166) — and
    // a duplicate column name here would make every later reference
    // ambiguous
    val envelope = Set("ticket_id", "owner_name", "agentid",
      "__fb_agentid", "__fb_owner")
    val unwrapped = raw.select(
      (Seq(col("ticket_id"), col("__fb_agentid"), col("__fb_owner")) ++
        (raw.schema("group").dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.toSeq.filterNot(envelope)
              .map(f => col(s"group.$f").as(f))
          case _ => Seq.empty
        })): _*)
    // metadata merge: a cache hit replaces owner_name/agentid wholesale
    // (even with NULLs), a miss uses the fallback args — dict.get
    // semantics from Ticket.py:96-106
    val merged = metadataCache match {
      case Some(cache) =>
        val c = broadcast(cache.select(
          col("ticket_id").cast("string").as("__c_tid"),
          col("owner_name").as("__c_owner"), col("agentid").as("__c_agentid"))
          .withColumn("__c_hit", lit(true)))
        unwrapped.join(c, col("ticket_id") === col("__c_tid"), "left")
          .withColumn("owner_name",
            when(col("__c_hit"), col("__c_owner")).otherwise(col("__fb_owner")))
          .withColumn("agentid",
            when(col("__c_hit"), col("__c_agentid")).otherwise(col("__fb_agentid")))
          .drop("__c_tid", "__c_owner", "__c_agentid", "__c_hit")
      case None =>
        unwrapped.withColumn("owner_name", col("__fb_owner"))
          .withColumn("agentid", col("__fb_agentid"))
    }
    merged.drop("__fb_agentid", "__fb_owner")
  }

  /** S7/X3 — user point lookups (`core/User.py:16-20`,
    * `TicketMessageProcessor.py:91-194`): `users/{id}` per cache-miss id,
    * sequential under the limiter in `chunkSize` groups (the reference
    * fetches chunks of 50 at concurrency 15 — concurrency is an async
    * transport concern; the rate envelope is what the limiter preserves).
    * A failed or empty lookup is skipped (logged-and-continue in the
    * reference). Returns one row per RESOLVED id: the requested id plus
    * the user object's fields.
    */
  def fetchUsers(spark: SparkSession, api: LiveAgentApi, userIds: Seq[String],
                 limiter: Option[RateLimiter] = None,
                 chunkSize: Int = 50): DataFrame = {
    val wrapped = userIds.distinct.grouped(chunkSize).flatMap { chunk =>
      chunk.flatMap { id =>
        limiter.foreach(_.acquire())
        val res = try api.fetchPage(s"users/$id", 1, 1, Map.empty)
                  finally limiter.foreach(_.release())
        res match {
          case Right(items) => items.headOption.map(json =>
            s"""{"id":${jstr(id)},"user":$json}""")
          case Left(_) => None
        }
      }
    }.toSeq
    if (wrapped.isEmpty) return spark.emptyDataFrame
    val raw = json(spark, wrapped)
    val userFields = raw.schema("user").dataType match {
      case st: org.apache.spark.sql.types.StructType => st.fieldNames.toSet
      case _ => Set.empty[String]
    }
    // the users-dimension contract columns; absent fields → NULL
    val want = Seq("name", "email", "role", "avatar_url")
    raw.select(col("id") +: want.map(f =>
      if (userFields(f)) col(s"user.$f").as(f)
      else lit(null).cast("string").as(f)): _*)
  }

  /** S4 — tickets scan post-processing: default missing columns, tags
    * array → CSV (F5). Reference `core/Ticket.py:57-71`.
    */
  def processTickets(raw: DataFrame): DataFrame = {
    val withTags =
      if (raw.columns.contains("tags"))
        raw.withColumn("tags", graft.functions.TextFns.tagsCsv(col("tags")))
      else raw.withColumn("tags", lit(""))
    Seq("owner_name", "agentid").foldLeft(withTags) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast("string"))
    }
  }

  /** S6 — flatten nested message groups: each group row × its inner
    * `messages[]` (explode_outer keeps groups with no messages,
    * reference `core/Ticket.py:149-183`).
    */
  def flattenMessageGroups(groups: DataFrame,
                           inner: String = "messages"): DataFrame = {
    val exploded = groups.withColumn("__m", explode_outer(col(inner))).drop(inner)
    val innerFields = exploded.schema("__m").dataType match {
      case st: org.apache.spark.sql.types.StructType => st.fieldNames.toSeq
      case _ => Seq.empty
    }
    innerFields.foldLeft(exploded) { (df, f) =>
      df.withColumn(s"message_$f", col(s"__m.$f"))
    }.drop("__m")
  }
}
