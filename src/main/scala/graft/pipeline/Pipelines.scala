package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, TimeFns}
import graft.llm.{LlmExtract, LlmGateway}
import graft.operators.{Convo, FrontCache, GeocodeJoin, Warehouse}
import graft.plans.Interpreted
import graft.sources.{LiveAgentApi, LiveAgentSource, RateLimiter, TicketRef}

/** The three §3 lifecycles as composable jobs over a Warehouse, plus the
  * metrics job — the engine-side equivalents of the reference's FastAPI
  * routes (SURVEY.md §3.1–§3.3; `api/app.py:45-55` ordering:
  * agents → tags → tickets → convo).
  *
  * Each batch route evaluates its batch ONCE: the frame every later write,
  * collect and count reads is `localCheckpoint`ed ([[withPins]]) and
  * released before the route returns. Without the pin each action re-ran
  * the batch's whole upstream plan — the source parse, the enrichment
  * joins, and in [[processConvos]] the LLM gateway call per conversation.
  * A route's row count is observed on that one evaluation or on its write
  * ([[counted]]), never taken by a second pass.
  *
  * Each route runs [[graft.plans.Interpreted]] when its batch is small
  * ([[batchScope]]): the bytes of the API pages it fetched, or the sizes
  * Catalyst holds for the batch and reference frames a caller passes. The
  * standing tables a route filters or merges by its batch do not count:
  * a window is a small delta over a growing warehouse. The choice is made
  * before the route's first Spark execution; [[processConvos]] makes it a
  * second time for the work after its extraction, on the extracted batch.
  */
final class Pipelines(spark: SparkSession, wh: Warehouse, api: LiveAgentApi,
                      llm: LlmGateway,
                      ids: MessageEnrich.Ids =
                        MessageEnrich.Ids("system-user", "special-user", "Brand"),
                      limiter: Option[RateLimiter] = None) {

  /** Run `body` with a pin function: each frame passed to it is
    * `localCheckpoint`ed (evaluated once, eagerly), and every pinned frame
    * is unpersisted when `body` returns or throws.
    */
  private def withPins[T](body: (DataFrame => DataFrame) => T): T = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => val p = df.localCheckpoint(); pinned += p; p }
    finally pinned.foreach(FrontCache.release)
  }

  /** Run `action` on `df` with its rows counted on the way. The count is
    * observed on the plan `action` runs, which must run `df`'s plan
    * exactly once (a pin or a write), so no second pass re-runs the batch.
    */
  private def counted[A](df: DataFrame, keyCol: String)(action: DataFrame => A): (A, Long) = {
    val (observedDf, obs) = Pipelines.observed(df, keyCol)
    val a = action(observedDf)
    // `get` blocks until the observed plan has run
    (a, obs.get("n_rows").asInstanceOf[Long])
  }

  /** Run `body` interpreted when the batch is small: `bytes` of fetched
    * pages or of a counted batch, plus the known sizes of `frames`.
    */
  private def batchScope[T](bytes: Long, frames: DataFrame*)(body: => T): T =
    Interpreted.when(spark, Interpreted.small(bytes, frames))(body)

  /** §3.3 — dimension refresh: fetch + tz-normalize + truncate-overwrite. */
  def refreshAgents(): Long = {
    val rows = LiveAgentSource.fetchPages(api, "agents")
    if (rows.isEmpty) return 0L
    batchScope(LiveAgentSource.fetchedBytes(rows)) {
      val raw = LiveAgentSource.json(spark, rows)
      val processed =
        if (raw.columns.contains("last_pswd_change"))
          raw.withColumn("last_pswd_change",
            TimeFns.parseToManila(col("last_pswd_change")).cast("timestamp_ntz"))
        else raw
      counted(processed, "id")(wh.overwrite("agents", _))._2
    }
  }

  def refreshTags(): Long = {
    val rows = LiveAgentSource.fetchPages(api, "tags")
    if (rows.isEmpty) return 0L
    batchScope(LiveAgentSource.fetchedBytes(rows)) {
      val filled = LiveAgentSource.json(spark, rows).na.fill("").na.fill(0)
      counted(filled, "id")(wh.overwrite("tags", _))._2
    }
  }

  /** §3.1 — tickets + messages: fetch window → transform → upsert tickets
    * → fetch/flatten messages → enrich → append messages.
    * `tsCols` are tz-normalized (F2); `custom_fields` normalized (F4).
    *
    * The tickets MERGE is PARTITION-SCOPED ([[Warehouse.upsertPartitioned]]
    * over [[Pipelines.TicketsPartitionCol]] = day of `date_created`): a
    * ticket's creation time is assigned once by the source system and never
    * rewritten by the update path, so the stable-key-partition contract
    * holds by construction, and the 6-hourly batch — the reference's
    * most-executed MERGE (`extractor_bq_helpers.py:40-185` every 6 hours)
    * — joins a few day-partitions against the batch instead of
    * full-outer-joining the whole table: O(batch), not O(table), at 100 TB.
    * `users` and `convo_analysis` stay whole-table ([[refreshUsers]],
    * [[processConvos]]): a user row has no immutable time column (every
    * field can mutate, ids arrive unordered), and convo re-analysis may
    * update ANY historical ticket_id — neither satisfies the stable-key
    * precondition, so scoping them would strand stale rows.
    */
  def processTickets(windowField: String, start: String, end: String,
                     runTs: java.sql.Timestamp,
                     updateCols: Seq[String]): Long = {
    val rows = LiveAgentSource.fetchPages(api, "tickets",
      LiveAgentSource.windowFilters(windowField, start, end))
    if (rows.isEmpty) return 0L
    batchScope(LiveAgentSource.fetchedBytes(rows))(withPins { pin =>
      var t = LiveAgentSource.processTickets(LiveAgentSource.json(spark, rows))
        .withColumn("datetime_extracted", lit(runTs).cast("timestamp_ntz"))
      for (c <- Seq("date_created", "date_changed", "date_resolved") if t.columns.contains(c))
        t = t.withColumn(c, TimeFns.parseToManila(col(c)).cast("timestamp_ntz"))
      if (t.columns.contains("custom_fields"))
        t = t.withColumn("custom_fields", TextFns.singleElementOrNull(col("custom_fields")))
      val (pinned, n) = counted(t, "id")(pin)
      t = pinned
      val standingCols =
        if (wh.exists("tickets")) wh.read("tickets").columns.toSeq else Nil
      if (t.columns.contains("date_created") &&
          (standingCols.isEmpty || standingCols.contains("date_created"))) {
        if (standingCols.nonEmpty &&
            !standingCols.contains(Pipelines.TicketsPartitionCol)) {
          // one-time layout migration of a pre-partitioning table: derive
          // the day column for the standing rows and rewrite partitioned —
          // the O(table) cost paid ONCE; every later batch is scoped
          wh.overwritePartitioned("tickets",
            wh.read("tickets").withColumn(Pipelines.TicketsPartitionCol,
              to_date(col("date_created"))),
            Seq(Pipelines.TicketsPartitionCol))
        }
        val staged = t.withColumn(Pipelines.TicketsPartitionCol,
          to_date(col("date_created")))
        wh.upsertPartitioned("tickets", staged, "id", updateCols,
          Seq(Pipelines.TicketsPartitionCol))
      } else
        // degenerate feed or standing table without a creation time: no
        // stable partition column exists, fall back to the whole-table merge
        wh.upsert("tickets", t, "id", updateCols)
      n
    })
  }

  /** Messages leg, TicketMessageProcessor parity
    * (`core/TicketMessageProcessor.py:262-291`): flatten groups (S6),
    * refresh the users dimension from the ids seen in this batch
    * (X3+J11+J2, [[refreshUsers]]), resolve sender/receiver via the J4
    * CASE over the agents dimension ([[MessageEnrich.enrich]]), extract
    * reference codes (F1), append (append-only — duplicates on rerun
    * preserved for parity, §2.8).
    *
    * `dedupe = true` is the SURVEY §7.3 opt-in hardening of the
    * reference's duplicate-on-rerun behavior: drop batch rows whose
    * `message_id` already landed (left_anti against the standing table —
    * one key-projected scan, no full-table rewrite) and within-batch
    * re-deliveries. Default stays reference-exact.
    *
    * Runs in its caller's mode: [[processTicketMessages]] decides it on the
    * fetched groups. Its own input, a `spark.read.json` frame, has no size
    * Catalyst knows, so it opens no scope of its own.
    */
  def processMessages(groups: DataFrame, dedupe: Boolean = false): Long = withPins { pin =>
    // the reference keeps the inner body's plain name — every other inner
    // field gets the message_ prefix (`core/Ticket.py:170-181`)
    val flat0 = LiveAgentSource.flattenMessageGroups(groups)
    val flat = pin(
      if (flat0.columns.contains("message_message") && !flat0.columns.contains("message"))
        flat0.withColumnRenamed("message_message", "message")
      else flat0)
    val agents =
      if (wh.exists("agents")) wh.read("agents").select(col("id"), col("name"))
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
    refreshUsers(flat, agents)
    val enriched = MessageEnrich.enrich(flat, agents, ids)
    val coded =
      if (enriched.columns.contains("message"))
        enriched.withColumn("reference_code",
          TextFns.extractReferenceCode(col("message")))
      else enriched
    val out =
      if (dedupe && coded.columns.contains("message_id")) {
        val batch = coded.dropDuplicates("message_id")
        if (wh.exists("messages"))
          batch.join(wh.read("messages").select(col("message_id")),
            Seq("message_id"), "left_anti")
        else batch
      } else coded
    // counted on the append, so no second pass re-runs the enrichment and
    // dedupe joins
    counted(out, "message_id")(wh.append("messages", _))._2
  }

  /** §3.1 middle leg, end-to-end (S5+S6+J3+J4): recent ticket keys →
    * per-key message fetch under the rate limiter → flatten → enrich →
    * append. The ticket metadata cache is the warehouse `tickets` table
    * (the reference caches the same fields during the tickets fetch,
    * `core/Ticket.py:64-71`).
    */
  def processTicketMessages(tickets: Seq[TicketRef],
                            maxPagesPerTicket: Int = LiveAgentSource.MaxPages): Long = {
    val rows = LiveAgentSource.fetchTicketMessageRows(api, tickets, limiter, maxPagesPerTicket)
    if (rows.isEmpty) return 0L
    batchScope(LiveAgentSource.fetchedBytes(rows)) {
      processMessages(LiveAgentSource.ticketMessageGroups(spark, rows, ticketCache()))
    }
  }

  /** The ticket metadata cache: the warehouse `tickets` table, when it
    * holds the cached fields.
    */
  private def ticketCache(): Option[DataFrame] =
    if (wh.exists("tickets")) {
      val t = wh.read("tickets")
      // processTickets defaults these columns, but a hand-loaded tickets
      // table may lack them — no cache beats an AnalysisException
      if (Seq("id", "owner_name", "agentid").forall(t.columns.contains))
        Some(t.select(col("id").as("ticket_id"),
          col("owner_name"), col("agentid")))
      else None
    } else None

  /** X3 — users-dimension refresh from a message batch
    * (`TicketMessageProcessor.py:24-37,63-194`): distinct candidate ids
    * (userid ∪ message_userid ∪ agentid), minus ids already covered by
    * the agents dimension or the standing users table (J11 cache-miss
    * anti-join), point-fetched via `users/{id}` and upserted with J2 name
    * resolution. The collect is the cache-miss id set of ONE batch window
    * — bounded by construction (the fetch is per-id HTTP either way), and
    * guarded by `maxPointFetches`: a pathological batch (a backfill
    * missing its users preload) fails fast with the size instead of
    * grinding the rate-limited endpoint for days. Returns the number of
    * newly fetched users. Runs in its caller's mode, like
    * [[processMessages]].
    */
  def refreshUsers(flat: DataFrame, agents: DataFrame,
                   maxPointFetches: Long = 100000L): Long = {
    val idCols = Seq("userid", "message_userid", "agentid")
      .filter(flat.columns.contains)
    if (idCols.isEmpty) return 0L
    val seen = idCols.map(c => flat.select(col(c).cast("string").as("id")))
      .reduce(_ unionByName _).where(col("id").isNotNull).distinct()
    val notAgent = seen.join(
      agents.select(col("id").cast("string").as("id")), Seq("id"), "left_anti")
    val misses =
      if (wh.exists("users"))
        notAgent.join(wh.read("users").select(col("id").cast("string").as("id")),
          Seq("id"), "left_anti")
      else notAgent
    // one evaluation of the miss set: fetch one id past the guard, so an
    // oversized set is detected without counting it first
    val missIds = misses.limit(math.min(maxPointFetches + 1, Int.MaxValue).toInt)
      .collect().map(_.getString(0)).toSeq.sorted
    require(missIds.length <= maxPointFetches,
      s"refreshUsers: more than $maxPointFetches cache-miss ids " +
        "(maxPointFetches) — preload the users dimension before this batch")
    if (missIds.isEmpty) return 0L
    val fetched = LiveAgentSource.fetchUsers(spark, api, missIds, limiter)
    // no lookup resolved: the source returns a frame without columns
    if (fetched.columns.isEmpty) return 0L
    val resolved = fetched.withColumn("name",
      MessageEnrich.resolvedUserName(col("name"), col("email")))
    counted(resolved, "id")(wh.upsert("users", _, "id", ColumnContracts.UsersUpdateColumns))._2
  }

  /** §3.2 — convo analysis: reassemble conversations (A6) → LLM extraction
    * (X1, injected gateway) → geocode-style match + serviceability tag
    * (J5–J8) → history append + upsert (K5+K4). Geocode results join back
    * on the key — the reference's positional concat (J12) is intentionally
    * replaced by a key join (SURVEY.md §7.3).
    *
    * Two scopes: the reassembly and extraction read the caller's `messages`
    * (a window's is the standing table filtered by its run keys) and run
    * in the mode that frame's known size picks; the geocode, tagging and
    * writes run on the extracted batch, sized from its counted rows.
    */
  def processConvos(messages: DataFrame, refTable: DataFrame, refNameCol: String,
                    serviceable: DataFrame, svcNameCol: String,
                    updateCols: Seq[String],
                    runTs: java.sql.Timestamp =
                      java.sql.Timestamp.valueOf("1970-01-01 00:00:00")): Long = withPins { pin =>
    // pinned: the geocode branch and the join both read `analysis`, and
    // the gateway answer is not deterministic — one call per conversation,
    // and the history row and the current row carry the same answer
    val (analysis, extracted) = batchScope(0L, messages) {
      val convos = Convo.conversationText(messages)
      counted(LlmExtract.extract(
        convos.select(col("ticket_id").cast("string").as("ticket_id"), col("convo")),
        "ticket_id", "convo", llm), "ticket_id")(pin)
    }
    batchScope(Interpreted.rowsBytes(analysis, extracted), refTable, serviceable) {
      val geo = GeocodeJoin.bestMatch(
          analysis.where(col("location") =!= "").select(col("ticket_id"), col("location")),
          refTable, "location", refNameCol, "ticket_id")
        .select(col("ticket_id"), col(refNameCol).as("address"),
          col("score"), col("accepted"))
      val tagged = GeocodeJoin.tagViable(
        analysis.join(geo, Seq("ticket_id"), "left"),
        serviceable, "location", svcNameCol)
      // post-extraction parity: stamp the run, convert the schedule fields
      // (F6, extraction_helpers.py:164-216 — schedule_date becomes a
      // DATETIME combining date + parsed time; schedule_time stays string),
      // then drop the geocode working columns and anything *metadata*
      // before load (Extractor.py:293-298).
      val stamped = tagged
        .withColumn("date_extracted", lit(runTs).cast("timestamp_ntz"))
        .withColumn("schedule_date",
          TimeFns.combineScheduleDateTime(col("schedule_date"), col("schedule_time"))
            .cast("timestamp_ntz"))
      val dropCols = Seq("score", "accepted", "input_address", "lat", "lng", "error") ++
        stamped.columns.filter(_.toLowerCase.contains("metadata"))
      val (fin, n) = counted(stamped.drop(dropCols: _*), "ticket_id")(pin)
      wh.append("convo_analysis_history", fin)
      wh.upsert("convo_analysis", fin, "ticket_id", updateCols)
      n
    }
  }

  /** Metrics job (A1 + A8/J9/J10): new vs existing key counts and grouped
    * totals — `ExtractionLogger.py:95-176`. One pass: each run-key row
    * meets at most one standing key (the standing keys are made distinct),
    * so the left join keeps the run's multiplicity and the hit flag splits
    * it — the counts a `left_anti` and a `left_semi` count return, null run
    * keys counted as new.
    */
  def metrics(runKeys: DataFrame, table: String, key: String): (Long, Long) =
    batchScope(0L, runKeys) {
      if (!wh.exists(table)) (runKeys.count(), 0L)
      else {
        val hit = "__standing_hit"
        val standing = wh.read(table).select(col(key)).distinct().withColumn(hit, lit(true))
        val r = runKeys.join(standing, Seq(key), "left")
          .agg(count_if(col(hit).isNull), count_if(col(hit).isNotNull)).head()
        (r.getLong(0), r.getLong(1))
      }
    }
}

object Pipelines {
  /** Derived partition column of the warehouse `tickets` table: the DAY of
    * `date_created`. Creation time is written once by the source system
    * and never mutated, so a ticket's partition is stable for its key —
    * the [[graft.operators.Warehouse.upsertPartitioned]] precondition.
    */
  val TicketsPartitionCol = "date_created_day"

  /** X4 runtime metrics, single-pass form: the reference logs row counts
    * and durations per route (`api/logs/Tracker.py:33-54`) with separate
    * COUNT queries; at scale a second pass over the input is a second
    * 100 TB scan. `Observation` piggybacks the metrics on the job that
    * already runs: attach before the sink, read after the action
    * completes — zero extra jobs. `null_keys` is reported only when `df`
    * has `keyCol` (a message batch whose messages carry no fields has no
    * `message_id`).
    */
  def observed(df: DataFrame, keyCol: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation()
    val nullKeys =
      if (df.columns.contains(keyCol)) Seq(count_if(col(keyCol).isNull).as("null_keys"))
      else Nil
    (df.observe(obs, count(lit(1)).as("n_rows"), nullKeys: _*), obs)
  }
}
