package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming forms of the reference's micro-batch semantics
  * (SURVEY.md §2.8). The reference is scheduler-driven batch with a 6-hour
  * lookback window; these are the true streaming equivalents for when the
  * ingest becomes a stream: tumbling/sliding windowed aggregation with
  * watermarks, session windows via flatMapGroupsWithState, and a
  * foreachBatch upsert sink that reuses the K4 merge.
  */
object Streams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Long)
  final case class SessionState(start: Long, last: Long, n: Long)

  /** Tumbling-window aggregation with a watermark for late data — the
    * streaming form of the 6-hour batch window (reference floors to the
    * hour; window() aligns to the epoch the same way).
    */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sessionization with a gap timeout via flatMapGroupsWithState —
    * emits a session row when `gapMinutes` of inactivity passes (state
    * timeout), mirroring the batch gaps-and-islands query
    * (stream_sessionize in the correctness gate).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  // in-gap late event may precede the stored start: extend
                  // the session both ways so watermark-admissible
                  // out-of-order input matches the batch sessionize result
                  cur = Some(SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same key arriving
    * within the watermark horizon — the streaming form of exact dedup (A2 /
    * dedup_exact) for an at-least-once source. State is BOUNDED: a key's
    * fingerprint is evicted once the watermark passes it, so memory tracks
    * the horizon, not the stream length — the property that keeps this
    * viable on an unbounded 100 TB/day feed (unbounded dropDuplicates
    * state would OOM).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts",
                  watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming drift monitor: per tumbling window, the total-variation
    * distance between the window's `event_type` distribution and a STATIC
    * reference distribution (the standing corpus profile) — the alert an
    * ingest pipeline fires BEFORE admitting a batch into the training
    * corpus (batch twin: `drift_tv_weekly` in the correctness gate).
    *
    * One stateful operator: the reference type set is static, so per-type
    * counts are conditional sums inside the single windowed aggregation —
    * no chained streaming aggregates, no stream-static join after an agg
    * (both restricted). Types absent from the reference contribute their
    * full probability mass (they have reference weight 0). Same
    * integer-exact arithmetic as the batch query: the numerator
    * Σ|c_t·N_ref − ref_t·n| + other·N_ref is exact BIGINT, the final
    * division ONE double op.
    */
  def streamTvDrift(events: DataFrame, reference: Map[String, Long],
                    window_ : String = "1 hour",
                    watermark: String = "30 minutes"): DataFrame = {
    require(reference.nonEmpty && reference.values.forall(_ > 0),
      "reference distribution needs positive counts")
    val types = reference.keys.toSeq.sorted
    val refN = reference.values.sum
    val perType = types.zipWithIndex.map { case (t, i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"__c_$i") }
    val base = events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n"), perType: _*)
    val known = types.indices.map(i => col(s"__c_$i")).reduce(_ + _)
    val tvNum = types.zipWithIndex.map { case (t, i) =>
        abs(col(s"__c_$i") * lit(refN) - lit(reference(t)) * col("n")) }
      .reduce(_ + _) + (col("n") - known) * lit(refN)
    base.select(col("window.start").as("window_start"), col("n"),
      tvNum.as("tv_num"),
      (tvNum.cast("double") /
        (lit(2L) * col("n") * lit(refN)).cast("double")).as("tv"))
  }

  /** Streaming per-window top-k WITHOUT a sort: the bounded
    * [[graft.expressions.TopKAgg]] runs INSIDE the single windowed
    * aggregation — per-window state is ≤2k (score, id) pairs serialized
    * into the state store, and no micro-batch ever sorts its events.
    * (The two-level form "top-k USERS by windowed total" would need a
    * second stateful aggregation — restricted in streaming; per-event
    * top-k is the single-operator shape.) Output: one row per rank,
    * exploded AFTER the aggregate (stateless projection).
    */
  def windowedTopK(events: DataFrame, k: Int, window_ : String = "1 hour",
                   watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(graft.expressions.TopKAgg.topK(
        struct(col("value").cast("double"), col("event_id").cast("long")), k)
        .as("__top"))
      .select(col("window.start").as("window_start"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("window_start"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("event_id"), col("__e.score").as("value"))

  /** Stream-stream interval join: each left event picks up the right-side
    * events with matching keys whose time falls in
    * `[left.ts − lookback, left.ts]` — the streaming form of the batch
    * bounded range join (graft.operators.RangeJoin).
    *
    * Both inputs carry watermarks and the join condition bounds BOTH event
    * times, which is exactly what lets Spark evict join state: each side
    * buffers only `watermark + lookback` of history, so state is
    * horizon-bounded on an unbounded feed. `keys` maps left→right column
    * names (the sides must not share column names — rename apart first).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keys: Seq[(String, String)],
                   leftTs: String, rightTs: String,
                   lookback: String = "1 hour",
                   watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = keys.map { case (lk, rk) => col(lk) === col(rk) }.reduce(_ && _) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs)
    l.join(r, cond)
  }

  /** intervalJoin with LEFT OUTER semantics: left events with no match in
    * the lookback window are still emitted, null-padded — but only once the
    * right-side watermark has passed the window, proving no match can
    * still arrive. Same horizon-bounded state as the inner form; the
    * correctness subtlety is that outer results are WITHHELD until the
    * watermark closes the candidate window (they surface a micro-batch
    * later), which the spec pins down.
    */
  def leftOuterIntervalJoin(left: DataFrame, right: DataFrame,
                            keys: Seq[(String, String)],
                            leftTs: String, rightTs: String,
                            lookback: String = "1 hour",
                            watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = keys.map { case (lk, rk) => col(lk) === col(rk) }.reduce(_ && _) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs)
    l.join(r, cond, "leftOuter")
  }

  final case class UserTotals(user_id: Long, n_events: Long, total_cents: Long)

  /** Arbitrary stateful processing v2 (Spark 4 `transformWithState`): a
    * per-user running aggregate kept in a typed ValueState, emitting the
    * updated totals every micro-batch — the stateful-enrichment shape
    * (lifetime counters riding an event stream) that
    * mapGroupsWithState forces into coarse user-managed state, here with
    * fine-grained state primitives (value/list/map states, TTL, timers)
    * on the RocksDB store. Money is accumulated in integer cents: state
    * survives across batches, so float addition order would otherwise
    * depend on batch boundaries.
    */
  class RunningUserTotals(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        ttl)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
      for (e <- rows) {
        n += 1
        cents += math.rint(e.value * 100).toLong
      }
      totals.update((n, cents))
      Iterator.single(UserTotals(key, n, cents))
    }
  }

  /** Sessionization on the v2 state API: same gap semantics as
    * [[sessionize]], but the inactivity timeout is an explicit EVENT-TIME
    * TIMER (registerTimer / handleExpiredTimer) instead of
    * GroupStateTimeout — each input batch re-arms the timer to
    * session_end + gap, and the watermark crossing it fires the close.
    * Old timers are deleted on re-arm so exactly one is outstanding per
    * open session.
    */
  class SessionizerV2(gapMs: Long) extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _ // start,last,n
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var closed = List.empty[SessionOut]
      var cur: Option[(Long, Long, Long)] = if (sess.exists()) Some(sess.get()) else None
      for (e <- sorted) {
        val t = e.ts.getTime
        cur match {
          case Some((start, last, n)) if t - last <= gapMs =>
            // min(start, t): an in-gap late event can precede the stored
            // session start (same rule as the batch/V1 forms)
            cur = Some((math.min(start, t), math.max(last, t), n + 1))
          case Some((start, last, n)) =>
            closed ::= SessionOut(key, new Timestamp(start), new Timestamp(last), n)
            cur = Some((t, t, 1))
          case None =>
            cur = Some((t, t, 1))
        }
      }
      cur.foreach { case s @ (_, last, _) =>
        sess.update(s)
        // materialize before deleting: the timer iterator reads the same
        // column family deleteTimer mutates
        getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(last + gapMs)
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (sess.exists()) {
        val (start, last, n) = sess.get()
        // stale-timer guard (re-arm deletes them, but close only on the
        // timer that matches the current session end)
        if (expiredTimerInfo.getExpiryTimeInMs() >= last + gapMs) {
          sess.clear()
          Iterator.single(SessionOut(key, new Timestamp(start), new Timestamp(last), n))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** [[SessionizerV2]] wired up: event-time mode (timers fire on the
    * watermark), append output.
    */
  def sessionizeV2(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionizerV2(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type lifetime counts in a MapState — the keyed
    * sub-map primitive of the v2 state API (a ValueState[Map] would
    * rewrite the whole map every batch; MapState updates only the touched
    * event-type entries). Emits the updated (type, n) pairs each batch.
    */
  class PerTypeCounts extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      for (e <- rows) {
        val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, prev + 1)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCount(key, t, counts.getValue(t)))
    }
  }

  /** [[PerTypeCounts]] wired up (RocksDB store required, as for all
    * transformWithState operators).
    */
  def perTypeCounts(events: Dataset[Event]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new PerTypeCounts, TimeMode.None(), OutputMode.Update())
  }

  final case class NovelType(event_type: String, first_seen: Timestamp)

  /** Streaming novelty monitor: emits each event_type exactly ONCE, on
    * its first appearance in the stream's lifetime, with the earliest
    * event time of that first batch — the streaming twin of
    * `drift_novel_types`' first_seen = min(week) (the batch query reports
    * shares; the stream raises the flag the moment a new category
    * arrives). State is ONE long per distinct category — bounded by the
    * category universe, not the stream length; later events and
    * re-deliveries of a known type emit nothing and write nothing.
    */
  class NovelTypes extends StatefulProcessor[String, Event, NovelType] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("first_seen",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[NovelType] = {
      if (seen.exists()) Iterator.empty
      else {
        var minTs = Long.MaxValue
        for (e <- rows) minTs = math.min(minTs, e.ts.getTime)
        seen.update(minTs)
        Iterator.single(NovelType(key, new Timestamp(minTs)))
      }
    }
  }

  /** [[NovelTypes]] wired up (RocksDB store required). */
  def novelTypes(events: Dataset[Event]): Dataset[NovelType] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new NovelTypes, TimeMode.None(), OutputMode.Append())
  }

  /** Per-user lifetime totals via transformWithState (requires the
    * RocksDB state store provider — the only one with the multi-column-
    * family layout the v2 state API needs).
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserTotals, TimeMode.None(), OutputMode.Update())
  }

  /** [[runningUserTotals]] with a state TTL — the mechanism that makes
    * keyed LIFETIME state deployable on an unbounded key space: without
    * it, per-user state rows grow with cumulative distinct users forever
    * (PLANS.md's state-growth measurement); with a TTL, a user idle
    * longer than `ttlMs` is evicted and restarts from zero on return.
    * State TTL is processing-time-based in Spark, so the operator runs in
    * TimeMode.ProcessingTime.
    */
  def runningUserTotalsTtl(events: Dataset[Event], ttlMs: Long): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningUserTotals(
        TTLConfig(java.time.Duration.ofMillis(ttlMs))),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Streaming upsert sink: foreachBatch applying the K4 staged merge into
    * a warehouse table — the streaming form of the reference's
    * staging+MERGE load (idempotent per key within a batch).
    */
  def upsertSink(stream: DataFrame, wh: graft.operators.Warehouse,
                 table: String, key: String, updateCols: Seq[String]) =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        wh.upsert(table, batch.toDF(), key, updateCols)
    }

  /** Exactly-once foreachBatch: Structured Streaming re-delivers a whole
    * micro-batch after a crash-before-checkpoint, so a sink with side
    * effects beyond an idempotent MERGE must dedup on batchId itself.
    * Committed batch ids are recorded in a `<table>__commits` warehouse
    * table AFTER the batch effect lands; a replayed (batchId, effect)
    * pair is skipped wholesale. This is the standard transactional
    * foreachBatch recipe for sinks without native exactly-once.
    */
  def idempotentBatch(wh: graft.operators.Warehouse, table: String)
                     (batchId: Long)(effect: => Unit): Boolean = {
    val commits = s"${table}__commits"
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val already = wh.exists(commits) &&
      !wh.read(commits).where(org.apache.spark.sql.functions.col("batch_id") === batchId).isEmpty
    if (already) false
    else {
      effect
      wh.append(commits, Seq(batchId).toDF("batch_id"))
      true
    }
  }

  /** [[upsertSink]]'s partition-scoped form: each micro-batch MERGEs
    * through `Warehouse.upsertPartitioned`, so the target join reads
    * only the partitions the batch touches and every other partition
    * carries over by hardlink — the steady-state streaming-upsert shape
    * at 100 TB (a micro-batch is minutes of data; the whole-table
    * [[upsertSink]] full-outer joins the table per trigger). Same
    * stable-key-partition contract as `upsertPartitioned`.
    */
  def upsertSinkPartitioned(stream: DataFrame, wh: graft.operators.Warehouse,
                            table: String, key: String,
                            updateCols: Seq[String],
                            partitionCols: Seq[String]) =
    stream.writeStream.outputMode("update").foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        wh.upsertPartitioned(table, batch.toDF(), key, updateCols,
          partitionCols)
    }

  // ---- streaming mergeable sketch -----------------------------------

  final case class TypeEstimate(event_type: String, estimate: Double,
                                n_buckets: Long)

  /** Streaming distinct-user HLL per event type: the 512 registers live
    * in a `MapState[bucket, maxrho]` — per input row only the touched
    * bucket is read-modify-written (a ValueState[Map] would rewrite all
    * 512 every batch), and the estimate re-derives from the register
    * map at the end of each batch. Because max is associative/
    * commutative/idempotent, replayed or reordered rows can never
    * corrupt the registers — the streaming form of the
    * `sketch_hll_merge` law, and the row-level arithmetic is
    * BIT-IDENTICAL to the batch column pipeline
    * ([[graft.functions.SketchFns]]): same md5-prefix hash, same
    * leading-one rank, same fixed-point estimate — so a batch recompute
    * over the same rows must agree exactly (spec-pinned).
    */
  class HllDistinctUsers extends StatefulProcessor[String, Event, TypeEstimate] {
    import graft.functions.SketchFns.{HllP, HllM, HllRemBits, HllScale}
    @transient private var regs: org.apache.spark.sql.streaming.MapState[Int, Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      regs = getHandle.getMapState[Int, Int](
        "hll_regs", Encoders.scalaInt, Encoders.scalaInt, TTLConfig.NONE)

    /** Row-level twin of SketchFns.hash60: first 15 md5 hex chars of the
      * value's string form.
      */
    private def hash60(v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }

    /** Leading-one rank in the remainder window (SketchFns.hllRho). */
    private def rho(rem: Long): Int =
      if (rem == 0L) HllRemBits + 1
      else HllRemBits - (63 - java.lang.Long.numberOfLeadingZeros(rem))

    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TypeEstimate] = {
      for (e <- rows) {
        val h = hash60(e.user_id.toString)
        val bucket = (h >>> HllRemBits).toInt
        val r = rho(h & ((1L << HllRemBits) - 1))
        val prev = if (regs.containsKey(bucket)) regs.getValue(bucket) else 0
        if (r > prev) regs.updateValue(bucket, r)
      }
      // estimate from the register map — the same fixed-point formula as
      // SketchFns.hllEstimate, same operation order
      var sumScaled = 0L
      var nb = 0L
      val it = regs.iterator()
      while (it.hasNext) {
        val kv = it.next()
        sumScaled += 1L << (52 - kv._2)
        nb += 1
      }
      val m = HllM.toDouble
      val total = sumScaled + (HllM.toLong - nb) * HllScale
      val est = 0.7213 / (1.0 + 1.079 / m) * m * m *
        HllScale.toDouble / total.toDouble
      Iterator.single(TypeEstimate(key, est, nb))
    }
  }

  /** [[HllDistinctUsers]] wired up (RocksDB store required). */
  def hllDistinctUsers(events: Dataset[Event]): Dataset[TypeEstimate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new HllDistinctUsers, TimeMode.None(), OutputMode.Update())
  }

  // ---- streaming top-k ----------------------------------------------

  final case class TopUser(event_type: String, rank: Int, user_id: Long,
                           total_cents: Long)

  /** Continuous per-type top-k users by lifetime value: per-user cent
    * totals live in MapState (only touched users are read-modify-written
    * per batch — exact LONG cents, no float accumulation), and the
    * current top-k re-derives from the map at batch end with the
    * deterministic (−total, user_id) order. Exact by construction —
    * bounded-synopsis streaming top-k trades that for O(k) state; this
    * is the exact form whose state is O(users per type), the right
    * trade while per-key cardinality fits state (the reference's
    * dimension sizes do).
    */
  class TopKUsersByValue(k: Int) extends StatefulProcessor[String, Event, TopUser] {
    @transient private var totals: org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getMapState[Long, Long](
        "user_cents", Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[TopUser] = {
      for (e <- rows) {
        val cents = math.round(e.value * 100)
        val prev = if (totals.containsKey(e.user_id)) totals.getValue(e.user_id) else 0L
        totals.updateValue(e.user_id, prev + cents)
      }
      val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val it = totals.iterator()
      while (it.hasNext) { val kv = it.next(); all += ((kv._1, kv._2)) }
      all.sortBy { case (uid, cents) => (-cents, uid) }
        .take(k).zipWithIndex.iterator
        .map { case ((uid, cents), i) => TopUser(key, i + 1, uid, cents) }
    }
  }

  /** [[TopKUsersByValue]] wired up (RocksDB store required). */
  def topKUsersByValue(events: Dataset[Event], k: Int = 3): Dataset[TopUser] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new TopKUsersByValue(k), TimeMode.None(), OutputMode.Update())
  }

  // ---- streaming decontamination (static eval benchmark) ----------------

  final case class ContamSpan(doc_id: Long, span_start: Long, span_end: Long,
                              span_len: Long)

  /** Distinct L-token windows of the EVAL benchmark, collected to a set —
    * the static side of [[contaminationSpansStream]]. Eval benchmarks are
    * the small side by construction (the same argument that lets the
    * batch operator broadcast them — SuffixDedup.contaminationSpans); the
    * guard makes a mis-sized call fail loudly instead of OOMing the
    * driver.
    */
  def evalGramSet(evalDocs: DataFrame, textCol: String, L: Int,
                  maxGrams: Long = 5000000L): Set[String] = {
    import evalDocs.sparkSession.implicits._
    val grams = evalDocs.select(explode(graft.functions.SimFns.wordShingles(
        graft.functions.TextAnalysisFns.tokens(col(textCol)), L)).as("g"))
      .distinct()
    val n = grams.count()
    require(n <= maxGrams,
      s"eval gram set has $n grams (> $maxGrams) — not broadcastable")
    grams.as[String].collect().toSet
  }

  /** Streaming twin of `SuffixDedup.contaminationSpans`: the eval key set
    * is STATIC (benchmarks change on release cadence, not per
    * micro-batch), so decontaminating a document stream is a fully
    * STATELESS map — each arriving doc's L-token windows test membership
    * in the broadcast eval set and merge to maximal spans entirely within
    * the row (positions never cross documents). No watermark, no state
    * store, no shuffle: the streaming plan is a per-partition flatMap
    * over the feed, the cheapest possible shape. Exactness matches the
    * batch operator by construction — dense-label equality there ⟺
    * window-string equality here (same `\s+` tokenizer), and the same
    * gaps-and-islands merge rule (gap ≤ L) runs per doc. StreamingV2Spec
    * pins span-set parity with the batch operator over a replayed corpus.
    */
  def contaminationSpansStream(docsStream: Dataset[DocFeed],
                               evalGrams: Set[String],
                               L: Int): Dataset[ContamSpan] = {
    import docsStream.sparkSession.implicits._
    require(L >= 2, s"window length must be >= 2, got $L")
    val bc = docsStream.sparkSession.sparkContext.broadcast(evalGrams)
    docsStream.flatMap { d =>
      // same token rule as TextAnalysisFns.tokens: \s+ split, drop empties
      val toks = Option(d.text).getOrElse("").split("\\s+").filter(_.nonEmpty)
      val starts = (0 to toks.length - L).filter(i =>
        bc.value.contains(toks.slice(i, i + L).mkString(" ")))
      if (starts.isEmpty) Iterator.empty
      else {
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var s = starts.head
        var last = starts.head
        for (p <- starts.tail) {
          if (p - last > L) { spans += ((s, last)); s = p }
          last = p
        }
        spans += ((s, last))
        // 1-based inclusive token positions, matching the batch schema
        spans.iterator.map { case (a, b) =>
          ContamSpan(d.doc_id, a + 1L, b + L.toLong, (b + L - a).toLong) }
      }
    }
  }

  // ---- streaming MinHash-LSH near-dup detection -----------------------

  final case class DocFeed(doc_id: Long, ts: Timestamp, text: String)
  final case class BandDoc(band: String, doc_id: Long, ts: Timestamp,
                           shingles: Array[String])
  final case class BandEntry(doc_id: Long, ts_ms: Long,
                             shingles: Array[String])
  final case class NearDupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Per-band near-dup matcher: the banded co-residents live in a
    * MapState keyed by doc id; a new arrival pairs against every stored
    * doc in its band, verifies with the EXACT shingle Jaccard (the same
    * |A∩B| / (|A|+|B|−|A∩B|) rational over distinct shingles as
    * `SimFns.jaccard` — both sides integer counts, so the double is
    * bit-identical to the batch verify), then joins the state itself.
    * Entries older than the event-time watermark evict lazily on the
    * band's next arrival — state is bounded by docs per band within the
    * watermark horizon, the streaming contract: two docs can pair iff
    * they are co-resident within that horizon.
    */
  class BandNearDups(threshold: Double)
      extends StatefulProcessor[String, BandDoc, NearDupPair] {
    @transient private var docs: org.apache.spark.sql.streaming.MapState[Long, BandEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      docs = getHandle.getMapState[Long, BandEntry](
        "band_docs", Encoders.scalaLong, Encoders.product[BandEntry], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandDoc],
                                 timerValues: TimerValues): Iterator[NearDupPair] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      if (wm > 0) {
        val expired = scala.collection.mutable.ArrayBuffer.empty[Long]
        val it = docs.iterator()
        while (it.hasNext) { val kv = it.next(); if (kv._2.ts_ms < wm) expired += kv._1 }
        expired.foreach(docs.removeKey)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      for (d <- rows) {
        val sa = d.shingles.toSet
        val it = docs.iterator()
        while (it.hasNext) {
          val (otherId, e) = it.next()
          if (otherId != d.doc_id) {
            val sb = e.shingles.toSet
            val inter = (sa & sb).size
            val union = sa.size + sb.size - inter
            val j = if (union == 0) 0.0 else inter.toDouble / union.toDouble
            if (j >= threshold)
              out += NearDupPair(math.min(d.doc_id, otherId),
                math.max(d.doc_id, otherId), j)
          }
        }
        docs.updateValue(d.doc_id, BandEntry(d.doc_id, d.ts.getTime, d.shingles))
      }
      out.iterator
    }
  }

  /** Streaming twin of `Dedup.minhashLsh` — same shingling, same k-min
    * MinHash signature, same band keys, same exact-Jaccard verification,
    * expressed over a document stream. The batch signature is an
    * explode + groupBy k-min aggregate; here it is the equivalent
    * PER-ROW `array_min(transform(shingles, s → md5(j":"s)))` (same md5
    * strings, same min — string `<` ≡ the aggregate's min), which keeps
    * the stage STATELESS so the single stateful operator is the band
    * matcher. A pair colliding in several bands emits once per band
    * (the batch `.distinct()` is the consumer's idempotent upsert /
    * distinct — cross-band suppression would chain a second stateful
    * operator for no semantic gain).
    *
    * `docsStream` must carry a watermark on `ts`; the horizon bounds
    * both state size and how far apart two docs may arrive and still
    * pair — the streaming rendering of the batch job's corpus window.
    */
  def nearDupPairs(docsStream: Dataset[DocFeed], shingleWords: Int = 3,
                   numHashes: Int = 8, bands: Int = 4,
                   threshold: Double = 0.5): Dataset[NearDupPair] = {
    import docsStream.sparkSession.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The band matcher's eviction is watermark-driven (TTLConfig.NONE +
    // lazy per-band sweep); without an event-time watermark the sweep
    // never arms and per-band state (full shingle arrays per doc) grows
    // without bound, SILENTLY. Fail at build time instead.
    require(!docsStream.isStreaming || docsStream.queryExecution.analyzed
        .exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark]),
      "nearDupPairs requires an event-time watermark on ts " +
        "(docsStream.withWatermark(\"ts\", ...)) — it bounds band state")
    val rows = numHashes / bands
    val sh = docsStream.toDF()
      .withColumn("shingles", graft.functions.SimFns.wordShingles(
        graft.functions.TextAnalysisFns.tokens(col("text")), shingleWords))
      .where(size(col("shingles")) > 0)
    val hCols = (0 until numHashes).map { j =>
      array_min(transform(col("shingles"),
        s => md5(concat(lit(s"$j:"), s)))).as(s"h$j")
    }
    val sig = sh.select(Seq(col("doc_id"), col("ts"), col("shingles")) ++ hCols: _*)
    val bandCols = (0 until bands).map { i =>
      val slice = (i * rows until (i + 1) * rows).map(j => col(s"h$j"))
      concat(lit(s"$i#"), md5(concat_ws(",", slice: _*)))
    }
    sig.select(explode(array(bandCols: _*)).as("band"),
        col("doc_id"), col("ts"), col("shingles"))
      .as[BandDoc]
      .groupByKey(_.band)
      .transformWithState(new BandNearDups(threshold),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
