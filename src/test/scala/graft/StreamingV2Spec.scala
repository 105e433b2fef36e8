package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Round-3 streaming additions: the Spark 4 transformWithState API
  * (arbitrary stateful processing v2 on the RocksDB store), stream-stream
  * LEFT OUTER interval join with watermark-gated null emission, and
  * Trigger.AvailableNow (the drain-everything-then-stop trigger — the
  * streaming form of the reference's scheduler-driven catch-up batch).
  */
class StreamingV2Spec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("transformWithState: per-user lifetime totals survive across batches") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // the v2 state API needs the multi-column-family state layout — RocksDB only
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val out = Streams.runningUserTotals(mem.toDS())
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("tws_out").start()
    try {
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.25),
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 2.50),
        Event(3, ts("2024-01-01 10:02:00"), 2, "view", 3.00))
      q.processAllAvailable()
      mem.addData(Event(4, ts("2024-01-01 10:10:00"), 1, "click", 0.25))
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .as[Streams.UserTotals].collect().map(u => (u.user_id, u.n_events, u.total_cents))
      // batch 1 emits both users' totals; batch 2 re-emits user 1 with
      // state carried over — not recomputed from the batch alone
      assert(rows.toSet == Set((1L, 2L, 375L), (2L, 1L, 300L), (1L, 3L, 400L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState TTL: an idle key is evicted and restarts from zero") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    // 1.5 s processing-time TTL. NB: in TimeMode.ProcessingTime the
    // query never goes idle (processing-time ticks keep scheduling
    // batches), so processAllAvailable / AvailableNow+awaitTermination
    // both stall — poll the memory sink for the expected output and stop
    // the query explicitly instead. One checkpoint across both runs:
    // state persists, and the wall-clock gap between them exceeds the
    // TTL.
    val out = Streams.runningUserTotalsTtl(mem.toDS(), ttlMs = 1500)
    val ckpt = java.nio.file.Files
      .createTempDirectory("tws_ttl_ckpt").toString
    // the memory sink cannot recover from a checkpoint — collect through
    // foreachBatch (recoverable) into a driver-side buffer instead
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def rowsNow() = { import scala.jdk.CollectionConverters._; buf.asScala.toSet }
    def runUntil(pred: Set[(Long, Long, Long)] => Boolean): Set[(Long, Long, Long)] = {
      val q = out.writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Streams.UserTotals], _: Long) =>
          b.collect().foreach(u => buf.add((u.user_id, u.n_events, u.total_cents)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!pred(rowsNow()) && System.nanoTime() < deadline)
          Thread.sleep(100)
        rowsNow()
      } finally q.stop()
    }
    try {
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.25),
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 2.50))
      val first = runUntil(_ == Set((1L, 2L, 375L)))
      assert(first == Set((1L, 2L, 375L)), first.mkString(","))
      Thread.sleep(2500) // idle past the TTL (processing time)
      buf.clear()
      mem.addData(Event(3, ts("2024-01-01 10:10:00"), 1, "click", 0.25))
      // foreachBatch is at-least-once: if run 1's offset commit raced
      // q.stop() (common under full-suite load), run 2 REPLAYS that
      // batch and re-emits (1,2,375) into the buffer. The replay is
      // TTL-safe — a replayed batch reuses its original batch timestamp
      // from the offset log, so the rewritten state's expiration is
      // still run-1 wall clock and batch 1 still sees it expired. So
      // assert the state-restart sentinel rather than set equality:
      // the fresh post-TTL total (1,1,25) must appear, and (1,3,400) —
      // what run 2 would emit had the state survived — must not.
      val second = runUntil(_.contains((1L, 1L, 25L)))
      assert(second.contains((1L, 1L, 25L)), second.mkString(","))
      assert(!second.contains((1L, 3L, 400L)), second.mkString(","))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("left-outer interval join: unmatched left emitted null-padded after watermark") {
    implicit val sq = spark.sqlContext
    val lMem = MemoryStream[Event]
    val rMem = MemoryStream[Event]
    val l = lMem.toDF().select(col("event_id").as("l_id"), col("ts").as("l_ts"),
      col("user_id").as("l_uid"))
    val r = rMem.toDF().select(col("event_id").as("r_id"), col("ts").as("r_ts"),
      col("user_id").as("r_uid"))
    val joined = Streams.leftOuterIntervalJoin(l, r,
      Seq("l_uid" -> "r_uid"), "l_ts", "r_ts", "1 hour", "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("loj_out").start()
    try {
      // user 1 has a right-side match 10 min earlier; user 2 has none
      lMem.addData(Event(100, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
                   Event(101, ts("2024-01-01 10:05:00"), 2, "click", 1.0))
      rMem.addData(Event(200, ts("2024-01-01 09:50:00"), 1, "buy", 5.0))
      q.processAllAvailable()
      // advance BOTH watermarks past 10:05 + lookback, then force the
      // eviction micro-batch: outer results surface one batch after the
      // watermark closes the candidate window
      lMem.addData(Event(102, ts("2024-01-01 12:00:00"), 9, "click", 1.0))
      rMem.addData(Event(201, ts("2024-01-01 12:00:00"), 9, "buy", 1.0))
      q.processAllAvailable()
      lMem.addData(Event(103, ts("2024-01-01 12:30:00"), 9, "click", 1.0))
      rMem.addData(Event(202, ts("2024-01-01 12:30:00"), 9, "buy", 1.0))
      q.processAllAvailable()
      val rows = spark.table("loj_out")
        .select(col("l_id"), col("r_id")).as[(Long, Option[Long])].collect().toMap
      assert(rows(100L).contains(200L))       // matched pair joined
      assert(rows.get(101L).exists(_.isEmpty)) // unmatched left null-padded
    } finally q.stop()
  }

  test("transformWithState: state recovered across query restart from checkpoint") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-ckpt").toString
    // memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape (same as the engine's upsert sinks)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def sink(ds: org.apache.spark.sql.Dataset[Streams.UserTotals]) =
      ds.writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[Streams.UserTotals], _: Long) =>
            buf.synchronized {
              buf ++= b.collect().map(u => (u.user_id, u.n_events, u.total_cents))
            }
            ()
        }
    try {
      val mem = MemoryStream[Event]
      val q1 = sink(Streams.runningUserTotals(mem.toDS())).start()
      mem.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.00))
      q1.processAllAvailable()
      q1.stop()
      // a NEW query resumes from the checkpoint over the same source
      // (offsets continue past the committed batch): the user-1 total
      // carries the pre-restart state, not a from-zero recount
      mem.addData(Event(2, ts("2024-01-01 10:05:00"), 1, "click", 0.50))
      val q2 = sink(Streams.runningUserTotals(mem.toDS())).start()
      try {
        q2.processAllAvailable()
        val rows = buf.synchronized(buf.toSet)
        assert(rows.contains((1L, 2L, 150L)),
          s"state not recovered across restart: $rows")
      } finally q2.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("NovelTypes: each category emitted once on first appearance, known types silent") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = Streams.novelTypes(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("novel_out").start()
    try {
      mem.addData(
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:02:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // batch 2: a known type (silent) and a genuinely new one
      mem.addData(
        Event(4, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Event(5, ts("2024-01-01 10:11:00"), 1, "error", 1.0))
      q.processAllAvailable()
      val rows = spark.table("novel_out")
        .as[Streams.NovelType].collect()
        .map(n => (n.event_type, n.first_seen)).toSet
      assert(rows == Set(
        ("click", ts("2024-01-01 10:00:00")), // min ts within the first batch
        ("view", ts("2024-01-01 10:02:00")),
        ("error", ts("2024-01-01 10:11:00"))))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("MapState: per-user per-type counts update only touched entries") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val q = Streams.perTypeCounts(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("mapstate_out").start()
    try {
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 10:02:00"), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("mapstate_out")
        .as[Streams.TypeCount].collect().map(c => (c.user_id, c.event_type, c.n)).toSet
      // batch 1 emits click=2 and view=1; batch 2 re-emits ONLY the
      // touched click entry, counted on top of the persisted map
      assert(rows == Set((1L, "click", 2L), (1L, "view", 1L), (1L, "click", 3L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeV2: event-time timers close sessions like GroupStateTimeout") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val events = mem.toDS().withWatermark("ts", "10 minutes").as[Event]
    val q = Streams.sessionizeV2(events, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessv2_out").start()
    try {
      // the same feed as the flatMapGroupsWithState sessionize spec —
      // both implementations must close the same sessions
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 7, "view", 1.0),
        Event(3, ts("2024-01-01 11:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(9, ts("2024-01-01 13:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(10, ts("2024-01-01 15:00:00"), 8, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessv2_out")
        .select("user_id", "session_start", "n_events")
        .as[(Long, Timestamp, Long)].collect().toSet
      assert(rows.contains((7L, ts("2024-01-01 10:00:00"), 2L)))
      assert(rows.contains((7L, ts("2024-01-01 11:00:00"), 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeV2: in-gap late event moves the session start earlier") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Event]
    val events = mem.toDS().withWatermark("ts", "2 hours").as[Event]
    val q = Streams.sessionizeV2(events, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessv2_late_out").start()
    try {
      // batch 1 opens the session at 10:10; batch 2 delivers a
      // watermark-admissible event at 10:00 — in gap, BEFORE the stored
      // start. The emitted session must match the batch sessionize result
      // for the same events: start 10:00, 2 events.
      mem.addData(Event(1, ts("2024-01-01 10:10:00"), 7, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts("2024-01-01 10:00:00"), 7, "view", 1.0))
      q.processAllAvailable()
      // unrelated user far ahead: watermark passes 10:40, timer fires
      mem.addData(Event(3, ts("2024-01-01 20:00:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessv2_late_out")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(rows.contains((7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"), 2L)))
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static join: each micro-batch enriched from the static dim") {
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("d_uid", "tier")
    val mem = MemoryStream[Event]
    val joined = mem.toDF().join(broadcast(dim), col("user_id") === col("d_uid"), "left")
      .select(col("event_id"), col("tier"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_out").start()
    try {
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:01:00"), 2, "view", 1.0),
        Event(3, ts("2024-01-01 10:02:00"), 9, "view", 1.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("ss_out").as[(Long, Option[String])].collect().toMap
      assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    } finally q.stop()
  }

  test("streaming MinHash-LSH near-dups: candidate parity with batch dedup_minhash_lsh over the replayed sf0.001 corpus") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the real corpus, replayed as a 3-micro-batch stream with one shared
    // event time (the watermark horizon covers the whole feed, so every
    // doc pair is co-resident — the batch job's corpus window)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val t0 = ts("2024-01-01 10:00:00")
    val feed = docs.map { case (id, text) => Streams.DocFeed(id, t0, text) }
    val expected = graft.operators.Dedup.minhashLsh(
        Tables.load(spark, "/root/testdata/sf0.001", "documents"),
        "doc_id", "text", 3, 8, 4, 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val mem = MemoryStream[Streams.DocFeed]
    val out = Streams.nearDupPairs(
      mem.toDS().withWatermark("ts", "1 hour").as[Streams.DocFeed],
      shingleWords = 3, numHashes = 8, bands = 4, threshold = 0.2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // a pair colliding in several bands emits once per band — distinct
      // is the consumer's move, mirroring the batch .distinct()
      val got = spark.table("neardup_out")
        .as[(Long, Long, Double)].collect().toSet
      assert(expected.nonEmpty, "fixture must contain near-dups")
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    } finally {
      q.stop()
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming decontamination: span parity with batch contaminationSpans over the replayed sf0.001 corpus; plan is stateless") {
    implicit val sq = spark.sqlContext
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val L = 12
    // batch ground truth: the suffix-front operator
    val expected = graft.operators.SuffixDedup.contaminationSpans(
        docs, "doc_id", "text", col("source") === "src0", L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture must contain contamination")
    // streaming twin: static eval gram set + stateless per-doc spans
    val evalGrams = Streams.evalGramSet(
      docs.where(col("source") === "src0"), "text", L)
    val feed = docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, text) =>
        Streams.DocFeed(id, ts("2024-01-01 10:00:00"), text) }
    val mem = MemoryStream[Streams.DocFeed]
    val out = Streams.contaminationSpansStream(mem.toDS(), evalGrams, L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("contam_out").start()
    try {
      feed.grouped(math.max(1, feed.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val got = spark.table("contam_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      // stateless contract: no state store operator in the streaming plan
      assert(!q.lastProgress.toString.contains("stateOperators\" : [ {"),
        "decontamination stream must not carry state")
    } finally q.stop()
  }

  test("nearDupPairs refuses a watermark-less stream (unbounded band state)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Streams.DocFeed]
    val e = intercept[IllegalArgumentException] {
      Streams.nearDupPairs(mem.toDS(), shingleWords = 3,
        numHashes = 8, bands = 4, threshold = 0.2)
    }
    assert(e.getMessage.contains("watermark"))
  }

  test("Trigger.AvailableNow: drains a file source then self-terminates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    Seq(
      Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 10:50:00"), 2, "click", 2.0),
      Event(3, ts("2024-01-01 11:10:00"), 1, "view", 3.0)
    ).toDS().write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .parquet(dir)
    val agg = Streams.windowedCounts(stream, "1 hour", "30 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("avnow_out")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000)) // self-terminates once drained
    val rows = spark.table("avnow_out")
      .select("window_start", "event_type", "n_events")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(rows == Set(
      (ts("2024-01-01 10:00:00"), "click", 2L),
      (ts("2024-01-01 11:00:00"), "view", 1L)))
  }
}
