package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.operators.{Convo, GeocodeJoin, Warehouse}

/** `lifecycle`: the reference lifecycle as one unit — a first deployment
  * on an empty warehouse (`Lifecycle.backfill`: dimensions, tickets and
  * messages per backfill month, convo analysis of every conversation,
  * metrics) followed by consecutive 6-hour windows (`Lifecycle.window`),
  * each changing about 1% of the tickets and adding new ones. Every unit
  * starts from an empty warehouse. Attempted operations are route calls;
  * the latency percentiles are over windows, the scheduler's recurring
  * operation.
  */
final class LifecycleBench(spark: SparkSession, a: Main.Args, sessionS: Double) {
  import Main._
  import LifecycleBench._

  private val whRoot = a.work.resolve("warehouse")
  private val (ds, genS) = {
    val reps = (1 to SetupReps).map(_ => time(Gen.generate(a.seed, Sizes)))
    (reps.last._1, median(reps.map(_._2)))
  }
  private val svcFlag = Expected.serviceableFlag(ds.serviceable)
  private val source = new BenchApi(ds)
  private val llm = new BenchLlm(BenchLlm.CallDelayNanos)
  private var opCount = 0

  def run(): String = {
    val (_, warmS) = time(warmup())
    val setupS = sessionS + warmS + genS
    val plain = phase(new Tracer(spark, false))
    if (!a.trace) result(Seq(plain), endToEnd(setupS, plain), _.startsWith(Expected.StaleFlag))
    else traced(plain)
  }

  /** A backfill of a small dataset of another seed, so JIT and codegen are
    * warm before the first timed unit.
    */
  private def warmup(): Unit = {
    val wds = Gen.generate(a.seed ^ 0x5eed, WarmupSizes)
    val dir = a.work.resolve("warmup")
    val api = new BenchApi(wds)
    val lc = new Lifecycle(spark, new Warehouse(spark, dir.toString), api, llm, wds,
      new Tracer(spark, false))
    lc.backfill(wds.initial.size)
    wds.windows.foreach { w => api.advance(w); lc.window(w) }
    require(lc.ops.forall(_.error.isEmpty), s"warm-up failed: ${lc.ops.filter(_.error.nonEmpty)}")
    rmrf(dir)
  }

  /** The last timed unit's lifecycle and warehouse (for the traced run's
    * standalone layer calls).
    */
  private var last: (Lifecycle, Warehouse) = _
  /** Per timed phase: conversations landed, bytes and files the warehouse
    * wrote, and the backfill and window latencies.
    */
  private var landed = 0L
  private var written = (0L, 0L)
  private val backfillS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val windowS = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def phase(tracer: Tracer, api: graft.sources.LiveAgentApi = source,
                    gateway: graft.llm.LlmGateway = llm): Phase = {
    val ops = Seq.newBuilder[Op]
    val failures = Seq.newBuilder[CheckFailure]
    landed = 0L
    written = (0L, 0L)
    backfillS.clear()
    windowS.clear()
    val units = loop(a.seconds) { () =>
      rmrf(whRoot)
      source.reset()
      val wh = if (tracer.enabled) new TimedWarehouse(spark, whRoot.toString, tracer)
               else new Warehouse(spark, whRoot.toString)
      val lc = new Lifecycle(spark, wh, api, gateway, ds, tracer, opCount)
      var current = ds.initial.map(t => t.id -> t).toMap
      val t0 = System.nanoTime()
      val (convoOp, bs) = time(tracer.span("backfill")(lc.backfill(ds.initial.size)))
      var e = Expected.backfill(ds, svcFlag, convoOp)
      backfillS += bs
      for (w <- ds.windows) {
        source.advance(w)
        current = current ++ w.tickets.map(t => t.id -> t)
        val (op, ws) = time(tracer.span("window")(lc.window(w)))
        e = Expected.window(e, current, w, svcFlag, op)
        windowS += ws
      }
      val s = (System.nanoTime() - t0) / 1e9
      failures ++= Expected.check(wh, e, lc.lastOp)
      ops ++= lc.ops
      landed += lc.convosLanded
      opCount += lc.ops.size
      wh match {
        case t: TimedWarehouse => written = (written._1 + t.bytesWritten, written._2 + t.filesWritten)
        case _ =>
      }
      last = (lc, wh)
      s
    }
    val o = ops.result()
    val f = failures.result()
    val thrown = o.filter(_.error.nonEmpty)
    Phase(units, windowS.map(_ * 1000).toSeq, o.size,
      f.map(_.op).toSet ++ thrown.map(_.idx),
      f.map(x => s"${x.check}: ${x.detail}") ++ thrown.map(o => s"${o.route}#${o.idx}: ${o.error.get}"))
  }

  /** Per-layer metrics of a traced phase. The tracing overhead compares it
    * with an untraced phase run just before it, so both are equally warm.
    */
  private def traced(plain: Phase): String = {
    val reference = phase(new Tracer(spark, false))
    val tracer = new Tracer(spark, true)
    val api = new TracedApi(source)
    Counters.reset()
    val p = phase(tracer, api, new TracedLlm(llm))
    tracer.drain()
    val n = p.unitSeconds.size.toDouble
    val (lc, wh) = last
    val calls = Counters.llmCalls.sum.toDouble
    val storage = TimedWarehouse.du(whRoot).toDouble

    // one standalone computation of each convo-route layer on the convo
    // route's inputs over every conversation in the warehouse
    val reassemblyS = noop(Convo.conversationText(lc.messagesOf(None)))
    val analysed = wh.read("convo_analysis").select(col("ticket_id"), col("location"))
    val located = analysed.where(col("location") =!= "")
    val best = GeocodeJoin.bestMatch(located, lc.ref, "location", "ref_name", "ticket_id")
    val bestS = noop(best)
    val accepted = best.where(col("accepted")).count().toDouble / math.max(1L, located.count())
    val tagS = noop(GeocodeJoin.tagViable(analysed, lc.svc, "location", "svc_name"))
    tracer.stop()
    writeTrace(a, tracer)

    def spanS(name: String): Double = tracer.seconds(_ == name) / n
    val values = Map(
      "llm.calls" -> calls / n,
      "llm.calls_per_convo" -> calls / math.max(1L, landed),
      "llm.busy_s" -> Counters.llmNanos.sum / 1e9 / n,
      "llm.fallback_errors" -> Counters.llmFallback.sum / n,
      "geocode.best_match_s" -> bestS, "geocode.tag_viable_s" -> tagS,
      "geocode.accepted_ratio" -> accepted, "convo.reassembly_s" -> reassemblyS,
      "warehouse.overwrite_s" -> spanS("warehouse.overwrite"),
      "warehouse.append_s" -> spanS("warehouse.append"),
      "warehouse.upsert_s" -> spanS("warehouse.upsert"),
      "warehouse.bytes_written" -> written._1 / n,
      "warehouse.files_written" -> written._2 / n,
      "warehouse.write_amplification" -> written._1 / math.max(1.0, api.bytes.toDouble),
      "warehouse.storage_mb" -> storage / 1e6,
      "warehouse.bytes_per_user_byte" -> storage / math.max(1.0, source.heldBytes.toDouble),
      "sources.pages" -> api.pages / n, "sources.rows" -> api.rows / n,
      "sources.fetch_s" -> api.nanos / 1e9 / n,
      "pipeline.agents_s" -> spanS("pipeline.agents"),
      "pipeline.tags_s" -> spanS("pipeline.tags"),
      "pipeline.tickets_s" -> spanS("pipeline.tickets"),
      "pipeline.messages_s" -> spanS("pipeline.messages"),
      "pipeline.convos_s" -> spanS("pipeline.convos"),
      "pipeline.metrics_s" -> spanS("pipeline.metrics"),
      "pipeline.backfill_s" -> median(backfillS.toSeq),
      "pipeline.window_s" -> median(windowS.toSeq),
      "jvm.peak_heap_mb" -> jvmPeakHeapMb,
      "op_p90_ms" -> quantile(p.opMs, 0.9),
      "trace.overhead_s" -> (median(p.unitSeconds) - median(reference.unitSeconds)),
      "ops.fail_ratio" -> p.failedOps.size.toDouble / p.attempted
    ) ++ sparkLayer(tracer, p.unitSeconds.size)
    result(Seq(plain, reference, p), perLayer(values), _.startsWith(Expected.StaleFlag))
  }
}

object LifecycleBench {
  /** The unit's input: a first deployment of 100 tickets created in one
    * backfill month, then two windows. The warm-up is a small backfill of
    * another seed.
    */
  val Sizes = perfbench.Sizes(tickets = 100, months = 1, windows = 2, newPerWindow = 3,
    changeShare = 0.02, correctionShare = 0.25)
  val WarmupSizes = perfbench.Sizes(tickets = 10, months = 1, windows = 0, newPerWindow = 0,
    changeShare = 0.0, correctionShare = 0.0)
}
