package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.llm.LlmGateway
import graft.operators.Warehouse
import graft.pipeline.{ColumnContracts, Incremental, Pipelines}
import graft.sources.{LiveAgentApi, TicketRef}

/** One route call: its position in the run, route name, wall time, and the
  * error it threw or the output check it failed on the spot.
  */
final case class Op(idx: Int, route: String, seconds: Double, error: Option[String])

/** Drives the `Pipelines` routes the way the reference scheduler does
  * (`api/app.py:45-55`): agents → tags → tickets → messages → convos →
  * metrics, over one warehouse. Every route call is an operation, timed
  * and wrapped in a `pipeline.<route>` span.
  */
final class Lifecycle(spark: SparkSession, wh: Warehouse, api: LiveAgentApi,
                      llm: LlmGateway, ds: Dataset, tracer: Tracer,
                      firstOp: Int = 0) {
  import spark.implicits._

  private val p = new Pipelines(spark, wh, api, llm)
  val ops = ArrayBuffer.empty[Op]

  val ref: DataFrame = ds.gazetteer.map(g => (g.code, g.name, g.level))
    .toDF("psgc_code", "ref_name", "geographic_level")
  val svc: DataFrame = ds.serviceable.toDF("svc_name")

  def nextOp: Int = firstOp + ops.size

  /** Conversations the convos route calls landed. */
  var convosLanded = 0L

  /** Run one route call; `check` inspects its result (None = as expected). */
  private def op[T](route: String, check: T => Option[String] = (_: T) => None)(f: => T): Option[T] = {
    val t0 = System.nanoTime()
    val (res, err) =
      try {
        val r = tracer.span(s"pipeline.$route")(f)
        (Some(r), check(r))
      } catch { case NonFatal(e) => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    ops += Op(nextOp, route, (System.nanoTime() - t0) / 1e9, err)
    res
  }

  private def fmt(t: Timestamp): String = Gen.fmt(t.toLocalDateTime)

  /** Tickets this run wrote: `processTickets` stamps `datetime_extracted`. */
  private def refsOf(runTs: Timestamp): Seq[TicketRef] =
    wh.read("tickets")
      .where(col("datetime_extracted") === lit(runTs).cast("timestamp_ntz"))
      .select(col("id").cast("string"), col("agentid").cast("string"),
        col("owner_name").cast("string"))
      .collect().map(r => TicketRef(r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSeq.sortBy(_.ticketId)

  /** The convo route's input: messages, optionally of some tickets only. */
  def messagesOf(keys: Option[DataFrame]): DataFrame = {
    val m = wh.read("messages").select(col("ticket_id"), col("sender_type"),
      col("message"), col("message_datecreated").as("datecreated"))
    keys.fold(m)(k => m.join(k, Seq("ticket_id"), "left_semi"))
  }

  private def metricsCheck(n: Long)(r: (Long, Long)): Option[String] =
    if (r == ((0L, n))) None else Some(s"metrics returned $r, expected (0, $n)")

  private def convos(messages: DataFrame, runTs: Timestamp): Unit =
    op[Long]("convos")(p.processConvos(messages, ref, "ref_name", svc, "svc_name",
      ColumnContracts.ConvoUpdateColumns, runTs)).foreach(convosLanded += _)

  /** First deployment on an empty warehouse: dimensions, then tickets and
    * their messages per backfill month, then convo analysis of every
    * conversation and the metrics job. Returns the convos call's index.
    */
  def backfill(expectedTickets: Int): Int = {
    op("agents")(p.refreshAgents())
    op("tags")(p.refreshTags())
    val months = Incremental.backfillMonths(ds.backfillFrom, ds.backfillUntil)
    for ((s, e) <- months) {
      val runTs = new Timestamp(e.getTime + 1000)
      op("tickets")(p.processTickets("date_created", fmt(s), fmt(e), runTs,
        ColumnContracts.TicketsUpdateColumns))
      op("messages")(p.processTicketMessages(refsOf(runTs)))
    }
    val runTs = new Timestamp(months.last._2.getTime + 2000)
    val convoOp = nextOp
    convos(messagesOf(None), runTs)
    val keys = wh.read("tickets").select(col("id").cast("string").as("ticket_id"))
    op[(Long, Long)]("metrics", metricsCheck(expectedTickets))(p.metrics(keys, "convo_analysis", "ticket_id"))
    convoOp
  }

  /** One 6-hour window on a standing warehouse: tickets changed in the
    * window, their messages, convo analysis of those tickets, metrics.
    * Returns the convos call's index.
    */
  def window(w: Window): Int = {
    val runTs = Timestamp.valueOf(w.end.plusSeconds(1))
    op("tickets")(p.processTickets("date_changed", Gen.fmt(w.start), Gen.fmt(w.end), runTs,
      ColumnContracts.TicketsUpdateColumns))
    var refs = Seq.empty[TicketRef]
    op("messages") { refs = refsOf(runTs); p.processTicketMessages(refs) }
    val keys = refs.map(_.ticketId).toDF("ticket_id")
    val convoOp = nextOp
    convos(messagesOf(Some(keys)), runTs)
    op[(Long, Long)]("metrics", metricsCheck(refs.size))(p.metrics(keys, "convo_analysis", "ticket_id"))
    convoOp
  }

  /** Index of the last call of `route`. */
  def lastOp(route: String): Int = ops.reverseIterator.find(_.route == route).map(_.idx)
    .getOrElse(nextOp - 1)
}
