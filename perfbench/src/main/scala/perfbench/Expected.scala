package perfbench

import org.apache.spark.sql.functions.col
import graft.operators.Warehouse

/** The warehouse state the reference lifecycle should leave, computed from
  * the generator's own records in plain Scala collections (no Spark, no
  * code of the program under test).
  *
  * `convo` holds, per analysed ticket, the location the customer last named
  * (lower case) and the serviceability flag the reference MERGE would
  * leave: its update list carries the flag (`extractor_bq_helpers.py:74-79`),
  * so a re-analysed ticket takes the flag of its new location.
  * `convoOp` is the index of the last convos route call that analysed the
  * ticket, so a wrong row is charged to the call that should have set it;
  * `reanalysed` holds the tickets analysed by more than one call.
  */
final case class Expected(tickets: Map[String, String], messages: Long,
                          users: Set[String], convo: Map[String, (String, String)],
                          convoOp: Map[String, Int], reanalysed: Set[String] = Set.empty)

/** One failed output check, charged to route call `op`. */
final case class CheckFailure(check: String, op: Int, detail: String)

object Expected {

  /** Check name of a stale serviceability flag on a re-analysed ticket.
    * `processConvos` writes the flag as `is_serviceable`, which is not in
    * `ColumnContracts.ConvoUpdateColumns`, so the MERGE keeps the first
    * analysis' flag. The benchmark reports these rows as failed
    * operations; every other failed check makes the run incorrect.
    */
  val StaleFlag = "convo_analysis.serviceable_stale"

  /** State after the backfill of `ds.initial`; `convoOp` is the index of
    * the backfill's convos route call.
    */
  def backfill(ds: Dataset, serviceable: String => String, convoOp: Int): Expected = {
    val months = graft.pipeline.Incremental.backfillMonths(ds.backfillFrom, ds.backfillUntil)
      .map { case (s, e) => (s.toLocalDateTime, e.toLocalDateTime) }
    val served = ds.initial.filter(t => months.exists { case (s, e) => Gen.inWindow(t.created, s, e) })
    Expected(
      served.map(t => t.id -> t.code).toMap,
      served.map(_.messageCount.toLong).sum,
      served.map(_.customer).toSet,
      served.map(t => t.id -> (t.location.toLowerCase, serviceable(t.location))).toMap,
      served.map(t => t.id -> convoOp).toMap)
  }

  /** `before` after window `w`: every ticket whose `date_changed` falls in
    * the window is re-fetched in full (messages are appended again, §2.8)
    * and re-analysed by convos route call `convoOp`.
    */
  def window(before: Expected, current: Map[String, Ticket], w: Window,
             serviceable: String => String, convoOp: Int): Expected = {
    val served = current.values.filter(t => Gen.inWindow(t.changed, w.start, w.end)).toVector
    before.copy(
      tickets = before.tickets ++ served.map(t => t.id -> t.code),
      messages = before.messages + served.map(_.messageCount.toLong).sum,
      users = before.users ++ served.map(_.customer),
      convo = before.convo ++ served.map(t =>
        t.id -> (t.location.toLowerCase, serviceable(t.location))),
      convoOp = before.convoOp ++ served.map(_.id -> convoOp),
      reanalysed = before.reanalysed ++ served.map(_.id).filter(before.convo.contains))
  }

  /** `normalize_location` (`utils/geocode_utils.py:5-14`). */
  def normalize(s: String): String =
    s.toLowerCase.replaceAll("[^a-z\\s]", "")
      .replaceAll("\\b(city of|municipality of)\\b", "")
      .replaceAll("\\bgen\\b", "general").replaceAll("\\bsto\\b", "santo")
      .replaceAll("\\s+", " ").trim

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }

  /** The reference's serviceability tag: "Yes" iff the best Levenshtein
    * ratio of the normalized location against the list is at least 90.
    */
  def serviceableFlag(names: Seq[String]): String => String = {
    val ns = names.map(normalize)
    loc => {
      val l = normalize(loc)
      val best = ns.map { n =>
        val m = math.max(l.length, n.length)
        if (m == 0) 100.0 else (1.0 - levenshtein(l, n).toDouble / m) * 100.0
      }.maxOption.getOrElse(Double.NegativeInfinity)
      if (best >= 90.0) "Yes" else "No"
    }
  }

  /** Compare the warehouse against `e`. Table-level mismatches are charged
    * to the last call of the route that writes the table (`lastOp`).
    */
  def check(wh: Warehouse, e: Expected, lastOp: String => Int): Seq[CheckFailure] = {
    val out = Seq.newBuilder[CheckFailure]
    def fail(check: String, op: Int, detail: String): Unit = out += CheckFailure(check, op, detail)

    def table(name: String, route: String): Option[org.apache.spark.sql.DataFrame] =
      if (wh.exists(name)) Some(wh.read(name))
      else { fail(s"$name.exists", lastOp(route), s"no table $name"); None }

    for (t <- table("tickets", "tickets")) {
      val tickets = t.select(col("id").cast("string"), col("code"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      val ids = tickets.map(_._1)
      if (ids.distinct.size != ids.size)
        fail("tickets.unique_id", lastOp("tickets"), s"${ids.size - ids.distinct.size} duplicated ids")
      if (tickets.toMap != e.tickets || tickets.size != e.tickets.size)
        fail("tickets.latest_version", lastOp("tickets"),
          s"${(tickets.toSet -- e.tickets.toSet).size} unexpected and " +
            s"${(e.tickets.toSet -- tickets.toSet).size} missing (id, code) rows")
    }
    for (t <- table("messages", "messages")) {
      val n = t.count()
      if (n != e.messages) fail("messages.rows", lastOp("messages"), s"$n rows, expected ${e.messages}")
    }
    for (t <- table("users", "messages")) {
      val users = t.select(col("id").cast("string")).collect().map(_.getString(0))
      if (users.toSet != e.users || users.length != e.users.size)
        fail("users.ids", lastOp("messages"),
          s"${users.length} rows, ${(users.toSet -- e.users).size} unexpected, " +
            s"${(e.users -- users.toSet).size} missing")
    }
    for (t <- table("convo_analysis", "convos")) {
      val convo = t.select(col("ticket_id").cast("string"), col("location"), col("is_serviceable"))
        .collect().map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""), r.getString(2)))
      val ids = convo.map(_._1)
      if (ids.distinct.length != ids.length || ids.toSet != e.convo.keySet)
        fail("convo_analysis.one_row_per_ticket", lastOp("convos"),
          s"${ids.length} rows for ${ids.distinct.length} tickets, expected ${e.convo.size}")
      for ((id, loc, flag) <- convo; (eLoc, eFlag) <- e.convo.get(id)) {
        if (loc.toLowerCase != eLoc)
          fail("convo_analysis.location", e.convoOp(id), s"$id: '$loc', expected '$eLoc'")
        if (flag != eFlag)
          fail(if (e.reanalysed(id)) StaleFlag else "convo_analysis.serviceable", e.convoOp(id),
            s"$id: $flag, expected $eFlag")
      }
    }
    out.result()
  }
}
