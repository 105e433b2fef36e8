package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time semantics from SURVEY.md §1.4 / §2.6 — Manila wall-clock handling
  * and the reference's schedule date+time parsing gymnastics. All pure
  * column expressions (codegen-friendly).
  */
object TimeFns {

  val ManilaTz = "Asia/Manila"

  /** F2 — `set_timezone`: parse-with-coerce, assume UTC when naive, convert
    * to Asia/Manila, drop the zone (naive wall-clock).
    * Reference: `utils/date_utils.py:4-12`.
    * In Spark the "drop tz" step is representational: we produce the Manila
    * wall-clock instant; callers store it in a TIMESTAMP_NTZ column.
    */
  def toManilaWallClock(ts: Column): Column =
    from_utc_timestamp(ts, ManilaTz)

  /** F2 for string inputs: coerce-parse (invalid → null) then convert. */
  def parseToManila(s: Column): Column =
    toManilaWallClock(try_to_timestamp(s))

  /** 6-hour extraction window, floored to the hour:
    * start = floor_hour(now_mnl − 6h), end = start + 6h − 1s.
    * Reference: `utils/date_utils.py:14-21`, `extraction_helpers.py:88-93`.
    * `now` is passed in (a literal run timestamp) — never per-row now().
    */
  def windowStart(nowMnl: Column): Column =
    date_trunc("hour", nowMnl - expr("INTERVAL 6 HOURS"))
  def windowEnd(nowMnl: Column): Column =
    windowStart(nowMnl) + expr("INTERVAL 6 HOURS") - expr("INTERVAL 1 SECOND")

  /** P2 — half-open range predicate over a window. */
  def inWindow(c: Column, start: Column, end: Column): Column =
    c >= start && c < end

  /** Backfill month window (`is_initial` path): calendar month of the
    * given date, [month-start 00:00:00, month-end 23:59:59].
    * Reference: `utils/tickets_util.py:6-8` (`set_filter` DATE_CREATED).
    */
  def monthWindowStart(d: Column): Column = date_trunc("month", d)
  def monthWindowEnd(d: Column): Column =
    last_day(d.cast("date")).cast("timestamp") +
      expr("INTERVAL 23 HOURS") + expr("INTERVAL 59 MINUTES") +
      expr("INTERVAL 59 SECONDS")

  /** F6 — schedule date+time combine.
    * Reference: `extraction_helpers.py:164-216`:
    *  - date parsed with coerce (unparseable → null row result)
    *  - time cleaned (strip spaces/periods, uppercase) then parsed as
    *    `%I%p` ("3PM") or `%I:%M%p` ("10:30AM"); failure → midnight
    *  - combined into a single naive timestamp.
    */
  def combineScheduleDateTime(dateStr: Column, timeStr: Column): Column = {
    val d    = try_to_timestamp(dateStr)
    // one compiled pass (the composed when/regexp chain re-evaluated the
    // same regex ~8x per row through the CASE tree)
    val secs = graft.expressions.ParseScheduleTime(timeStr)
    when(d.isNull, lit(null).cast("timestamp"))
      .otherwise(date_trunc("day", d) +
        make_dt_interval(lit(0), lit(0), lit(0), secs.cast("double")))
  }
}
