package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string functions re-expressing the reference's transform surface
  * (SURVEY.md §2.6) as pure Catalyst column expressions — all built-ins, so
  * the whole chain stays inside whole-stage codegen (no UDFs).
  */
object TextFns {

  /** F1 — reference-code extraction.
    * Reference: `core/extract/helpers/extraction_helpers.py:24-29` — regex
    * `Ref:\s*([A-Z0-9]+)\b` over `message`; null or no match →
    * "No Reference code".
    */
  val NoReferenceCode = "No Reference code"
  def extractReferenceCode(message: Column): Column = {
    val m = regexp_extract(message, "Ref:\\s*([A-Z0-9]+)\\b", 1)
    when(message.isNull || m === "", lit(NoReferenceCode)).otherwise(m)
  }

  /** F5 — tags array → CSV string; empty/null array → "".
    * Reference: `core/Ticket.py:60`.
    */
  def tagsCsv(tags: Column): Column =
    when(tags.isNull || size(tags) === 0, lit(""))
      .otherwise(array_join(tags, ","))

  /** F4 — custom_fields normalize: a list of exactly one element keeps that
    * element, anything else → null.
    * Reference: `extraction_helpers.py:47-49`.
    */
  def singleElementOrNull(arr: Column): Column =
    when(size(arr) === 1, element_at(arr, 1)).otherwise(lit(null))

  /** F7 — `clean_str`: ñ-variants → n, lowercase; null-safe.
    * Reference: `core/Geocode.py:36-40`.
    */
  def cleanStr(c: Column): Column =
    lower(regexp_replace(regexp_replace(c, "ñ|Ñ", "n"), "ã±", "n"))

  /** F8 — `normalize_location`: lowercase, strip non-letters, drop
    * "city of"/"municipality of", expand abbreviations, squeeze spaces.
    * Reference: `utils/geocode_utils.py:5-14`. (Mojibake repair is handled
    * by cleanStr's ã± rule; byte-level latin1 repair intentionally omitted —
    * inputs here are valid UTF-8.)
    */
  def normalizeLocation(c: Column): Column = {
    val lowered  = lower(c)
    val letters  = regexp_replace(lowered, "[^a-z\\s]", "")
    val dropped  = regexp_replace(letters, "\\b(city of|municipality of)\\b", "")
    val gen      = regexp_replace(dropped, "\\bgen\\b", "general")
    val sto      = regexp_replace(gen, "\\bsto\\b", "santo")
    trim(regexp_replace(sto, "\\s+", " "))
  }

  /** F15 — name resolution: name → email → "Unknown Name", treating
    * empty/whitespace strings as missing.
    * Reference: `core/TicketMessageProcessor.py:196-205`.
    */
  val UnknownName = "Unknown Name"
  def nameCoalesce(name: Column, email: Column): Column =
    coalesce(nullif(trim(name), lit("")), nullif(trim(email), lit("")), lit(UnknownName))
}
