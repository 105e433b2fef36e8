package graft.pipeline

/** Per-table column contracts from the reference — the field whitelist and
  * MERGE update lists that define its upsert semantics.
  *
  * The load-bearing asymmetry (SURVEY.md §7.3, preserved deliberately):
  * `contact_num` and `payment` ARE in the LLM extraction whitelist
  * (`extraction_helpers.py:132-137`) and get staged, but are NOT in the
  * convo_analysis MERGE update list (`extractor_bq_helpers.py:74-79`) — so
  * they land on first insert and are never updated afterwards.
  */
object ColumnContracts {

  /** LLM extraction whitelist (P11) — `extraction_helpers.py:132-137`,
    * `core/schemas/ConvoResponse.py:3-19` (minus the gateway's own
    * `model`, which is appended with `tokens` by the operator).
    */
  val LlmExpectedFields: Seq[String] = Seq(
    "service_category", "summary", "intent_rating", "engagement_rating",
    "clarity_rating", "resolution_rating", "sentiment_rating", "location",
    "schedule_date", "schedule_time", "car", "contact_num", "payment",
    "inspection", "quotation")

  /** MERGE update lists — `extractor_bq_helpers.py:61-79`. */
  val TicketsUpdateColumns: Seq[String] = Seq(
    "owner_contactid", "owner_email", "owner_name", "departmentid", "agentid",
    "status", "tags", "code", "channel_type", "date_created", "date_changed",
    "date_resolved", "last_activity", "last_activity_public", "public_access_urlcode",
    "subject", "custom_fields", "date_due", "date_deleted", "datetime_extracted")

  val UsersUpdateColumns: Seq[String] = Seq("name", "email", "role", "avatar_url")

  /** convo_analysis: note contact_num/payment excluded (see scaladoc).
    * `is_serviceable` is the reference's `viable`: the flag
    * `GeocodeJoin.tagViable` writes, so a re-analysed ticket whose
    * corrected location changes its serviceability updates it.
    */
  val ConvoUpdateColumns: Seq[String] = Seq(
    "service_category", "summary", "intent_rating", "engagement_rating",
    "clarity_rating", "resolution_rating", "sentiment_rating", "location",
    "schedule_date", "schedule_time", "car", "inspection", "quotation",
    "tokens", "date_extracted", "address", "is_serviceable", "model")
}
