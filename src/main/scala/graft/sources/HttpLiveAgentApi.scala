package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

/** S3 — the production HTTP transport behind [[LiveAgentApi]]: a real
  * REST client for LiveAgent API v3, mirroring the reference client's
  * request/response envelope (`core/LiveAgentClient.py:29-48` headers +
  * throttle, `:50-90` response handling, `:152-185` page-loop contract)
  * while [[FixtureApi]] remains the test-injection seam.
  *
  * Request shape: GET `{base}/{endpoint}?_page=N&_perPage=M&...filters`
  * with `Accept`/`Content-Type: application/json` and the key in an
  * `apiKey` header (`LiveAgentClient.py:29-34`). The `_filters` JSON
  * built by [[LiveAgentSource.windowFilters]] rides through as a query
  * param (`utils/tickets_util.py:5-15`).
  *
  * Response → page contract (the Either the page loop consumes):
  *  - 2xx JSON array → its elements (`LiveAgentClient.py:166-167`)
  *  - 2xx JSON object with a `"data"` array → that array's elements
  *    (`:168-169`)
  *  - 2xx JSON object WITHOUT `"data"` → ONE item: the object itself.
  *    This serves the point-lookup endpoints (`users/{id}`,
  *    `core/User.py:16-20`, where the body IS the record); the
  *    reference's list-paginate treats this shape as
  *    "unexpected structure" and stops — callers here only request
  *    page 1 of point endpoints, and generic pagination stays bounded
  *    by `maxPages`.
  *  - 2xx non-JSON → empty page (stops pagination; the reference wraps
  *    the text as `{"message": ...}`, which its page loop then rejects
  *    as unexpected — same net effect, no fake row)
  *  - non-2xx → Left(ApiError(status, body `message` if the body is a
  *    JSON object carrying one, else `HTTP {status}`)) (`:71-78`)
  *  - transport failure / timeout → Left(ApiError(0, reason)); the
  *    reference logs and its page loop breaks (`:114-136`) — a Left
  *    stops the loop here the same way.
  *
  * Throttling: pass ONE [[RateLimiter]] — either here (the reference
  * puts it inside the client) or at the call site (`fetchPages`/
  * `fetchUsers` take one), not both, or the delays compound.
  *
  * Scale note: this transport is driver-side by design — ingest
  * parallelism is bounded by the API's 180 req/min cap, not the
  * cluster; distribution starts once pages land in a DataFrame.
  */
final class HttpLiveAgentApi(
    baseUrl: String,
    apiKey: String,
    limiter: Option[RateLimiter] = None,
    timeoutMillis: Int = 10000) extends LiveAgentApi {

  require(apiKey.nonEmpty, "API key cannot be empty.") // LiveAgentClient.py:18-19

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  override def fetchPage(endpoint: String, page: Int, perPage: Int,
                         filters: Map[String, String]): Either[ApiError, Seq[String]] = {
    // _page/_perPage last so they win over a caller-supplied duplicate
    val params = (filters.toSeq :+
      ("_page" -> page.toString) :+ ("_perPage" -> perPage.toString))
      .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
    val url =
      s"${baseUrl.stripSuffix("/")}/${endpoint.stripPrefix("/")}?$params"
    limiter.foreach(_.acquire())
    try {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setRequestProperty("Accept", "application/json")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setRequestProperty("apiKey", apiKey)
      conn.setConnectTimeout(timeoutMillis)
      conn.setReadTimeout(timeoutMillis)
      try {
        val status = conn.getResponseCode
        val stream =
          if (status / 100 == 2) conn.getInputStream else conn.getErrorStream
        val body =
          if (stream == null) "" else new String(stream.readAllBytes(), UTF_8)
        val isJson =
          Option(conn.getContentType).exists(_.contains("application/json"))
        if (status / 100 == 2) Right(parsePage(body, isJson))
        else Left(ApiError(status, errorMessage(status, body, isJson)))
      } finally conn.disconnect()
    } catch {
      case _: java.net.SocketTimeoutException =>
        Left(ApiError(0, s"Request to $endpoint timed out"))
      case e: java.io.IOException =>
        Left(ApiError(0, s"Client error for $endpoint: ${e.getMessage}"))
    } finally limiter.foreach(_.release())
  }

  /** 2xx body → the page's items as raw JSON object strings. */
  private def parsePage(body: String, isJson: Boolean): Seq[String] = {
    if (!isJson || body.isEmpty) return Seq.empty
    val root =
      try mapper.readTree(body)
      catch { case _: Exception => return Seq.empty } // malformed "JSON"
    import scala.jdk.CollectionConverters._
    if (root.isArray)
      root.elements().asScala.map(mapper.writeValueAsString).toSeq
    else if (root.isObject && root.has("data") && root.get("data").isArray)
      root.get("data").elements().asScala.map(mapper.writeValueAsString).toSeq
    else if (root.isObject) Seq(mapper.writeValueAsString(root))
    else Seq.empty // bare scalar — nothing tabular in it
  }

  /** non-2xx body → the reference's error message choice (:71-72). */
  private def errorMessage(status: Int, body: String, isJson: Boolean): String = {
    val parsed =
      if (isJson && body.nonEmpty)
        try Option(mapper.readTree(body)) catch { case _: Exception => None }
      else None
    parsed match {
      case Some(n) if n.isObject && n.hasNonNull("message") =>
        n.get("message").asText()
      case Some(n) if !n.isObject => n.asText()
      case _ if body.nonEmpty && !isJson => body
      case _ => s"HTTP $status"
    }
  }
}

/** Retry decorator for any [[LiveAgentApi]] transport: transient
  * failures — transport errors (status 0), 429 throttling, and 5xx —
  * retry with exponential backoff; client errors (other 4xx) surface
  * immediately (retrying a 404 only burns the rate budget). Deterministic
  * for tests via the injectable `sleep`. Wrap OUTSIDE any rate limiter
  * the inner client holds, so backoff sleeps don't occupy a limiter slot.
  */
final class RetryingApi(
    inner: LiveAgentApi,
    maxAttempts: Int = 3,
    baseDelayMillis: Long = 200,
    sleep: Long => Unit = Thread.sleep) extends LiveAgentApi {

  require(maxAttempts >= 1, "maxAttempts must be at least 1")

  private def transient(e: ApiError): Boolean =
    e.status == 0 || e.status == 429 || e.status / 100 == 5

  override def fetchPage(endpoint: String, page: Int, perPage: Int,
                         filters: Map[String, String]): Either[ApiError, Seq[String]] = {
    var attempt = 1
    var last: Either[ApiError, Seq[String]] =
      inner.fetchPage(endpoint, page, perPage, filters)
    while (attempt < maxAttempts &&
        (last match { case Left(e) => transient(e); case _ => false })) {
      sleep(baseDelayMillis << (attempt - 1)) // 1x, 2x, 4x, ...
      attempt += 1
      last = inner.fetchPage(endpoint, page, perPage, filters)
    }
    last
  }
}
