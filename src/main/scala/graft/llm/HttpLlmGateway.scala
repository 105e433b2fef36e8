package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

/** One chat turn of an OpenAI-style completion request. */
final case class ChatMessage(role: String, content: String)

/** The reference gateway's completion envelope (`core/LLMGateway.py:108-114`):
  * raw content string, the model that ACTUALLY answered (the server's
  * `model` field, not the requested one), and the usage triple.
  */
final case class Completion(content: String, model: String, tokens: Long,
                            promptTokens: Long, completionTokens: Long)

/** X1 production transport — a generic OpenAI-compatible chat-completions
  * client with the reference's model-fallback chain
  * (`core/LLMGateway.py:53-136`): try each model in order, first success
  * wins; any failure (non-2xx, transport, missing choices, content that
  * fails to parse as the requested JSON) falls through to the next model;
  * when EVERY model fails, [[completion]] raises the reference's
  * "All LLM models failed" error and [[extract]] maps it to the sentinel
  * row (`core/extract/ConvoDataExtract.py:163-187`) — exact parity with
  * [[FallbackLlmGateway]]'s total-failure contract.
  *
  * Request shape (`POST {base}/chat/completions`):
  * `{"model","messages":[{"role","content"}...],"temperature",
  *   "response_format":{"type":"json_object"}}` with
  * `Authorization: Bearer <key>`. Temperature defaults to the reference's
  * 0.8 (`LLMGateway.py:28`); `response_format` passes through when set
  * (the reference REQUIRES one — `LLMGateway.py:72-73` — so the default
  * asks for a JSON object).
  *
  * Concurrency: a Semaphore bounds in-flight requests at 10, mirroring the
  * reference's `asyncio.Semaphore(10)` (`ConvoDataExtract.py:208`). The
  * bound is per gateway INSTANCE — with the gateway broadcast into
  * `mapPartitions`, each executor JVM deserializes its own copy, so the
  * bound is per-executor, matching the reference's per-process semaphore.
  *
  * Scale note: like [[graft.sources.HttpLiveAgentApi]], throughput is
  * bounded by the provider's rate limits, not the cluster — the operator
  * ([[LlmExtract]]) distributes rows across executors and this transport
  * only bounds each executor's fan-out.
  */
final class HttpLlmGateway(
    baseUrl: String,
    apiKey: String,
    models: Seq[String],
    temperature: Double = 0.8,
    responseFormatType: Option[String] = Some("json_object"),
    systemPrompt: String =
      "Extract the requested fields from the conversation and answer with " +
        "a single JSON object whose values are strings.",
    timeoutMillis: Int = 30000,
    maxInFlight: Int = 10) extends LlmGateway {

  require(models.nonEmpty, "at least one model required")          // fallback_models nonempty
  require(apiKey.nonEmpty, "API key cannot be empty.")             // LLMGateway.py:44-47
  require(maxInFlight >= 1, "maxInFlight must be at least 1")

  @transient private lazy val mapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
  // Semaphore(10): ConvoDataExtract.py:208. java.util.concurrent.Semaphore
  // is Serializable, so the bound survives the closure into mapPartitions.
  private val inFlight = new java.util.concurrent.Semaphore(maxInFlight)

  /** The reference's `completion()` (`LLMGateway.py:53-136`): walk the
    * fallback chain (or just `model` when given), return the first
    * success; raise when all fail. Content must parse as JSON when a
    * response format was requested — unparseable content is a per-model
    * failure (the reference's json.loads raise), NOT a success.
    */
  def completion(messages: Seq[ChatMessage],
                 model: Option[String] = None): Completion = {
    val chain = model.map(Seq(_)).getOrElse(models)
    var lastError: Throwable = null
    chain.foreach { m =>
      try return requestOnce(m, messages)
      catch { case scala.util.control.NonFatal(e) => lastError = e }
    }
    throw new RuntimeException(
      s"All LLM models failed. Last error: ${Option(lastError).map(_.getMessage).getOrElse("?")}",
      lastError)
  }

  /** X1 extraction surface: system prompt + conversation → parsed field
    * map. Field values are stringified (the extraction schema is stringly
    * typed, P11); non-object content after a successful completion is
    * impossible by construction (completion already validated the parse).
    */
  override def extract(conversation: String): LlmResult =
    try {
      val c = completion(Seq(
        ChatMessage("system", systemPrompt),
        ChatMessage("user", conversation)))
      val root = mapper.readTree(c.content)
      import scala.jdk.CollectionConverters._
      val fields = root.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isNull) null else if (v.isTextual) v.asText()
                     else mapper.writeValueAsString(v))
      }.toMap
      LlmResult(fields, c.tokens, c.model)
    } catch {
      case scala.util.control.NonFatal(_) =>
        // ConvoDataExtract.py:163-187 — sentinel, identical to
        // FallbackLlmGateway's total-failure row
        val promptTokens = conversation.split("\\s+").count(_.nonEmpty).toLong
        LlmResult(Map.empty, promptTokens, "fallback_error")
    }

  /** ONE model attempt: build request JSON, POST, parse the completion
    * envelope. Throws on anything short of a well-formed success.
    */
  private def requestOnce(model: String, messages: Seq[ChatMessage]): Completion = {
    val body = {
      val root = mapper.createObjectNode()
      root.put("model", model)
      val arr = root.putArray("messages")
      messages.foreach { m =>
        val o = arr.addObject(); o.put("role", m.role); o.put("content", m.content)
      }
      root.put("temperature", temperature)
      responseFormatType.foreach(t => root.putObject("response_format").put("type", t))
      mapper.writeValueAsString(root)
    }
    val url = s"${baseUrl.stripSuffix("/")}/chat/completions"
    inFlight.acquire()
    try {
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setRequestProperty("Accept", "application/json")
      conn.setRequestProperty("Authorization", s"Bearer $apiKey")
      conn.setConnectTimeout(timeoutMillis)
      conn.setReadTimeout(timeoutMillis)
      try {
        conn.getOutputStream.write(body.getBytes(UTF_8))
        val status = conn.getResponseCode
        val stream =
          if (status / 100 == 2) conn.getInputStream else conn.getErrorStream
        val text =
          if (stream == null) "" else new String(stream.readAllBytes(), UTF_8)
        if (status / 100 != 2)
          throw new RuntimeException(s"model $model: HTTP $status: $text")
        parseCompletion(model, text)
      } finally conn.disconnect()
    } finally inFlight.release()
  }

  private def parseCompletion(requested: String, text: String): Completion = {
    val root = mapper.readTree(text)
    val choices = root.path("choices")
    if (!choices.isArray || choices.isEmpty)
      throw new RuntimeException(s"model $requested: response has no choices")
    val content = choices.get(0).path("message").path("content")
    if (!content.isTextual)
      throw new RuntimeException(s"model $requested: choice has no content")
    // the reference json.loads-validates structured content and treats a
    // parse failure as a model failure (LLMGateway.py:96-101)
    if (responseFormatType.isDefined) {
      val parsed = try mapper.readTree(content.asText())
        catch { case e: Exception =>
          throw new RuntimeException(s"model $requested: content is not JSON", e) }
      if (parsed == null || !parsed.isObject)
        throw new RuntimeException(s"model $requested: content is not a JSON object")
    }
    val usage = root.path("usage")
    Completion(
      content = content.asText(),
      // actual model from the response when present (LLMGateway.py:110)
      model = if (root.hasNonNull("model")) root.get("model").asText() else requested,
      tokens = usage.path("total_tokens").asLong(0L),
      promptTokens = usage.path("prompt_tokens").asLong(0L),
      completionTokens = usage.path("completion_tokens").asLong(0L))
  }
}
