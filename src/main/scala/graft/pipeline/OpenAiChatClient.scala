package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.Semaphore

import com.fasterxml.jackson.databind.ObjectMapper

/** S10/L9 — OpenAI-compatible chat-completions client over HTTP, the
  * production counterpart of the deterministic mocks (reference LlmCli,
  * src/python/instructionspipe/llm_cli.py:76-138: an AsyncOpenAI client
  * pointed at vLLM/SGLang/any /v1-compatible server).
  *
  * Spark-side contract: the case class is Serializable and ships to
  * executors inside mapPartitions closures; the HTTP client, JSON
  * mapper, and concurrency gate are @transient lazy so each executor
  * JVM builds its own on first use. Cache/retry/ping come from the
  * LlmClient trait (same plumbing the mocks use), so operators are
  * agnostic to which implementation they run against — mocks remain
  * the oracle path in CI, this client is the deployment path.
  *
  * Retry semantics mirror the reference:
  * - length-stopped generations are retried by LlmClient.run with
  *   attempt > 0, which switches sampling to temperature 1.0 +
  *   frequency_penalty 0.2 (llm_cli.py:124-135);
  * - transient transport failures (429/5xx/IO) retry up to
  *   `transportRetries` times with linear backoff.
  *
  * `maxConcurrency` bounds in-flight requests per executor JVM — the
  * analogue of the reference's asyncio semaphore — so a 32-slot
  * executor cannot open 32× more sockets than the serving endpoint
  * expects. At 1000 executors the aggregate concurrency is
  * executors × maxConcurrency: size it to the endpoint, not the job.
  */
final case class OpenAiChatClient(
    baseUrl: String,
    override val model: String,
    apiKey: String = "",
    temperature: Double = 0.0,
    maxTokens: Int = 2048,
    timeoutSec: Int = 120,
    maxConcurrency: Int = 8,
    transportRetries: Int = 3) extends LlmClient {

  // endpoint + model + sampling params identify the cache entry: two
  // clients on the same endpoint/model but different temperature or
  // token budget must not return each other's completions (the
  // reference keeps one LRU per client instance for the same reason)
  override def cacheId: String = s"$baseUrl#$model#t=$temperature#mt=$maxTokens"

  @transient private lazy val http: JHttpClient =
    JHttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(timeoutSec.toLong))
      .build()

  @transient private lazy val mapper = new ObjectMapper()

  @transient private lazy val gate = new Semaphore(maxConcurrency)

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val root = mapper.createObjectNode()
    root.put("model", model)
    val arr = root.putArray("messages")
    msgs.foreach { m =>
      val o = arr.addObject()
      o.put("role", m.role)
      o.put("content", m.content)
    }
    if (attempt == 0) {
      root.put("temperature", temperature)
    } else {
      // length-stop retry: resample away from the degenerate loop
      // (reference llm_cli.py:124-135)
      root.put("temperature", 1.0)
      root.put("frequency_penalty", 0.2)
    }
    root.put("max_tokens", maxTokens)
    val body = mapper.writeValueAsString(root)

    val builder = HttpRequest.newBuilder()
      .uri(URI.create(s"${baseUrl.stripSuffix("/")}/chat/completions"))
      .timeout(Duration.ofSeconds(timeoutSec.toLong))
      .header("Content-Type", "application/json")
    if (apiKey.nonEmpty) builder.header("Authorization", s"Bearer $apiKey")
    val request = builder
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      .build()

    gate.acquire()
    try sendWithRetry(request, 0)
    finally gate.release()
  }

  private def sendWithRetry(request: HttpRequest, tried: Int): LlmResponse = {
    val attemptResult =
      try {
        val resp = http.send(request, HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() / 100 == 2) Right(parse(resp.body()))
        else if (resp.statusCode() == 429 || resp.statusCode() / 100 == 5)
          Left(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
        else throw new RuntimeException(
          s"chat/completions failed (HTTP ${resp.statusCode()}): ${resp.body().take(500)}")
      } catch {
        case e: java.io.IOException => Left(e.toString)
      }
    attemptResult match {
      case Right(r) => r
      case Left(_) if tried < transportRetries =>
        Thread.sleep(200L * (tried + 1))
        sendWithRetry(request, tried + 1)
      case Left(err) =>
        throw new RuntimeException(
          s"chat/completions failed after ${transportRetries + 1} attempts: $err")
    }
  }

  private def parse(body: String): LlmResponse = {
    val root = mapper.readTree(body)
    val choice = root.path("choices").path(0)
    val content = choice.path("message").path("content").asText("")
    val finish = choice.path("finish_reason").asText("stop")
    LlmResponse(content, finish)
  }
}
