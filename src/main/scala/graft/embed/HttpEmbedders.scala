package graft.embed

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Real HTTP embedding backends behind the [[Embedder]] trait —
  * closing the reference's E2/E3 operators from
  * semantics-without-network to full: the wire contracts are the
  * reference's (`index.py:114-215`), the failure semantics reuse the
  * existing [[RetryEmbedder]] / [[ZeroFallbackEmbedder]] wrappers,
  * and unit tests drive them against an in-process stub server (the
  * build has zero egress).
  *
  * Executor-side lifecycle: the `HttpClient` is `@transient lazy`, so
  * the closure ships only the config strings and each executor JVM
  * builds its own client on first use — the Spark analog of the
  * reference's per-process session.
  */
object Http {
  private[embed] val mapper = new ObjectMapper()

  private[embed] def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').result()
  }

  private[embed] def floats(node: JsonNode): Array[Float] = {
    val out = new Array[Float](node.size())
    var i = 0
    while (i < out.length) { out(i) = node.get(i).floatValue(); i += 1 }
    out
  }
}

/** A raw HTTP client's availability check beside `embed` — the
  * reference handlers' `check_availability` (`index.py:142-161,204-211`).
  * [[graft.Graft.Backends.gate]] is where it is called. */
trait HttpBackend extends Embedder {
  def checkAvailability(): Boolean
}

/** Batched remote embedding server client — reference
  * `RemoteEmbeddingHandler` (`index.py:164-215`): POST
  * `{base}/embed` with `{"texts": [...], "model": m,
  * "trust_remote_code": b}`, 60 s timeout, response
  * `{"embeddings": [[...]]}`; availability = GET `{base}/health`
  * within 5 s. Retry/backoff (3 attempts, 1s·2^n) lives in
  * [[RetryEmbedder]] — build the production stack with
  * [[RemoteEmbedder.withRetry]]. */
final class RemoteEmbedder(
    baseUrl: String,
    override val model: String,
    override val dim: Int,
    trustRemoteCode: Boolean = false,
    timeoutMs: Long = 60000) extends HttpBackend {
  override def kind: String = "remote"

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs)).build()

  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val body = texts.map(Http.jsonStr).mkString(
      s"""{"texts":[""", ",", s"""],"model":${Http.jsonStr(model)},"trust_remote_code":$trustRemoteCode}""")
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/embed"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"embed server HTTP ${resp.statusCode()}")
    val arr = Http.mapper.readTree(resp.body()).get("embeddings")
    if (arr == null || !arr.isArray || arr.size() != texts.length)
      throw new RuntimeException("embed server returned malformed embeddings")
    (0 until arr.size()).map { i =>
      val v = Http.floats(arr.get(i))
      // dim mismatch poisons retrieval silently (zero-fallback vectors
      // and scoring both assume `dim`) — fail fast instead
      if (v.length != dim)
        throw new RuntimeException(
          s"embed server returned dim ${v.length}, expected $dim")
      v
    }
  }

  /** GET /health, 5 s — reference `check_availability` (index.py:204-211). */
  def checkAvailability(): Boolean =
    try {
      val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/health"))
        .timeout(Duration.ofSeconds(5)).GET().build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() / 100 == 2
    } catch { case _: Exception => false }
}

object RemoteEmbedder {
  /** The reference's full client stack: 3 attempts, 1 s · 2^n backoff,
    * rethrow after the last (`index.py:181-201`). */
  def withRetry(
      baseUrl: String,
      model: String,
      dim: Int,
      trustRemoteCode: Boolean = false,
      sleeper: Long => Unit = Thread.sleep): Embedder =
    new RetryEmbedder(
      new RemoteEmbedder(baseUrl, model, dim, trustRemoteCode),
      maxAttempts = 3, baseDelayMs = 1000, sleeper = sleeper)
}

/** Ollama client — reference `OllamaEmbeddingHandler`
  * (`index.py:114-161`): one POST `{base}/api/embeddings` with
  * `{"model": m, "prompt": text}` PER TEXT, 30 s timeout, response
  * `{"embedding": [...]}`; availability = GET `{base}/api/tags` and
  * the model name present in the tag list. The reference's
  * per-text zero-vector fallback (quirk Q4) is the composed
  * [[OllamaEmbedder.resilient]] stack — this raw class throws so the
  * fallback stays a single, tested place ([[ZeroFallbackEmbedder]]). */
final class OllamaEmbedder(
    baseUrl: String,
    override val model: String,
    override val dim: Int,
    timeoutMs: Long = 30000) extends HttpBackend {
  override def kind: String = "ollama"

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs)).build()

  override def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map(embedOne)

  override def embedOne(text: String): Array[Float] = {
    val body = s"""{"model":${Http.jsonStr(model)},"prompt":${Http.jsonStr(text)}}"""
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/api/embeddings"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"ollama HTTP ${resp.statusCode()}")
    val arr = Http.mapper.readTree(resp.body()).get("embedding")
    if (arr == null || !arr.isArray)
      throw new RuntimeException("ollama returned malformed embedding")
    val v = Http.floats(arr)
    if (v.length != dim)
      throw new RuntimeException(s"ollama returned dim ${v.length}, expected $dim")
    v
  }

  /** GET /api/tags, model must appear in `models[].name`
    * (index.py:142-161). */
  def checkAvailability(): Boolean =
    try {
      val req = HttpRequest.newBuilder(URI.create(s"$baseUrl/api/tags"))
        .timeout(Duration.ofSeconds(5)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2) false
      else {
        val models = Http.mapper.readTree(resp.body()).get("models")
        models != null && models.isArray &&
          (0 until models.size()).exists { i =>
            val n = models.get(i).get("name")
            n != null && n.asText() == model
          }
      }
    } catch { case _: Exception => false }
}

object OllamaEmbedder {
  /** The reference's batch semantics: failed texts become zero
    * vectors, the batch continues (index.py:126-140). */
  def resilient(baseUrl: String, model: String, dim: Int): Embedder =
    new ZeroFallbackEmbedder(new OllamaEmbedder(baseUrl, model, dim))
}
