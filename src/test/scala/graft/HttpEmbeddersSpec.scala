package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.embed.{OllamaEmbedder, RemoteEmbedder}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** HTTP embedding backends against an in-process stub server (zero
  * egress): wire contract, retry/backoff, zero-fallback, and the
  * availability gates — the reference's RemoteEmbeddingHandler /
  * OllamaEmbeddingHandler semantics (index.py:114-215). */
class HttpEmbeddersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val embedCalls = new AtomicInteger(0)
  private val failuresToInject = new AtomicInteger(0)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/embed", (ex: HttpExchange) => {
      embedCalls.incrementAndGet()
      if (failuresToInject.getAndUpdate(n => math.max(0, n - 1)) > 0)
        respond(ex, 500, """{"error":"transient"}""")
      else {
        val body = readBody(ex)
        // texts count = occurrences in the "texts" array; echo one
        // deterministic 4-dim vector per text, first dim = index
        val n = body.split("\"texts\":\\[", 2)(1).takeWhile(_ != ']')
          .count(_ == '"') / 2
        val vecs = (0 until n).map(i => s"[$i.0,1.0,0.0,0.5]").mkString(",")
        respond(ex, 200, s"""{"embeddings":[$vecs]}""")
      }
    })
    server.createContext("/health", (ex: HttpExchange) => respond(ex, 200, "ok"))
    server.createContext("/api/embeddings", (ex: HttpExchange) => {
      val body = readBody(ex)
      if (body.contains("\"prompt\":\"boom\""))
        respond(ex, 500, """{"error":"bad text"}""")
      else
        respond(ex, 200, """{"embedding":[1.0,2.0,3.0,4.0]}""")
    })
    server.createContext("/api/tags", (ex: HttpExchange) =>
      respond(ex, 200, """{"models":[{"name":"nomic-embed-text"},{"name":"other"}]}"""))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  test("remote: POST /embed round-trips a batch") {
    val e = new RemoteEmbedder(base, "test-model", dim = 4)
    val out = e.embed(Seq("alpha", "beta", "gamma"))
    assert(out.length == 3)
    assert(out(0).sameElements(Array(0.0f, 1.0f, 0.0f, 0.5f)))
    assert(out(2)(0) == 2.0f)
    assert(e.checkAvailability())
  }

  test("remote: retry stack recovers from transient failures with 1s·2^n backoff") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val e = RemoteEmbedder.withRetry(base, "test-model", dim = 4, sleeper = sleeps.append(_))
    embedCalls.set(0)
    failuresToInject.set(2)
    val out = e.embed(Seq("x"))
    assert(out.length == 1)
    assert(embedCalls.get() == 3) // 2 failures + 1 success
    assert(sleeps.toSeq == Seq(1000L, 2000L)) // reference backoff schedule
  }

  test("remote: retry stack rethrows after 3 attempts") {
    val e = RemoteEmbedder.withRetry(base, "test-model", dim = 4, sleeper = _ => ())
    embedCalls.set(0)
    failuresToInject.set(5)
    assertThrows[RuntimeException](e.embed(Seq("x")))
    assert(embedCalls.get() == 3)
  }

  test("ollama: per-text POST with zero-vector fallback on failure") {
    val e = OllamaEmbedder.resilient(base, "nomic-embed-text", dim = 4)
    val out = e.embed(Seq("fine", "boom", "fine2"))
    assert(out.length == 3)
    assert(out(0).sameElements(Array(1.0f, 2.0f, 3.0f, 4.0f)))
    assert(out(1).sameElements(new Array[Float](4))) // zero fallback, batch continues
    assert(out(2).sameElements(Array(1.0f, 2.0f, 3.0f, 4.0f)))
  }

  test("dim mismatch fails fast instead of poisoning retrieval") {
    // stub returns 4-dim vectors; declaring dim=8 must throw, not
    // mix 8-dim zero-fallbacks with 4-dim successes downstream
    val remote = new RemoteEmbedder(base, "test-model", dim = 8)
    failuresToInject.set(0)
    val e = intercept[RuntimeException](remote.embed(Seq("x")))
    assert(e.getMessage.contains("dim"))
    val ollama = new OllamaEmbedder(base, "nomic-embed-text", dim = 8)
    val e2 = intercept[RuntimeException](ollama.embedOne("fine"))
    assert(e2.getMessage.contains("dim"))
  }

  test("ollama: availability requires the model in /api/tags") {
    assert(new OllamaEmbedder(base, "nomic-embed-text", 4).checkAvailability())
    assert(!new OllamaEmbedder(base, "missing-model", 4).checkAvailability())
    assert(!new OllamaEmbedder("http://127.0.0.1:1", "x", 4).checkAvailability())
  }

  test("IndexCli backend gate: probe embed catches a dim-mismatched live server") {
    // server is up and lists the model, but emits 4-dim vectors: the
    // availability check alone passes, the probe must reject dim=8 —
    // otherwise the zero-fallback stack would index all-zero vectors
    val bad = IndexCli.embedderOf(IndexCli.Args(corpus = "/c", backend = "ollama",
      dim = 8, backends = Graft.Backends(ollamaUrl = base)))
    assert(bad.left.exists(_.contains("probe embed failed")), bad.toString)
    val good = IndexCli.embedderOf(IndexCli.Args(corpus = "/c", backend = "ollama",
      dim = 4, model = Some("nomic-embed-text"),
      backends = Graft.Backends(ollamaUrl = base)))
    assert(good.exists(_.kind == "ollama"), good.toString)
    // remote backend: health passes, probe validates the batch shape
    failuresToInject.set(0)
    val remote = IndexCli.embedderOf(IndexCli.Args(corpus = "/c", backend = "remote",
      dim = 4, backends = Graft.Backends(remoteUrl = base)))
    assert(remote.exists(_.kind == "remote"), remote.toString)
  }

  test("one backend gate: a dim-mismatched Ollama server fails IndexCli and openAuto alike") {
    val spark = SparkSpec.spark
    val corpus = Files.createTempDirectory("graft-http-corpus")
    Files.write(corpus.resolve("db.log"), "connection pool exhausted".getBytes("UTF-8"))
    val idx = Files.createTempDirectory("graft-http-idx").toString
    val backends = Graft.Backends(ollamaUrl = base)
    Graft.index(spark, corpus.toString, idx,
      Graft.IndexConfig(embedder = backends.embedder("ollama", "nomic-embed-text", 4)))
    Graft.openAuto(spark, idx, dim = 4, backends = backends).close()
    // the stub emits 4-dim vectors: at dim 8 both sides hit the same
    // probe, and report it in the same words
    val cli = IndexCli.embedderOf(IndexCli.Args(corpus = "/c", backend = "ollama",
      dim = 8, backends = backends))
    val ask = intercept[IllegalStateException](
      Graft.openAuto(spark, idx, dim = 8, backends = backends))
    assert(ask.getMessage.contains("probe embed failed"), ask.getMessage)
    assert(cli == Left(ask.getMessage), cli.toString)
  }

  test("manifest dispatch: embedding_type picks the backend stack (ask.py:109-116)") {
    import graft.index.IndexManifest
    def m(kind: String) = IndexManifest("t", "r", kind, "nomic-embed-text", 200, "p")
    assert(Graft.embedderFor(m("hash"), dim = 64).kind == "hash")
    assert(Graft.embedderFor(m("ollama"), dim = 4).kind == "ollama")
    assert(Graft.embedderFor(m("remote"), dim = 4).kind == "remote")
    // reference ImportError path: local falls back to the remote
    // server but the index's local tag still validates
    assert(Graft.embedderFor(m("local"), dim = 4).kind == "local")
    assert(Graft.embedderFor(m("anything-else"), dim = 4).kind == "remote")
  }
}
