package graft

import graft.embed.{EmbedOps, Embedder, HashEmbedder, RetryEmbedder, ZeroFallbackEmbedder}
import graft.index.VectorIndex
import graft.query.{Knn, MarkdownSink}
import org.apache.spark.graft.JobCounter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{ZoneOffset, ZonedDateTime}

/** End-to-end facade (index → ask), manifest round-trip, markdown
  * sink format, and the E2/E3 failure-handling wrappers. */
class GraftFacadeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def writeCorpus(): Path = {
    val root = Files.createTempDirectory("graft-e2e")
    def put(rel: String, s: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, s.getBytes(StandardCharsets.UTF_8))
    }
    put("app/db.log", "connection pool exhausted\ntimeout waiting for connection\nretry scheduled")
    put("app/web.log", "request served in 12ms\nstatic asset cached")
    put("notes.txt", "the database timeout needs tuning\npool size too small")
    root
  }

  test("index → ask: full reference workflow on a real corpus") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-idx").toString
    val manifest = Graft.index(spark, corpus.toString, idx,
      Graft.IndexConfig(chunkSize = 50))
    assert(manifest.embedding_model == "hash-ngram-64")

    // manifest round-trip (K2)
    val back = VectorIndex.readManifest(spark, idx)
    assert(back == manifest)

    // index content (K1): chunked, embedded, source-keyed
    val vectors = VectorIndex.readVectors(spark, idx)
    assert(vectors.count() > 0)
    assert(vectors.columns.toSet ==
      Set("source", "total_chunks", "chunk_index", "text", "id", "embedding"))

    val result = Graft.ask(spark, idx, "database connection timeout", k = 3)
    val hits = result.hits.collect()
    assert(hits.length == 3)
    assert(result.context.startsWith("File: "))
    // retrieval sanity: timeout-related chunks outrank the web log
    val topSource = hits.head.getAs[String]("source")
    assert(topSource == "app/db.log" || topSource == "notes.txt",
      s"unexpected top hit: $topSource\n${result.context}")
  }

  test("hybrid ask: exact rare tokens surface hits the embedder alone can miss") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-hyidx").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    try {
      val r = session.askHybrid("connection pool exhausted", k = 2)
      val hits = r.hits.collect()
      assert(hits.length == 2)
      assert(hits.head.getAs[String]("source") == "app/db.log",
        s"keyword-exact chunk must rank first:\n${r.context}")
      assert(r.context.startsWith("File: "))
      // question with no keyword overlap still answers from the
      // vector ranking (absent keyword list contributes nothing)
      val r2 = session.askHybrid("zzz qqq xyzzy", k = 1)
      assert(r2.hits.collect().length == 1)
    } finally session.close()
  }

  test("ask returns exactly k hits under basename id collisions (quirk Q1)") {
    // app/server.log.1 and db/server.log.1 share chunk id
    // "server.log.1:0"; retrieval must key on (source, chunk_index)
    val corpus = writeCorpus()
    Files.createDirectories(corpus.resolve("db"))
    Files.write(corpus.resolve("app/server.log.1"),
      "dup basename a\n".getBytes(StandardCharsets.UTF_8))
    Files.write(corpus.resolve("db/server.log.1"),
      "dup basename b\n".getBytes(StandardCharsets.UTF_8))
    val idx = Files.createTempDirectory("graft-coll").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val r = Graft.ask(spark, idx, "dup basename", k = 4)
    val hits = r.hits.collect()
    assert(hits.length == 4, s"expected exactly k hits, got ${hits.length}")
    val keys = hits.map(h => (h.getAs[String]("source"), h.getAs[Int]("chunk_index")))
    assert(keys.distinct.length == keys.length, s"duplicate fetch keys: ${keys.toSeq}")
    // both colliding-id chunks retrievable, each with its own text
    val dupSources = hits.filter(_.getAs[String]("id") == "server.log.1:0")
      .map(h => h.getAs[String]("source") -> h.getAs[String]("text")).toMap
    assert(dupSources.keySet == Set("app/server.log.1", "db/server.log.1"))
    assert(dupSources("app/server.log.1") == "dup basename a\n")
    assert(dupSources("db/server.log.1") == "dup basename b\n")
  }

  private val HitColumns = Seq("id", "source", "chunk_index", "text", "dist")

  /** The context Spark's aggregate assembles from the same hits. */
  private def sparkContext(hits: org.apache.spark.sql.DataFrame): String =
    Knn.assembleContext(hits).head().getString(0)

  test("ask plan: a warm session ask runs at most 2 Spark jobs, askHybrid at most 6") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-jobs").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    val (r, askJobs, hybridJobs) = try {
      session.ask("warm the cache", k = 3)
      val (r, askJobs) = JobCounter(spark.sparkContext)(session.ask("connection pool exhausted", k = 3))
      val (_, hybridJobs) =
        JobCounter(spark.sparkContext)(session.askHybrid("connection pool exhausted", k = 3))
      (r, askJobs, hybridJobs)
    } finally session.close()
    assert(askJobs >= 1 && askJobs <= 2, s"ask ran $askJobs jobs")
    assert(hybridJobs >= 1 && hybridJobs <= 6, s"askHybrid ran $hybridJobs jobs")
    // hits are a local relation: still collectable once the session's cache is gone
    assert(r.hits.columns.toSeq == HitColumns)
    assert(r.hits.schema.map(_.dataType.sql) == Seq("STRING", "STRING", "INT", "STRING", "DOUBLE"))
    val hits = r.hits.collect()
    assert(hits.length == 3)
    assert(hits.map(_.getDouble(4)).toSeq == hits.map(_.getDouble(4)).toSeq.sorted)
    assert(r.context == sparkContext(r.hits))
  }

  test("hybrid plan: a warm askHybrid runs at most 3 Spark jobs") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-hybrid-jobs").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    val (hits, hybridJobs) = try {
      session.askHybrid("warm the postings", k = 3)
      val (r, hybridJobs) =
        JobCounter(spark.sparkContext)(session.askHybrid("connection pool exhausted", k = 3))
      (r.hits.collect(), hybridJobs)
    } finally session.close()
    assert(hybridJobs >= 1 && hybridJobs <= 3, s"askHybrid ran $hybridJobs jobs")
    assert(hits.length == 3)
  }

  test("ask plan: a warm session ask runs 1 Spark job") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-one-job").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    val (hits, askJobs) = try {
      session.ask("warm the cache", k = 3)
      val (r, askJobs) = JobCounter(spark.sparkContext)(session.ask("connection pool exhausted", k = 3))
      (r.hits.collect(), askJobs)
    } finally session.close()
    assert(askJobs == 1, s"ask ran $askJobs jobs")
    assert(hits.length == 3)
  }

  test("one-job ask equals the two-step topKWithFetch reference bit for bit, at 1 and 4 partitions") {
    // basename collision (server.log.1:0 twice) and a forced dist tie
    // (identical text in two files) that only `_uid` breaks
    val corpus = writeCorpus()
    def put(rel: String, s: String): Unit = {
      Files.createDirectories(corpus.resolve(rel).getParent)
      Files.write(corpus.resolve(rel), s.getBytes(StandardCharsets.UTF_8))
    }
    put("a/zeta.log", "twin line seen twice\n")
    put("b/alpha.log", "twin line seen twice\n")
    put("app/server.log.1", "dup basename a\n")
    put("db/server.log.1", "dup basename b\n")
    val questions = Seq("twin line seen twice", "dup basename", "connection pool exhausted",
      "database timeout", "   ")
    import org.apache.spark.sql.functions.{col, concat_ws}
    // the session's scan reads one partition per index file: each
    // partition's heap holds payload rows, merged on the driver
    def answers(parts: Int): Map[(String, Int), (Seq[org.apache.spark.sql.Row], String)] = {
      val idx = Files.createTempDirectory(s"graft-fetch-$parts").toString
      Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50, numPartitions = Some(parts)))
      val vectors = VectorIndex.readVectors(spark, idx)
        .withColumn("_uid", concat_ws("\u0000", col("source"), col("chunk_index")))
      assert(vectors.rdd.getNumPartitions == vectors.inputFiles.length)
      assert(parts == 1 || vectors.rdd.getNumPartitions > 1)
      val session = Graft.open(spark, idx)
      try (for (q <- questions; k <- Seq(1, 2, 4, 50)) yield {
        val ref = Knn.topKWithFetch(vectors, EmbedOps.embedLiteral(q, HashEmbedder.default), k,
          idCol = "_uid", fetchCols = Seq("id", "source", "chunk_index", "text"))
          .select(HitColumns.map(col): _*)
        val refRows = ref.collect().toSeq
        val refContext =
          if (refRows.isEmpty) "No relevant data found in the database." else sparkContext(ref)
        val got = session.ask(q, k)
        val gotRows = got.hits.collect().toSeq
        assert(gotRows == refRows, s"hits, question '$q', k=$k, $parts partitions")
        // Row equality compares doubles by value: pin the dist bits too
        assert(gotRows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(4))) ==
          refRows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(4))))
        assert(got.context == refContext, s"context, question '$q', k=$k, $parts partitions")
        (q, k) -> (gotRows, got.context)
      }).toMap
      finally session.close()
    }
    val one = answers(1)
    val four = try {
      spark.conf.set("spark.sql.files.minPartitionNum", "4")
      answers(4)
    } finally spark.conf.set("spark.sql.files.minPartitionNum", "1")
    assert(one == four)
    // the tie breaks on `_uid`: a/zeta.log before b/alpha.log
    val (twins, _) = one(("twin line seen twice", 2))
    assert(twins.take(2).map(_.getString(1)) == Seq("a/zeta.log", "b/alpha.log"))
    assert(twins(0).getDouble(4) == twins(1).getDouble(4), "expected a dist tie")
    // both colliding ids answer, each with its own text
    val dups = one(("dup basename", 4))._1.filter(_.getString(0) == "server.log.1:0")
    assert(dups.map(r => r.getString(1) -> r.getString(3)).toSet ==
      Set("app/server.log.1" -> "dup basename a\n", "db/server.log.1" -> "dup basename b\n"))
    // a question with no tokens finds nothing
    for (((q, _), (rows, context)) <- one if q.trim.isEmpty) {
      assert(rows.isEmpty)
      assert(context == "No relevant data found in the database.")
    }
  }

  test("close() unpersists the vectors and the postings, and may be called twice") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-close").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val session = Graft.open(spark, idx)
    session.askHybrid("connection pool exhausted", k = 2)
    val held = persisted -- before
    assert(held.size == 2, s"expected the vectors and the postings cached, got ${held.size} RDDs")
    session.close()
    assert((persisted & held).isEmpty)
    session.close()
    assert((persisted & held).isEmpty)
  }

  /** Each hybrid hit's keyword share: its fused score less the vector
    * side's 1/(60+r), r its rank in `ask`'s top `depth` (0 if absent). */
  private def keywordShare(session: Graft.AskSession, q: String, depth: Int): Map[(String, Int), Double] = {
    val vec = session.ask(q, depth).hits.collect().map(h => (h.getString(1), h.getInt(2))).zipWithIndex.toMap
    session.askHybrid(q, k = depth, depth = depth).hits.collect().map { h =>
      val key = (h.getString(1), h.getInt(2))
      key -> (-h.getDouble(4) - vec.get(key).fold(0.0)(r => 1.0 / (60.0 + r + 1)))
    }.toMap
  }

  test("hybrid ask: chunks are tokenized like the question (case folded, split on any whitespace)") {
    val corpus = writeCorpus()
    def put(rel: String, s: String): Unit = {
      Files.createDirectories(corpus.resolve(rel).getParent)
      Files.write(corpus.resolve(rel), s.getBytes(StandardCharsets.UTF_8))
    }
    put("app/auth.log", "2026-01-01 ERROR login failed node-07\n2026-01-01 WARN retry")
    put("db/alert.log", "Mon Jan 01 03:00:00 2026\nORA-01555 caused by SQL statement below")
    val idx = Files.createTempDirectory("graft-tokens").toString
    Graft.index(spark, corpus.toString, idx)
    val session = Graft.open(spark, idx)
    try {
      // `ERROR` and the line-ending `node-07` match the question's terms
      val error = keywordShare(session, "error node-07", depth = 10)
      assert(error.get(("app/auth.log", 0)).exists(_ > 0), s"no keyword rank: $error")
      // the README's example: only the upper-case error code matches
      val ora = keywordShare(session, "ORA-01555 snapshot too old", depth = 10)
      assert(ora.get(("db/alert.log", 0)).exists(_ > 0), s"no keyword rank: $ora")
    } finally session.close()
  }

  test("driver-assembled context is byte-identical to Knn.assembleContext (Q1 ids, dist ties)") {
    // identical text in two files: equal vectors, so equal dist. Hits
    // rank by (dist, source NUL chunk_index): a/zeta.log first. The
    // context orders by (dist, id, piece): alpha.log first.
    val corpus = writeCorpus()
    def put(rel: String, s: String): Unit = {
      Files.createDirectories(corpus.resolve(rel).getParent)
      Files.write(corpus.resolve(rel), s.getBytes(StandardCharsets.UTF_8))
    }
    put("a/zeta.log", "twin line seen twice\n")
    put("b/alpha.log", "twin line seen twice\n")
    put("app/server.log.1", "dup basename a\n")
    put("db/server.log.1", "dup basename b\n")
    val idx = Files.createTempDirectory("graft-parity").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    try {
      for (q <- Seq("twin line seen twice", "dup basename", "connection pool exhausted")) {
        for (r <- Seq(session.ask(q, k = 4), session.askHybrid(q, k = 4), Graft.ask(spark, idx, q, k = 4)))
          assert(r.context == sparkContext(r.hits), s"question: $q")
      }
      val twins = session.ask("twin line seen twice", k = 2)
      val hits = twins.hits.collect()
      assert(hits.map(_.getDouble(4)).distinct.length == 1, "expected a dist tie")
      assert(hits.map(_.getString(1)).toSeq == Seq("a/zeta.log", "b/alpha.log"))
      assert(twins.context.startsWith("File: b/alpha.log (chunk 0)\n"))
    } finally session.close()

    // ties on dist and id fall through to the piece; ids compare as
    // UTF-8 bytes like Spark's, not UTF-16 units like String.compareTo
    val tied = Seq(
      Knn.Hit("\uD83D\uDE00", "s/emoji", 0, "t", 0.5),
      Knn.Hit("\uFF01", "s/bang", 1, "t", 0.5),
      Knn.Hit("same:0", "z/same", 0, "later", 0.25),
      Knn.Hit("same:0", "y/same", 0, "earlier", 0.25),
      Knn.Hit("neg", "n", 0, "zero", -0.0),
      Knn.Hit("a", "p", 0, "zero", 0.0))
    import spark.implicits._
    val df = tied.map(h => (h.id, h.source, h.chunk_index, h.text, h.dist)).toDF(HitColumns: _*)
    assert(Knn.assembleContext(tied) == sparkContext(df))
    assert(Knn.assembleContext(tied.reverse) == sparkContext(df))
  }

  test("a question with no tokens embeds to zero and finds no relevant data") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-empty").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    try {
      for (r <- Seq(session.ask("   "), session.askHybrid("   "), Graft.ask(spark, idx, "   "))) {
        assert(r.context == "No relevant data found in the database.")
        assert(r.hits.columns.toSeq == HitColumns)
        assert(r.hits.collect().isEmpty)
      }
    } finally session.close()
  }

  test("ask with mismatched embedder model fails fast instead of returning garbage") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-mismatch").toString
    Graft.index(spark, corpus.toString, idx)
    val other = new graft.embed.HashEmbedder(32)
    val e = intercept[IllegalArgumentException](
      Graft.ask(spark, idx, "anything", embedder = other))
    assert(e.getMessage.contains("model"))
  }

  test("ask on overwritten index sees only new data (quirk Q3: overwrite semantics)") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-idx2").toString
    Graft.index(spark, corpus.toString, idx)
    val corpus2 = Files.createTempDirectory("graft-e2e2")
    Files.write(corpus2.resolve("only.log"),
      "a completely fresh corpus".getBytes(StandardCharsets.UTF_8))
    Graft.index(spark, corpus2.toString, idx)
    val sources = VectorIndex.readVectors(spark, idx)
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(sources == Set("only.log"))
  }

  test("ask session: cached index answers repeated questions; missing index fails fast") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-sess-idx").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val session = Graft.open(spark, idx)
    try {
      val r1 = session.ask("connection pool exhausted", k = 2)
      val r2 = session.ask("static asset cache", k = 2)
      assert(r1.hits.count() == 2 && r2.hits.count() == 2)
      assert(r1.context != r2.context)
    } finally session.close()

    val e = intercept[IllegalStateException](
      Graft.open(spark, "/tmp/definitely-not-an-index"))
    assert(e.getMessage.contains("No index found"))
  }

  test("one-shot ask on a missing index fails with the same message as open") {
    val e = intercept[IllegalStateException](
      Graft.ask(spark, "/tmp/definitely-not-an-index", "q"))
    assert(e.getMessage.contains("No index found"), e.getMessage)
  }

  test("markdown sink: header on create, append blocks (ask.py:258-273 format)") {
    val f = Files.createTempDirectory("graft-md").resolve("qa.md").toString
    val t = ZonedDateTime.of(2026, 1, 2, 3, 4, 5, 0, ZoneOffset.UTC)
    MarkdownSink.append("why is it slow?", "because of X", f, t)
    MarkdownSink.append("second q", "second a", f, t)
    val got = new String(Files.readAllBytes(java.nio.file.Paths.get(f)), StandardCharsets.UTF_8)
    assert(got.startsWith("# Q&A Log\n"))
    assert(got.contains("## Question [2026-01-02 03:04:05]\n\n**Q:** why is it slow?\n\n**A:** because of X\n\n---"))
    assert(got.linesIterator.count(_.startsWith("## Question")) == 2)
  }

  test("ask CLI: scripted REPL round-trip — banner, blank-skip, Q/A to markdown, quit") {
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-cli-idx").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 50))
    val outFile = Files.createTempDirectory("graft-cli-md").resolve("qa.md").toString
    val script = "\n   \ndatabase connection timeout\nquit\n"
    val stdout = new java.io.ByteArrayOutputStream()
    AskCli.run(spark, idx, outFile,
      new java.io.BufferedReader(new java.io.StringReader(script)),
      new java.io.PrintStream(stdout, true, "UTF-8"))
    val console = stdout.toString("UTF-8")
    assert(console.contains("Log Query Tool"))
    assert(console.contains("Type 'exit' or 'quit' to stop."))
    assert(console.contains("Answer:"))
    assert(console.contains(s"All responses saved to $outFile"))
    // blank lines produced no Q/A blocks; the one real question did
    val md = new String(Files.readAllBytes(java.nio.file.Paths.get(outFile)), StandardCharsets.UTF_8)
    assert(md.linesIterator.count(_.startsWith("## Question")) == 1)
    assert(md.contains("**Q:** database connection timeout"))
    assert(md.contains("File: ")) // the assembled context is the answer
  }

  test("index CLI: flags parse, corpus indexes end-to-end, bad input fails fast") {
    // flag parsing mirrors the reference's mutually-exclusive group
    val parsed = IndexCli.parse(Array("/tmp/corpus", "--chunk-size", "50",
      "--index-path", "/tmp/idx", "--ollama-embeddings", "--model", "m"))
    assert(parsed.exists(a => a.corpus == "/tmp/corpus" && a.chunkSize == 50 &&
      a.backend == "ollama" && a.model.contains("m")))
    assert(IndexCli.parse(Array("--chunk-size", "50")).isLeft) // no corpus
    assert(IndexCli.parse(Array("/c", "--bogus")).isLeft)
    // value-taking flag abuse: missing value, flag-as-value, bad ints
    assert(IndexCli.parse(Array("/c", "--model")).left.exists(_.contains("requires a value")))
    assert(IndexCli.parse(Array("/c", "--model", "--remote-embeddings")).isLeft)
    assert(IndexCli.parse(Array("/c", "--chunk-size", "2k")).left.exists(_.contains("integer")))
    assert(IndexCli.parse(Array("/c", "--dim", "0")).left.exists(_.contains("≥ 1")))
    // backend URLs configurable from the command line
    assert(IndexCli.parse(Array("/c", "--ollama-url", "http://h:1234"))
      .exists(_.backends.ollamaUrl == "http://h:1234"))
    // unknown backend string surfaces as an error, not a MatchError
    assert(IndexCli.embedderOf(IndexCli.Args(corpus = "/c", backend = "olama")).isLeft)

    // end-to-end with the default hash backend
    val corpus = writeCorpus()
    val idx = Files.createTempDirectory("graft-cli-index").toString
    val out = new java.io.ByteArrayOutputStream()
    val code = IndexCli.run(spark,
      IndexCli.Args(corpus = corpus.toString, chunkSize = 50, indexPath = idx),
      new java.io.PrintStream(out, true, "UTF-8"))
    assert(code == 0, out.toString("UTF-8"))
    val console = out.toString("UTF-8")
    assert(console.contains("Log Indexer"))
    assert(console.contains("Indexed "))
    assert(Graft.ask(spark, idx, "database timeout", k = 2).hits.count() == 2)

    // missing corpus dir → error exit, nothing written
    val bad = IndexCli.run(spark,
      IndexCli.Args(corpus = "/definitely/not/here", indexPath = idx),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    assert(bad == 1)

    // unavailable ollama backend → availability gate aborts (the
    // reference's check_availability exit, index.py:559-561)
    val gated = IndexCli.run(spark,
      IndexCli.Args(corpus = corpus.toString, backend = "ollama",
        backends = Graft.Backends(ollamaUrl = "http://127.0.0.1:1")),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    assert(gated == 1)
  }

  private class FlakyEmbedder(failures: Int) extends Embedder {
    var calls = 0
    override def dim: Int = 4
    override def model: String = "flaky"
    override def embed(texts: Seq[String]): Seq[Array[Float]] = {
      calls += 1
      if (calls <= failures) throw new RuntimeException(s"boom $calls")
      texts.map(_ => Array.fill(4)(1.0f))
    }
  }

  test("retry embedder: exponential backoff then success (index.py:164-202)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val flaky = new FlakyEmbedder(failures = 2)
    val r = new RetryEmbedder(flaky, maxAttempts = 3, baseDelayMs = 1000, sleeper = sleeps += _)
    assert(r.embed(Seq("a")).head.toSeq == Seq(1.0f, 1.0f, 1.0f, 1.0f))
    assert(sleeps.toSeq == Seq(1000L, 2000L))
    assert(flaky.calls == 3)
  }

  test("retry embedder: rethrows after final attempt") {
    val flaky = new FlakyEmbedder(failures = 99)
    val r = new RetryEmbedder(flaky, maxAttempts = 3, baseDelayMs = 1, sleeper = _ => ())
    val e = intercept[RuntimeException](r.embed(Seq("a")))
    assert(e.getMessage == "boom 3")
  }

  test("zero-fallback embedder: bad text → zero vector, batch survives (index.py:126-140)") {
    val inner = new Embedder {
      override def dim = 4
      override def model = "picky"
      override def embed(texts: Seq[String]) = texts.map { t =>
        if (t == "bad") throw new RuntimeException("no") else Array.fill(4)(0.5f)
      }
    }
    val z = new ZeroFallbackEmbedder(inner)
    val out = z.embed(Seq("ok", "bad", "ok"))
    assert(out(0).forall(_ == 0.5f))
    assert(out(1).forall(_ == 0.0f))
    assert(out(2).forall(_ == 0.5f))
  }
}
