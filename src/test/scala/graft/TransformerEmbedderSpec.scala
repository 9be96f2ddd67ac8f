package graft

import graft.embed.{SafeTensors, TransformerEmbedder}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** In-process transformer embedding backend, driven by a TINY synthetic
  * sentence-encoder export generated on the fly (deterministic weights,
  * real safetensors layout + WordPiece vocab + config.json — exactly
  * the directory shape of a sentence-transformers MiniLM download, at
  * toy scale). Asserts the loader, the tokenizer, the forward pass
  * invariants, the per-JVM model cache, and the CLI/manifest wiring.
  * A REAL checkpoint runs through the identical code path: point
  * GRAFT_LOCAL_MODEL at an all-MiniLM-class export and the gated test
  * at the bottom exercises it. */
class TransformerEmbedderSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  // ------------------------------------------------------ fixture model

  private val Hidden = 8
  private val Layers = 2
  private val Heads = 2
  private val Inter = 16
  private val MaxPos = 64

  private val vocabTokens: Seq[String] =
    Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]", "the", "quick", "brown", "fox",
      "jump", "##s", "##ing", "over", "lazy", "dog", ".", ",", "spark",
      "engine", "query", "data")

  /** Stable 64-bit string hash (FNV-1a over UTF-16 code units). */
  private def stableHash64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** Deterministic small weights: w(k) ∈ (-0.1, 0.1), different per
    * tensor via a name-seeded LCG — no Math.random, reproducible. */
  private def fill(name: String, n: Int): Array[Float] = {
    var x = stableHash64(name)
    Array.fill(n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11).toDouble / (1L << 53).toDouble - 0.5).toFloat * 0.2f
    }
  }

  private def writeSafetensors(path: java.nio.file.Path,
      tensors: Seq[(String, Seq[Int], Array[Float])]): Unit = {
    var off = 0L
    val entries = tensors.map { case (name, shape, data) =>
      val bytes = data.length * 4L
      val e = s""""$name":{"dtype":"F32","shape":[${shape.mkString(",")}],"data_offsets":[$off,${off + bytes}]}"""
      off += bytes
      e
    }
    val header = entries.mkString("{", ",", "}").getBytes("UTF-8")
    val bb = ByteBuffer.allocate(8 + header.length + off.toInt).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(header.length.toLong)
    bb.put(header)
    tensors.foreach { case (_, _, data) =>
      data.foreach(bb.putFloat)
    }
    Files.write(path, bb.array())
  }

  private def makeModel(hidden: Int, layers: Int, heads: Int, inter: Int): String = {
    val d = Files.createTempDirectory("graft-st-model")
    val ts = scala.collection.mutable.ArrayBuffer[(String, Seq[Int], Array[Float])]()
    def add(name: String, shape: Int*): Unit =
      ts += ((name, shape.toSeq, fill(name, shape.product)))
    add("embeddings.word_embeddings.weight", vocabTokens.length, hidden)
    add("embeddings.position_embeddings.weight", MaxPos, hidden)
    add("embeddings.token_type_embeddings.weight", 2, hidden)
    add("embeddings.LayerNorm.weight", hidden)
    add("embeddings.LayerNorm.bias", hidden)
    for (l <- 0 until layers) {
      val p = s"encoder.layer.$l."
      add(p + "attention.self.query.weight", hidden, hidden)
      add(p + "attention.self.query.bias", hidden)
      add(p + "attention.self.key.weight", hidden, hidden)
      add(p + "attention.self.key.bias", hidden)
      add(p + "attention.self.value.weight", hidden, hidden)
      add(p + "attention.self.value.bias", hidden)
      add(p + "attention.output.dense.weight", hidden, hidden)
      add(p + "attention.output.dense.bias", hidden)
      add(p + "attention.output.LayerNorm.weight", hidden)
      add(p + "attention.output.LayerNorm.bias", hidden)
      add(p + "intermediate.dense.weight", inter, hidden)
      add(p + "intermediate.dense.bias", inter)
      add(p + "output.dense.weight", hidden, inter)
      add(p + "output.dense.bias", hidden)
      add(p + "output.LayerNorm.weight", hidden)
      add(p + "output.LayerNorm.bias", hidden)
    }
    writeSafetensors(d.resolve("model.safetensors"), ts.toSeq)
    Files.write(d.resolve("vocab.txt"),
      vocabTokens.mkString("\n").getBytes("UTF-8"))
    Files.write(d.resolve("config.json"),
      s"""{"num_attention_heads": $heads, "layer_norm_eps": 1e-12,
         | "num_hidden_layers": $layers, "hidden_size": $hidden}""".stripMargin.getBytes("UTF-8"))
    d.toString
  }

  private lazy val modelDir: String = makeModel(Hidden, Layers, Heads, Inter)

  // ----------------------------------------------------------- loader

  test("safetensors round-trip: writer fixture parses back tensor-exact") {
    val got = SafeTensors.load(Paths.get(modelDir, "model.safetensors").toString)
    assert(got.contains("embeddings.word_embeddings.weight"))
    val we = got("embeddings.word_embeddings.weight")
    assert(we.shape == Seq(vocabTokens.length, Hidden))
    assert(we.data.sameElements(fill("embeddings.word_embeddings.weight",
      vocabTokens.length * Hidden)))
  }

  test("safetensors: corrupt data_offsets fail with tensor name and path") {
    val d = Files.createTempDirectory("graft-st-corrupt")
    val header = """{"t":{"dtype":"F32","shape":[4],"data_offsets":[0,999]}}"""
    val hb = header.getBytes("UTF-8")
    val bb = java.nio.ByteBuffer.allocate(8 + hb.length + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(hb.length.toLong); bb.put(hb); bb.put(new Array[Byte](8))
    val p = d.resolve("bad.safetensors")
    Files.write(p, bb.array())
    val e = intercept[IllegalArgumentException](SafeTensors.load(p.toString))
    assert(e.getMessage.contains("'t'") && e.getMessage.contains("bad.safetensors"),
      s"undiagnosable message: ${e.getMessage}")
  }

  test("f16 widening: known half-precision bit patterns") {
    assert(SafeTensors.f16ToF32(0x3C00.toShort) == 1.0f)
    assert(SafeTensors.f16ToF32(0xC000.toShort) == -2.0f)
    assert(SafeTensors.f16ToF32(0x0000.toShort) == 0.0f)
    assert(SafeTensors.f16ToF32(0x3555.toShort) === 0.33325195f)
  }

  // ---------------------------------------------------------- encoding

  test("encodes to a unit-norm vector of the model's hidden size") {
    val e = new TransformerEmbedder(modelDir)
    assert(e.dim == Hidden)
    assert(e.kind == "local")
    val v = e.embedOne("the quick brown fox jumps over the lazy dog.")
    assert(v.length == Hidden)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5, s"norm $n")
    assert(v.forall(x => !x.isNaN && !x.isInfinite))
  }

  test("deterministic, and batch embed ≡ one-by-one") {
    val e = new TransformerEmbedder(modelDir)
    val texts = Seq("the quick brown fox", "spark engine query data", "dog.")
    val batch = e.embed(texts)
    texts.zip(batch).foreach { case (t, b) =>
      assert(e.embedOne(t).sameElements(b), s"mismatch for '$t'")
    }
    assert(e.embedOne("the quick brown fox").sameElements(
      e.embedOne("the quick brown fox")))
  }

  test("different texts separate; word order matters (not bag-of-words)") {
    // a tiny random model is NEARLY constant (LayerNorm dominates), so
    // the discriminating assertion is exact inequality: distinct inputs
    // and distinct orderings must not collapse to the same vector
    val e = new TransformerEmbedder(modelDir)
    assert(!e.embedOne("quick fox").sameElements(e.embedOne("lazy dog")),
      "unrelated texts must not be identical")
    assert(!e.embedOne("fox over dog").sameElements(e.embedOne("dog over fox")),
      "attention must see position, unlike a BOW hash")
  }

  test("tokenizer: WordPiece continuation, punctuation split, UNK fallback") {
    val m = TransformerEmbedder.loaded(modelDir)
    def ids(s: String) = m.tokenizeToIds(s).toSeq
    val cls = vocabTokens.indexOf("[CLS]")
    val sep = vocabTokens.indexOf("[SEP]")
    val unk = vocabTokens.indexOf("[UNK]")
    // jumps → jump + ##s; trailing '.' splits off
    assert(ids("jumps.") == Seq(cls, vocabTokens.indexOf("jump"),
      vocabTokens.indexOf("##s"), vocabTokens.indexOf("."), sep))
    // unknown word → single UNK; case folds
    assert(ids("Zebra") == Seq(cls, unk, sep))
    assert(ids("The QUICK") == Seq(cls, vocabTokens.indexOf("the"),
      vocabTokens.indexOf("quick"), sep))
    // empty text still brackets
    assert(ids("") == Seq(cls, sep))
  }

  test("long input truncates to MaxTokens") {
    val m = TransformerEmbedder.loaded(modelDir)
    val long = Seq.fill(2000)("the").mkString(" ")
    val ids = m.tokenizeToIds(long)
    assert(ids.length <= TransformerEmbedder.MaxTokens)
    assert(ids.last == vocabTokens.indexOf("[SEP]"))
  }

  test("per-JVM model cache: second instance reuses the loaded weights") {
    TransformerEmbedder.clearCache()
    val a = TransformerEmbedder.loaded(modelDir)
    val b = TransformerEmbedder.loaded(modelDir)
    assert(a eq b, "expected the ConcurrentHashMap singleton per path")
  }

  test("missing export fails with a clear message") {
    val empty = Files.createTempDirectory("graft-st-empty").toString
    val ex = intercept[Exception] { TransformerEmbedder.loaded(empty) }
    assert(ex.getMessage.contains("safetensors"))
  }

  test("missing num_attention_heads is a hard error, never a silent guess") {
    // the head split is not recoverable from tensor shapes; a wrong
    // guess yields plausible-looking garbage embeddings
    val d = java.nio.file.Paths.get(makeModel(Hidden, 1, Heads, Inter))
    Files.delete(d.resolve("config.json"))
    val ex = intercept[Exception] { TransformerEmbedder.loaded(d.toString) }
    assert(ex.getMessage.contains("num_attention_heads"))
  }

  test("accent stripping and non-BMP safety in the basic tokenizer") {
    val m = TransformerEmbedder.loaded(modelDir)
    // "thé" NFD-strips to "the", which IS in vocab
    assert(m.tokenizeToIds("thé").toSeq ==
      Seq(vocabTokens.indexOf("[CLS]"), vocabTokens.indexOf("the"),
        vocabTokens.indexOf("[SEP]")))
    // a non-BMP char must not crash or split into lone surrogates
    val ids = m.tokenizeToIds("the 😀 fox")
    assert(ids.length == 5) // CLS the UNK(emoji) fox SEP
  }

  test("position-table clamp: fixture model (64 positions) embeds a long text") {
    val e = new TransformerEmbedder(modelDir)
    val long = Seq.fill(300)("the quick").mkString(" ")
    val v = e.embedOne(long) // > MaxPos words: must truncate, not crash
    assert(v.length == Hidden && v.forall(x => !x.isNaN))
  }

  // --------------------------------------------------- manifest + CLI

  test("IndexCli --local-model: e2e index → manifest 'local' → openAuto answers") {
    val corpus = Files.createTempDirectory("graft-st-corpus")
    Files.write(corpus.resolve("a.txt"),
      "the quick brown fox jumps over the lazy dog".getBytes("UTF-8"))
    Files.write(corpus.resolve("b.txt"),
      "spark engine query data".getBytes("UTF-8"))
    val idx = Files.createTempDirectory("graft-st-idx").resolve("index").toString
    val out = new java.io.ByteArrayOutputStream()
    val code = IndexCli.parse(Array(corpus.toString,
      "--local-model", modelDir, "--index-path", idx)) match {
      case Right(a) => IndexCli.run(spark, a, new java.io.PrintStream(out))
      case Left(err) => fail(err)
    }
    assert(code == 0, out.toString)
    assert(out.toString.contains("local"))
    val manifest = graft.index.VectorIndex.readManifest(spark, idx)
    assert(manifest.embedding_type == "local")
    // query side resolves the same in-process model from Backends
    val session = Graft.openAuto(spark, idx, dim = Hidden,
      backends = Graft.Backends(localModelDir = Some(modelDir)))
    try {
      val r = session.ask("quick brown fox", k = 1)
      assert(r.hits.count() == 1)
      assert(r.context.contains("fox"))
    } finally session.close()
  }

  test("openAuto gate: opening with a different-width local model fails fast") {
    val idx = Files.createTempDirectory("graft-st-idx2").resolve("index").toString
    val corpus = Files.createTempDirectory("graft-st-corpus2")
    Files.write(corpus.resolve("a.txt"), "the quick fox".getBytes("UTF-8"))
    val e = new TransformerEmbedder(modelDir)
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(embedder = e))
    // the gate compares the model's hidden size against the INDEXED
    // vectors (AskCli passes no dim), so pointing the session at a
    // model of a different width must fail before any query
    val otherModel = makeModel(hidden = 4, layers = 1, heads = 1, inter = 8)
    val ex = intercept[IllegalStateException] {
      Graft.openAuto(spark, idx,
        backends = Graft.Backends(localModelDir = Some(otherModel)))
    }
    assert(ex.getMessage.contains("dim"))
  }

  // ------------------------------------------- real checkpoint (gated)

  test("real checkpoint via GRAFT_LOCAL_MODEL embeds coherently") {
    val real = sys.env.get("GRAFT_LOCAL_MODEL")
    assume(real.isDefined, "set GRAFT_LOCAL_MODEL to a sentence-encoder export to run")
    val e = new TransformerEmbedder(real.get)
    val v1 = e.embedOne("a cat sits on the mat")
    val v2 = e.embedOne("a kitten rests on the rug")
    val v3 = e.embedOne("quarterly revenue grew by twelve percent")
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    assert(cos(v1, v2) > cos(v1, v3), "semantically close pair must score higher")
  }

  private implicit class ApproxFloat(private val x: Float) {
    def ===(y: Float): Boolean = math.abs(x - y) < 1e-6f
  }
}
