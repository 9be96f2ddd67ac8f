package graft.embed

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Offline real-model embedding backend: a pure-JVM forward pass of a
  * BERT/MiniLM-class sentence encoder loaded from a LOCAL directory —
  * the engine-side counterpart of the reference's primary backend,
  * the in-process SentenceTransformer (log-vector `index.py:72-111`,
  * `embedding_server.py:103-120`). No network, no native runtime: the
  * weights (safetensors), WordPiece vocab, and config are read from
  * disk and the encoder runs as scalar JVM float math.
  *
  * Model directory layout = a standard sentence-transformers export:
  * {{{
  *   model.safetensors   # HF BERT tensor names (optionally "bert."-prefixed)
  *   vocab.txt           # WordPiece vocab, one token per line
  *   config.json         # num_attention_heads / layer_norm_eps / ...
  * }}}
  *
  * Pipeline (the all-MiniLM-L6-v2 recipe): lowercase + punctuation
  * basic tokenization → WordPiece → [CLS] … [SEP] (truncated to
  * [[TransformerEmbedder.MaxTokens]]) → token+position+segment
  * embeddings → N transformer layers (multi-head attention, GELU FFN,
  * post-LayerNorm) → attention-masked MEAN pooling → L2 normalize.
  *
  * Executor model cache: the instance that ships in UDF/mapPartitions
  * closures carries only the path; weights load once per executor JVM
  * through [[TransformerEmbedder.loaded]] (ConcurrentHashMap keyed by
  * path) — the Spark analog of the reference's per-process model
  * cache. The scalar math is correctness-first: ~1 GFLOP per 128-token
  * text for MiniLM-L6; at corpus scale the partition parallelism of
  * the per-row [[EmbedOps]] UDF is what scales it, same as every
  * other per-row featurizer here.
  */
final class TransformerEmbedder(val modelDir: String) extends Embedder {
  override def kind: String = "local"
  override lazy val model: String = TransformerEmbedder.loaded(modelDir).name
  override lazy val dim: Int = TransformerEmbedder.loaded(modelDir).hidden

  override def embed(texts: Seq[String]): Seq[Array[Float]] =
    texts.map(t => TransformerEmbedder.loaded(modelDir).encode(t))

  override def embedOne(text: String): Array[Float] =
    TransformerEmbedder.loaded(modelDir).encode(text)
}

object TransformerEmbedder {

  /** Sequence cap (positions beyond this are truncated) — bounded
    * per-row cost at corpus scale; MiniLM's own max is 512. */
  val MaxTokens = 256

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Loaded]()

  /** Per-JVM (≡ per-executor) singleton load. */
  private[graft] def loaded(dir: String): Loaded =
    cache.computeIfAbsent(dir, d => Loaded.fromDir(d))

  /** Test hook: drop loaded models (memory hygiene between fixtures). */
  private[graft] def clearCache(): Unit = cache.clear()

  // ---------------------------------------------------------------- model

  private[graft] final class Loaded(
      val name: String,
      val hidden: Int,
      layers: Int,
      heads: Int,
      eps: Float,
      vocab: java.util.HashMap[String, Integer],
      unkId: Int,
      clsId: Int,
      sepId: Int,
      t: Map[String, SafeTensors.Tensor]) {

    private val headDim = hidden / heads
    private def w(n: String): Array[Float] = t(n).data
    private val wordEmb = w("embeddings.word_embeddings.weight")
    private val posEmb = w("embeddings.position_embeddings.weight")
    private val typeEmb = w("embeddings.token_type_embeddings.weight")

    /** Sequence cap: the global [[MaxTokens]] bound clamped to the
      * model's own position table — indexing past it would be an
      * ArrayIndexOutOfBounds, not a truncation. */
    private val maxSeq: Int =
      math.min(MaxTokens, t("embeddings.position_embeddings.weight").shape(0))

    /** Encode one text to a unit-norm sentence vector. */
    def encode(text: String): Array[Float] = {
      val ids = tokenizeToIds(text)
      val n = ids.length
      // x(i) = hidden-dim state of token i
      var x = Array.tabulate(n) { i =>
        val v = new Array[Float](hidden)
        val id = ids(i)
        var d = 0
        while (d < hidden) {
          v(d) = wordEmb(id * hidden + d) + posEmb(i * hidden + d) + typeEmb(d)
          d += 1
        }
        v
      }
      layerNormInPlace(x, w("embeddings.LayerNorm.weight"), w("embeddings.LayerNorm.bias"))
      var l = 0
      while (l < layers) {
        x = layer(x, s"encoder.layer.$l.")
        l += 1
      }
      // masked mean pooling (no padding here: every position is real),
      // then L2 normalize — the sentence-transformers default head
      val out = new Array[Float](hidden)
      var i = 0
      while (i < n) {
        val v = x(i)
        var d = 0
        while (d < hidden) { out(d) += v(d); d += 1 }
        i += 1
      }
      var norm = 0.0
      var d = 0
      while (d < hidden) { out(d) /= n; norm += out(d).toDouble * out(d); d += 1 }
      if (norm > 0) {
        val inv = (1.0 / math.sqrt(norm)).toFloat
        d = 0
        while (d < hidden) { out(d) *= inv; d += 1 }
      }
      out
    }

    // ------------------------------------------------------- transformer

    private def layer(x: Array[Array[Float]], p: String): Array[Array[Float]] = {
      val n = x.length
      val q = linearAll(x, w(p + "attention.self.query.weight"), w(p + "attention.self.query.bias"))
      val k = linearAll(x, w(p + "attention.self.key.weight"), w(p + "attention.self.key.bias"))
      val v = linearAll(x, w(p + "attention.self.value.weight"), w(p + "attention.self.value.bias"))
      val ctx = Array.fill(n)(new Array[Float](hidden))
      val scale = 1.0 / math.sqrt(headDim.toDouble)
      var h = 0
      while (h < heads) {
        val off = h * headDim
        var i = 0
        while (i < n) {
          // scores of query i against every key, one head
          val sc = new Array[Double](n)
          var mx = Double.MinValue
          var j = 0
          while (j < n) {
            var s = 0.0
            var d = 0
            while (d < headDim) { s += q(i)(off + d).toDouble * k(j)(off + d); d += 1 }
            s *= scale
            sc(j) = s
            if (s > mx) mx = s
            j += 1
          }
          var z = 0.0
          j = 0
          while (j < n) { sc(j) = math.exp(sc(j) - mx); z += sc(j); j += 1 }
          j = 0
          while (j < n) {
            val a = sc(j) / z
            var d = 0
            while (d < headDim) { ctx(i)(off + d) += (a * v(j)(off + d)).toFloat; d += 1 }
            j += 1
          }
          i += 1
        }
        h += 1
      }
      val att = linearAll(ctx, w(p + "attention.output.dense.weight"), w(p + "attention.output.dense.bias"))
      addInPlace(att, x)
      layerNormInPlace(att, w(p + "attention.output.LayerNorm.weight"), w(p + "attention.output.LayerNorm.bias"))
      val inter = linearAll(att, w(p + "intermediate.dense.weight"), w(p + "intermediate.dense.bias"))
      geluInPlace(inter)
      val out = linearAll(inter, w(p + "output.dense.weight"), w(p + "output.dense.bias"))
      addInPlace(out, att)
      layerNormInPlace(out, w(p + "output.LayerNorm.weight"), w(p + "output.LayerNorm.bias"))
      out
    }

    /** y = W·x + b per row; W is HF row-major [out, in]. */
    private def linearAll(x: Array[Array[Float]], wt: Array[Float], b: Array[Float]): Array[Array[Float]] = {
      val in = x(0).length
      val out = b.length
      x.map { row =>
        val y = new Array[Float](out)
        var o = 0
        while (o < out) {
          var s = b(o).toDouble
          val base = o * in
          var i = 0
          while (i < in) { s += wt(base + i).toDouble * row(i); i += 1 }
          y(o) = s.toFloat
          o += 1
        }
        y
      }
    }

    private def addInPlace(a: Array[Array[Float]], b: Array[Array[Float]]): Unit = {
      var i = 0
      while (i < a.length) {
        var d = 0
        while (d < a(i).length) { a(i)(d) += b(i)(d); d += 1 }
        i += 1
      }
    }

    private def layerNormInPlace(x: Array[Array[Float]], g: Array[Float], b: Array[Float]): Unit = {
      val d = g.length
      var i = 0
      while (i < x.length) {
        val v = x(i)
        var mu = 0.0
        var j = 0
        while (j < d) { mu += v(j); j += 1 }
        mu /= d
        var va = 0.0
        j = 0
        while (j < d) { val c = v(j) - mu; va += c * c; j += 1 }
        val inv = 1.0 / math.sqrt(va / d + eps)
        j = 0
        while (j < d) { v(j) = (((v(j) - mu) * inv) * g(j) + b(j)).toFloat; j += 1 }
        i += 1
      }
    }

    /** Exact (erf-based) GELU, the BERT activation. */
    private def geluInPlace(x: Array[Array[Float]]): Unit = {
      var i = 0
      while (i < x.length) {
        val v = x(i)
        var j = 0
        while (j < v.length) {
          val d = v(j).toDouble
          v(j) = (d * 0.5 * (1.0 + erf(d / 1.4142135623730951))).toFloat
          j += 1
        }
        i += 1
      }
    }

    // ---------------------------------------------------------- tokenizer

    /** BERT basic tokenization (lowercase, punctuation split) +
      * greedy longest-match WordPiece, bracketed by [CLS]/[SEP]. */
    private[graft] def tokenizeToIds(text: String): Array[Int] = {
      val ids = new scala.collection.mutable.ArrayBuffer[Int](64)
      ids += clsId
      val words = basicTokens(if (text == null) "" else text)
      var wi = 0
      while (wi < words.length && ids.length < maxSeq - 1) {
        wordPiece(words(wi), ids)
        wi += 1
      }
      val trimmed =
        if (ids.length > maxSeq - 1) ids.take(maxSeq - 1) else ids
      (trimmed += sepId).toArray
    }

    /** BERT-uncased basic normalization: lowercase, NFD accent
      * stripping (combining marks removed, so "café" → "cafe" finds
      * its vocab entry like the trained tokenizer), code-point
      * iteration (a non-BMP char is ONE token, never a pair of lone
      * surrogates), punctuation split into single-char tokens. */
    private def basicTokens(text: String): Array[String] = {
      val norm = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFD)
      val out = new scala.collection.mutable.ArrayBuffer[String](32)
      val sb = new java.lang.StringBuilder
      def flush(): Unit = if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      var i = 0
      while (i < norm.length) {
        val cp = norm.codePointAt(i)
        val lc = Character.toLowerCase(cp)
        if (Character.getType(cp) == Character.NON_SPACING_MARK) () // strip accents
        else if (Character.isWhitespace(lc)) flush()
        else if (Character.isLetterOrDigit(lc)) sb.appendCodePoint(lc)
        else { // punctuation/symbol = its own token
          flush()
          out += new String(Character.toChars(lc))
        }
        i += Character.charCount(cp)
      }
      flush()
      out.toArray
    }

    private def wordPiece(word: String, ids: scala.collection.mutable.ArrayBuffer[Int]): Unit = {
      if (word.length > 100) { ids += unkId; return }
      var start = 0
      val pieces = new scala.collection.mutable.ArrayBuffer[Int](4)
      while (start < word.length) {
        var end = word.length
        var found = -1
        while (end > start && found < 0) {
          val sub = (if (start > 0) "##" else "") + word.substring(start, end)
          val id = vocab.get(sub)
          if (id != null) found = id.intValue()
          else end -= 1
        }
        if (found < 0) { ids += unkId; return } // unmatchable → whole word UNK
        pieces += found
        start = end
      }
      ids ++= pieces
    }
  }

  /** Abramowitz & Stegun 7.1.26 erf (|err| ≤ 1.5e-7) — accuracy far
    * below f32 resolution, so the activation is float-exact. */
  private def erf(x: Double): Double = {
    val s = if (x < 0) -1.0 else 1.0
    val a = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * a)
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-a * a)
    s * y
  }

  private[graft] object Loaded {
    def fromDir(dir: String): Loaded = {
      val weights = pickWeights(dir)
      val tensors0 = SafeTensors.load(weights)
      // some exports prefix every tensor ("bert.", "model."): strip the
      // longest common prefix ending before "embeddings."/"encoder."
      val tensors: Map[String, SafeTensors.Tensor] =
        if (tensors0.contains("embeddings.word_embeddings.weight")) tensors0
        else {
          val key = tensors0.keys.find(_.endsWith("embeddings.word_embeddings.weight"))
            .getOrElse(throw new IllegalArgumentException(
              s"no embeddings.word_embeddings.weight tensor in $weights"))
          val prefix = key.stripSuffix("embeddings.word_embeddings.weight")
          tensors0.map { case (k, v) => k.stripPrefix(prefix) -> v }
        }
      val hidden = tensors("embeddings.word_embeddings.weight").shape(1)
      val layers = tensors.keys
        .flatMap("""encoder\.layer\.(\d+)\.""".r.findFirstMatchIn(_).map(_.group(1).toInt))
        .foldLeft(-1)(math.max) + 1
      require(layers > 0, s"no encoder.layer.N tensors found in $weights")
      val cfg = readConfig(dir)
      // the head count is NOT inferable from tensor shapes (Q/K/V are
      // hidden×hidden regardless of the head split) and a wrong guess
      // produces numerically-plausible garbage embeddings — so a
      // missing config is a hard error, never a silent default
      val heads = cfg.getOrElse("num_attention_heads",
        throw new IllegalArgumentException(
          s"config.json under $dir must declare num_attention_heads " +
            "(the head split cannot be inferred from the weights)")).toInt
      require(hidden % heads == 0, s"hidden $hidden not divisible by heads $heads")
      val eps = cfg.getOrElse("layer_norm_eps", 1e-12).toFloat
      val (vocab, unk, cls, sep) = readVocab(dir)
      new Loaded(new java.io.File(dir).getName, hidden, layers, heads, eps,
        vocab, unk, cls, sep, tensors)
    }

    private def pickWeights(dir: String): String = {
      val cands = Seq("model.safetensors", "pytorch_model.safetensors")
        .map(f => Paths.get(dir, f))
      cands.find(Files.exists(_)).map(_.toString).getOrElse(
        throw new IllegalArgumentException(
          s"no model.safetensors under $dir (need a safetensors export)"))
    }

    /** The few numeric fields the forward pass needs, regex-pulled
      * from config.json (absent file/keys → sensible BERT defaults). */
    private def readConfig(dir: String): Map[String, Double] = {
      val p = Paths.get(dir, "config.json")
      if (!Files.exists(p)) return Map.empty
      val txt = new String(Files.readAllBytes(p), "UTF-8")
      Seq("num_attention_heads", "layer_norm_eps", "num_hidden_layers")
        .flatMap { k =>
          (s""""$k"\\s*:\\s*([0-9eE+.-]+)""").r.findFirstMatchIn(txt)
            .map(m => k -> m.group(1).toDouble)
        }.toMap
    }

    private def readVocab(dir: String): (java.util.HashMap[String, Integer], Int, Int, Int) = {
      val p = Paths.get(dir, "vocab.txt")
      require(Files.exists(p), s"no vocab.txt under $dir")
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      // line number IS the token id — a blank line still consumes an
      // id slot (only a trailing newline's empty tail is a no-op)
      Files.readAllLines(p).asScala.foreach { line =>
        val tok = line.trim
        if (tok.nonEmpty) m.put(tok, i)
        i += 1
      }
      def id(tok: String): Int = {
        val v = m.get(tok)
        require(v != null, s"vocab.txt under $dir lacks $tok")
        v.intValue()
      }
      (m, id("[UNK]"), id("[CLS]"), id("[SEP]"))
    }
  }
}
