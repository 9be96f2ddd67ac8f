package graft.embed

import graft.functions.CrossHash

/** Pluggable embedding backend — the engine-side counterpart of the
  * reference's `EmbeddingHandler` ABC (log-vector `index.py:56-69`:
  * `embed(texts) -> List[List[float]]` + availability gate). The
  * reference ships three remote backends (local SentenceTransformer,
  * Ollama HTTP, remote batch HTTP — `index.py:72-215`); all need a
  * network or model weights, so the engine's default is the
  * deterministic [[HashEmbedder]] (SURVEY §7.3) and real backends
  * plug in behind this trait.
  *
  * Implementations MUST be serializable and cheap to construct: one
  * instance is deserialized lazily per executor JVM inside the embed
  * UDF's closure (the Spark analog of the reference's per-process
  * model cache, `embedding_server.py:103-120`).
  */
trait Embedder extends Serializable {
  def dim: Int
  def model: String

  /** Backend family tag persisted in the index manifest (reference
    * `embedding_type`, index.py:466) and validated at query time so
    * an index can never be silently searched with a mismatched
    * embedder. */
  def kind: String = "custom"

  /** Batch embed — the reference's `embed(texts)` contract. The
    * DataFrame operator ([[EmbedOps]]) calls [[embedOne]] once per
    * row. */
  def embed(texts: Seq[String]): Seq[Array[Float]]

  def embedOne(text: String): Array[Float] = embed(Seq(text)).head
}

/** Deterministic feature-hashing embedder: unigram + bigram tokens →
  * signed hash buckets → L2-normalized float vector (dim 64 matches
  * the driver fixture `embeddings.parquet`).
  *
  * Offline, seedable, and pure — replaces the reference's
  * network-bound encoders so the whole pipeline is testable with no
  * egress, while keeping identical dataflow shape (text in, unit
  * vector out). Hashing is the cross-engine 60-bit md5 primitive
  * (graft.functions.CrossHash) keyed `"{seed}|{token}"` and
  * `"{seed}|{token} {next}"`, which makes the WHOLE index dataflow
  * DuckDB-recomputable: bucket sums are exact ±1 integers, the norm
  * is an exact integer in double, and the final float truncation is
  * IEEE round-to-nearest in both engines — so `index_pipeline`'s
  * embedding checksums hash-match the oracle.
  *
  * Each key is hashed directly, with no memo. A static memo of the
  * key hashes does hit (on repeated index passes over one log tree,
  * every lookup after the first pass), and a warm hit is cheaper than
  * the md5; but it keeps one entry per distinct unigram and bigram,
  * about 240k and 32 MB of heap for a 3 MB log tree, for the life of
  * the JVM, and dropping it did not slow the index path measurably.
  */
final class HashEmbedder(val dim: Int = 64, seed: Long = 42L) extends Embedder {
  require(dim > 0)
  override def model: String = s"hash-ngram-$dim"
  override def kind: String = "hash"

  /** `"{seed}|"`, the start of every key. */
  private val keyPrefix = s"$seed|"

  override def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map(embedOne)

  override def embedOne(text: String): Array[Float] = {
    val v = new Array[Double](dim)
    val toks = HashEmbedder.tokenize(text)
    var i = 0
    while (i < toks.length) {
      add(v, CrossHash.md5Hash60(keyPrefix + toks(i)))
      if (i + 1 < toks.length) add(v, CrossHash.md5Hash60(keyPrefix + toks(i) + " " + toks(i + 1)))
      i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    val out = new Array[Float](dim)
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      j = 0
      while (j < dim) { out(j) = (v(j) * inv).toFloat; j += 1 }
    }
    // all-zero input (e.g., whitespace-only text) → zero vector, the
    // degenerate case the reference also produces on embed failure
    // (index.py:138); downstream kNN excludes it (quirk Q4 fix).
    out
  }

  /** h is the 60-bit md5 hash: bucket from the low bits mod dim,
    * sign from bit 32 — both plain positive arithmetic, mirrored
    * verbatim in the index_pipeline oracle SQL. */
  private def add(v: Array[Double], h: Long): Unit = {
    val bucket = (h % dim.toLong).toInt
    val sign = if (((h >> 32) & 1L) == 0L) 1.0 else -1.0
    v(bucket) += sign
  }
}

object HashEmbedder {
  val default: HashEmbedder = new HashEmbedder(64)

  /** Lower-cased in the root locale, so the tokens (and the vectors
    * hashed from them) do not depend on the JVM's default locale (a
    * `tr` default lower-cases `INFO` to `ınfo`), then split on
    * whitespace: Java's `\s` (space, `\t`, `\n`, `\x0B`, `\f`,
    * `\r`); Unicode spaces such as U+00A0 stay inside tokens. */
  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else {
      val s = text.toLowerCase(java.util.Locale.ROOT)
      val out = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (isSpace(s.charAt(i))) i += 1
        else {
          val start = i
          while (i < s.length && !isSpace(s.charAt(i))) i += 1
          out += s.substring(start, i)
        }
      }
      out.result()
    }

  private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
}
