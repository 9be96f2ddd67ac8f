package graft

import graft.embed.{EmbedOps, Embedder, HashEmbedder, HttpBackend, OllamaEmbedder, RemoteEmbedder, TransformerEmbedder}
import graft.index.{IndexManifest, VectorIndex}
import graft.ingest.{Chunker, Sources}
import graft.query.{Knn, Postings}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade — the engine's equivalents of the reference's
  * two CLI entry points (`python index.py <repo>` and `python
  * ask.py`, log-vector `index.py:481-584` / `ask.py:276-326`). A
  * reference user switches by calling [[index]] then [[ask]].
  */
object Graft {

  /** `numPartitions`: embed tasks and index files, default the
    * session's shuffle partitions ([[VectorIndex.layout]]). */
  case class IndexConfig(
      chunkSize: Int = Chunker.DefaultChunkSize,
      embedder: Embedder = HashEmbedder.default,
      numPartitions: Option[Int] = None)

  /** Batch index build: scan → sniff/decode → chunk → layout
    * shuffle → embed → overwrite parquet index, then the manifest on
    * the driver (the reference's `process_repository` +
    * `save_to_chromadb` + `save_metadata` pipeline). Two Spark jobs:
    * the scan stage up to the shuffle, and embed + write after it,
    * balanced by chunk ([[VectorIndex.layout]]). */
  def index(
      spark: SparkSession,
      corpusDir: String,
      indexPath: String,
      cfg: IndexConfig = IndexConfig()): IndexManifest = {
    val files = Sources.readTextFiles(spark, corpusDir)
    val chunks = VectorIndex.layout(
      Chunker.chunkDF(files, "source", "content", cfg.chunkSize), cfg.numPartitions)
    val embedded = EmbedOps.withEmbedding(chunks, "text", "embedding", cfg.embedder)
    val manifest = IndexManifest(
      indexed_at = java.time.Instant.now().toString,
      repository = corpusDir,
      embedding_type = cfg.embedder.kind,
      embedding_model = cfg.embedder.model,
      chunk_size = cfg.chunkSize,
      index_path = indexPath)
    VectorIndex.write(embedded, indexPath, manifest)
    manifest
  }

  /** `hits` is a local relation: the k rows already on the driver,
    * columns `id, source, chunk_index, text, dist` in rank order. */
  case class AskResult(hits: DataFrame, context: String)

  /** The chunk id ("{basename}:{i}", quirk Q1) COLLIDES across
    * directories; (source, chunk_index) is the true unique key, so
    * retrieval ranks on a synthesized unique uid. */
  private def withUid(vectors: DataFrame): DataFrame =
    vectors.withColumn("_uid",
      concat_ws("\u0000", col("source"), col("chunk_index")))

  /** Derived once: `createDataFrame(hits)` would re-derive it by Scala
    * reflection on every question. */
  private val HitEncoder = Encoders.product[Knn.Hit]

  /** Hits and context from hits already on the driver in rank order. */
  private def result(spark: SparkSession, hits: Seq[Knn.Hit]): AskResult =
    AskResult(spark.createDataset(hits)(HitEncoder).toDF(),
      if (hits.isEmpty) "No relevant data found in the database." else Knn.assembleContext(hits))

  /** Fetches the payload of the ranked `(_uid, dist)` pairs with one
    * filter over the index (no job when nothing ranked). */
  private def answer(uids: DataFrame, rank: Seq[(String, Double)]): AskResult = {
    val rows = if (rank.isEmpty) Map.empty[String, Row] else uids
      .filter(col("_uid").isin(rank.map(_._1): _*))
      .select("_uid", "id", "source", "chunk_index", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    result(uids.sparkSession, rank.map { case (uid, dist) =>
      val r = rows(uid)
      Knn.Hit(r.getString(1), r.getString(2), r.getInt(3), r.getString(4), dist)
    })
  }

  /** The manifest must match the query-side embedder — a question
    * embedded in a different space returns plausible-looking
    * garbage with no error otherwise. */
  private def validate(manifest: IndexManifest, embedder: Embedder): Unit = {
    require(manifest.embedding_type == embedder.kind,
      s"index was built with embedding_type=${manifest.embedding_type}, " +
        s"query embedder is ${embedder.kind}")
    require(manifest.embedding_model == embedder.model,
      s"index was built with model=${manifest.embedding_model}, " +
        s"query embedder is ${embedder.model}")
  }

  /** Interactive-session handle — the REPL equivalent (the
    * reference keeps one ChromaDB collection + manifest open across
    * questions, `ask.py:298-326`). The vector index is cached once
    * (`persist`); the keyword postings are built by the first
    * [[askHybrid]] and cached beside it; `close()` releases both.
    * [[ask]] runs one Spark job, the top k with their payload; the
    * context is assembled on the driver and `hits` is a materialized
    * local relation. */
  final class AskSession private[Graft] (
      val manifest: IndexManifest,
      vectors: DataFrame,
      embedder: Embedder) extends AutoCloseable {

    private var postings: Option[Postings] = None

    /** One Spark job: the cosine top `k` over `(_uid, embedding)` and
      * the payload `id, source, chunk_index, text`, collected as the
      * hits. `TakeOrderedAndProject` keeps `k` rows per partition, so
      * the payload costs about `k` rows per partition on the driver.
      * There is no separate fetch of the `k` rows: `_uid` is computed,
      * so a filter on it cannot prune the scan, and the cached index
      * decodes every row's payload for it anyway. Over uncached
      * parquet, [[graft.query.Knn.topKWithFetch]] is the pruned form:
      * it scores on `(id, embedding)` alone and joins the payload of
      * the `k` winners back. */
    def ask(question: String, k: Int = 5): AskResult =
      result(vectors.sparkSession,
        Knn.topK(withUid(vectors).select("_uid", "embedding", "id", "source", "chunk_index", "text"),
          EmbedOps.embedLiteral(question, embedder), k, idCol = "_uid")
          .select("id", "source", "chunk_index", "text", "dist").collect()
          .map(r => Knn.Hit(r.getString(0), r.getString(1), r.getInt(2), r.getString(3), r.getDouble(4)))
          .toSeq)

    /** The top `k` `(_uid, dist)` by cosine distance: one job. */
    private def rankVector(uids: DataFrame, question: String, k: Int): Seq[(String, Double)] =
      Knn.topK(uids.select(col("_uid"), col("embedding")),
        EmbedOps.embedLiteral(question, embedder), k, idCol = "_uid")
        .select(col("_uid"), col("dist")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toSeq

    /** Hybrid ask: keyword BM25 + vector cosine, fused by reciprocal
      * rank. A hit scores 1/(60+r) per system it appears in (top-`depth`
      * lists; absence contributes 0 — standard RRF). Catches what pure
      * vector search misses: exact identifiers, error codes, rare tokens
      * the embedder smears. Question and chunks share one tokenizer
      * ([[HashEmbedder.tokenize]]: case-folded, split on whitespace).
      * Three jobs on a warm session: the vector top `depth`, the
      * question terms' postings ([[Postings.rank]]), and the fetch of
      * the fused top k's payload; BM25 and the fusion run on the
      * driver. The first call also builds the postings
      * ([[Postings.build]]). The fused top-k ranks as `dist = -fused`. */
    def askHybrid(question: String, k: Int = 5, depth: Int = graft.ops.Retrieval.FuseDepth): AskResult = {
      val uids = withUid(vectors)
      val vector = rankVector(uids, question, depth).map(_._1)
      val terms = HashEmbedder.tokenize(question).distinct.toSeq
      // a question with no terms has no keyword side and builds no postings
      val keyword = if (terms.isEmpty) Nil else keywordIndex(uids).rank(terms, depth)
      answer(uids, Postings.fuse(keyword, vector, k))
    }

    private def keywordIndex(uids: DataFrame): Postings = synchronized {
      if (postings.isEmpty) postings = Some(Postings.build(uids.select(col("_uid"), col("text"))))
      postings.get
    }

    /** Releases the postings, then the vectors they were built from. */
    override def close(): Unit = synchronized {
      postings.foreach(_.unpersist())
      postings = None
      vectors.unpersist()
    }
  }

  /** Backend endpoints for manifest-driven dispatch (reference env
    * defaults: EMBEDDING_SERVER / OLLAMA_HOST), plus the optional
    * local model directory that makes the `local` manifest tag run
    * fully in-process (the reference's SentenceTransformer path).
    * The one place a backend tag becomes an embedder ([[embedder]])
    * and is gated ([[gate]]) — for the index side ([[IndexCli]]) and
    * the ask side ([[openAuto]]) alike. */
  case class Backends(
      remoteUrl: String = "http://localhost:8080",
      ollamaUrl: String = "http://localhost:11434",
      localModelDir: Option[String] = None) {

    /** The production stack for a backend tag, with no I/O — the
      * reference's `EmbeddingHandler` choice (`index.py:56-69`,
      * `ask.py:109-116`): the offline-deterministic hash featurizer
      * keeps its own tag, ollama gets the zero-fallback stack, local
      * the in-process model, anything else the retrying remote client. */
    def embedder(kind: String, model: String, dim: Int): Embedder = kind match {
      case "hash" => new HashEmbedder(dim)
      case "ollama" => OllamaEmbedder.resilient(ollamaUrl, model, dim)
      // real in-process model: the reference's primary path
      // (index.py:72-111 loads a SentenceTransformer in-process)
      case "local" if localModelDir.isDefined => new TransformerEmbedder(localModelDir.get)
      case "local" =>
        // no local weights configured: the reference's own ImportError
        // path falls back to the remote server (ask.py:160-163) — same
        // here, with the wrapper keeping the `local` tag so validation
        // stays consistent
        val fallback = RemoteEmbedder.withRetry(remoteUrl, model, dim)
        new Embedder {
          override def dim: Int = fallback.dim
          override def model: String = fallback.model
          override def kind: String = "local"
          override def embed(texts: Seq[String]): Seq[Array[Float]] = fallback.embed(texts)
        }
      case _ => RemoteEmbedder.withRetry(remoteUrl, model, dim)
    }

    /** Availability + probe gate on the RAW (unwrapped) client that
      * [[embedder]] wraps — gating the resilient stack would be
      * useless, its fallback swallows exactly the failures the gate
      * must surface (a down server would index, or answer from, all
      * zero vectors). The probe embed also catches a live server whose
      * model emits another dimensionality, which availability alone
      * cannot see, and loads a local export (missing safetensors or
      * vocab, corrupt header). */
    def gate(kind: String, model: String, dim: Int): Either[String, Unit] = kind match {
      case "hash" => Right(())
      case "local" if localModelDir.isDefined =>
        probe(new TransformerEmbedder(localModelDir.get), s"local model ${localModelDir.get}")
      case "ollama" =>
        probe(new OllamaEmbedder(ollamaUrl, model, dim), s"Ollama model $model at $ollamaUrl")
      case _ =>
        probe(new RemoteEmbedder(remoteUrl, model, dim), s"embedding server at $remoteUrl")
    }

    private def probe(raw: Embedder, what: String): Either[String, Unit] = raw match {
      case http: HttpBackend if !http.checkAvailability() => Left(s"$what: not available")
      case _ =>
        try { raw.embedOne("probe"); Right(()) }
        catch { case ex: Exception => Left(s"$what: probe embed failed: ${ex.getMessage}") }
    }
  }

  object Backends {
    /** Backend URLs from the reference's env names (index.py/ask.py
      * read OLLAMA_HOST / EMBEDDING_SERVER from .env). Index-side and
      * ask-side MUST resolve identically: an index built against a
      * non-default host, opened by an ask session pointing at
      * localhost, would degrade every query embedding to the
      * zero-fallback vector with no error. GRAFT_LOCAL_MODEL points at
      * a local sentence-encoder export (safetensors + vocab) for the
      * in-process `local` backend. */
    def fromEnv(): Backends = Backends(
      remoteUrl = sys.env.getOrElse("EMBEDDING_SERVER", "http://localhost:8080"),
      ollamaUrl = sys.env.getOrElse("OLLAMA_HOST", "http://localhost:11434"),
      localModelDir = sys.env.get("GRAFT_LOCAL_MODEL"))
  }

  /** Manifest-driven embedder dispatch — the reference resolves the
    * query-side backend from the index's recorded `embedding_type`
    * (`ask.py:109-116`); [[Backends.embedder]] is that resolution. */
  def embedderFor(
      manifest: IndexManifest,
      dim: Int = 64,
      backends: Backends = Backends()): Embedder =
    backends.embedder(manifest.embedding_type, manifest.embedding_model, dim)

  /** Open an index letting the manifest choose the embedder — the
    * exact reference flow (load metadata, then dispatch on
    * embedding_type). Fails fast at open time, reference-style
    * (ask.py checks backend availability before answering), through
    * [[Backends.gate]]. */
  def openAuto(
      spark: SparkSession,
      indexPath: String,
      dim: Int = 64,
      backends: Backends = Backends()): AskSession = {
    val manifest = readManifestOrFail(spark, indexPath)
    backends.gate(manifest.embedding_type, manifest.embedding_model, dim)
      .left.foreach(err => throw new IllegalStateException(err))
    // dispatch and open share ONE manifest read — no second fetch, no
    // window for the manifest to change between dispatch and validate
    val embedder = embedderFor(manifest, dim, backends)
    embedder match {
      // an in-process model's width is checked against the INDEXED
      // vectors (AskCli can't know the dim of an arbitrary model): a
      // wrong model dir for this index fails fast instead of searching
      // a mixed space
      case local: TransformerEmbedder =>
        VectorIndex.readVectors(spark, indexPath).select(size(col("embedding")))
          .head(1).headOption.map(_.getInt(0)).foreach { indexDim =>
            if (local.dim != indexDim)
              throw new IllegalStateException(
                s"local model ${local.modelDir} emits dim ${local.dim}, index vectors are dim $indexDim")
          }
      case _ => ()
    }
    openWith(spark, indexPath, manifest, embedder)
  }

  private def readManifestOrFail(spark: SparkSession, indexPath: String): IndexManifest =
    try VectorIndex.readManifest(spark, indexPath)
    catch {
      case e: Exception =>
        throw new IllegalStateException(
          s"No index found at $indexPath — run Graft.index first", e)
    }

  /** Open an index for repeated questions. Fails fast with a clear
    * message when the index is absent (reference behavior,
    * `ask.py:66-82`). */
  def open(
      spark: SparkSession,
      indexPath: String,
      embedder: Embedder = HashEmbedder.default): AskSession =
    openWith(spark, indexPath, readManifestOrFail(spark, indexPath), embedder)

  private def openWith(
      spark: SparkSession,
      indexPath: String,
      manifest: IndexManifest,
      embedder: Embedder): AskSession = {
    validate(manifest, embedder)
    val vectors = VectorIndex.readVectors(spark, indexPath).persist()
    new AskSession(manifest, vectors, embedder)
  }

  /** Retrieval query: embed the question (driver-side scalar, like
    * the reference's single-string `get_embedding`, ask.py:109-116),
    * exact cosine top-k, context assembly, empty-result guard
    * (ask.py:219-220) — [[AskSession.ask]]'s one-job plan over the
    * uncached parquet index, whose scan reads every row's payload
    * ([[graft.query.Knn.topKWithFetch]] reads the payload of the k
    * winners only); `hits` is a materialized local relation. LLM
    * generation is out of engine scope by design (SURVEY Q5) — callers
    * take `context` to their model. */
  def ask(
      spark: SparkSession,
      indexPath: String,
      question: String,
      k: Int = 5,
      embedder: Embedder = HashEmbedder.default): AskResult = {
    val manifest = readManifestOrFail(spark, indexPath)
    validate(manifest, embedder)
    new AskSession(manifest, VectorIndex.readVectors(spark, indexPath), embedder).ask(question, k)
  }
}
