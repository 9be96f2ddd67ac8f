package graft

import graft.embed.Embedder
import org.apache.spark.sql.SparkSession

/** Batch indexing CLI — the engine's `python index.py <repo>`
  * (reference `index.py:481-584`): validate the corpus path, pick an
  * embedding backend from flags, run the index build, report chunk
  * counts. The per-file work is [[Graft.index]]'s lazy map-only plan;
  * this main is argument parsing + the backend gate + a summary.
  *
  * Flags mirror the reference's mutually-exclusive backend group:
  *   --hash-embeddings    deterministic offline featurizer (default)
  *   --ollama-embeddings  Ollama per-text HTTP client (zero-fallback)
  *   --remote-embeddings  batched remote server client (retry stack)
  *   --local-model DIR    in-process sentence encoder from a local
  *                        safetensors export (reference index.py:72-111;
  *                        DIR defaults from GRAFT_LOCAL_MODEL)
  *   --model NAME         backend model name
  *   --chunk-size N       chunk size (default 2000, reference default)
  *   --index-path PATH    index output (default ./graft_index)
  *   --dim N              embedding dimensionality (default 64)
  *   --ollama-url URL / --remote-url URL
  * Backend URLs default from the reference's env names OLLAMA_HOST /
  * EMBEDDING_SERVER when set.
  */
object IndexCli {

  case class Args(
      corpus: String = null,
      backend: String = "hash",
      model: Option[String] = None,
      chunkSize: Int = graft.ingest.Chunker.DefaultChunkSize,
      indexPath: String = "graft_index",
      dim: Int = 64,
      backends: Graft.Backends = Graft.Backends.fromEnv())

  private[graft] def parse(argv: Array[String]): Either[String, Args] = {
    var a = Args()
    var i = 0
    // a value-taking flag must have a value, and that value cannot
    // itself be a flag (catches `--model --remote-embeddings`)
    def value(flag: String): Either[String, String] =
      if (i + 1 >= argv.length) Left(s"$flag requires a value")
      else if (argv(i + 1).startsWith("--")) Left(s"$flag requires a value, got ${argv(i + 1)}")
      else { i += 1; Right(argv(i)) }
    def intValue(flag: String, min: Int): Either[String, Int] =
      value(flag).flatMap { v =>
        v.toIntOption match {
          case Some(n) if n >= min => Right(n)
          case Some(n) => Left(s"$flag must be ≥ $min, got $n")
          case None => Left(s"$flag expects an integer, got $v")
        }
      }
    while (i < argv.length) {
      val r: Either[String, Unit] = argv(i) match {
        case "--hash-embeddings" => a = a.copy(backend = "hash"); Right(())
        case "--ollama-embeddings" => a = a.copy(backend = "ollama"); Right(())
        case "--remote-embeddings" => a = a.copy(backend = "remote"); Right(())
        case "--local-model" =>
          // value optional: Backends.fromEnv() already resolved
          // GRAFT_LOCAL_MODEL, so a bare flag selects that directory
          if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
            i += 1
            a = a.copy(backend = "local",
              backends = a.backends.copy(localModelDir = Some(argv(i))))
            Right(())
          } else if (a.backends.localModelDir.isDefined) {
            a = a.copy(backend = "local"); Right(())
          } else Left("--local-model requires a directory (or set GRAFT_LOCAL_MODEL)")
        case "--model" => value("--model").map(v => a = a.copy(model = Some(v)))
        case "--chunk-size" => intValue("--chunk-size", 1).map(v => a = a.copy(chunkSize = v))
        case "--dim" => intValue("--dim", 1).map(v => a = a.copy(dim = v))
        case "--index-path" => value("--index-path").map(v => a = a.copy(indexPath = v))
        case "--ollama-url" => value("--ollama-url").map(v =>
          a = a.copy(backends = a.backends.copy(ollamaUrl = v)))
        case "--remote-url" => value("--remote-url").map(v =>
          a = a.copy(backends = a.backends.copy(remoteUrl = v)))
        case flag if flag.startsWith("--") => Left(s"unknown flag: $flag")
        case positional if a.corpus == null => a = a.copy(corpus = positional); Right(())
        case extra => Left(s"unexpected argument: $extra")
      }
      r match {
        case Left(err) => return Left(err)
        case Right(()) => ()
      }
      i += 1
    }
    if (a.corpus == null) Left("usage: graft.IndexCli <corpusDir> [flags]")
    else Right(a)
  }

  /** Backend from flags, built and gated by [[Graft.Backends]] (the
    * ask side's resolver). What is the CLI's own: the backend names,
    * the reference's default model per HTTP backend, and that `local`
    * needs a model directory. */
  private[graft] def embedderOf(a: Args): Either[String, Embedder] = {
    val model = a.model.getOrElse(if (a.backend == "ollama") "nomic-embed-text" else "all-MiniLM-L6-v2")
    if (!Set("hash", "local", "ollama", "remote").contains(a.backend))
      Left(s"unknown backend: ${a.backend} (expected hash|local|ollama|remote)")
    else if (a.backend == "local" && a.backends.localModelDir.isEmpty)
      Left("--local-model requires a model directory (or set GRAFT_LOCAL_MODEL)")
    else a.backends.gate(a.backend, model, a.dim).map(_ => a.backends.embedder(a.backend, model, a.dim))
  }

  /** Scriptable body (tests inject the session and read the result). */
  def run(spark: SparkSession, a: Args, out: java.io.PrintStream): Int = {
    // Hadoop-FS existence check so hdfs:///s3a:// corpora work — the
    // ingest itself already reads any Hadoop-visible filesystem
    val corpusPath = new org.apache.hadoop.fs.Path(a.corpus)
    val fs = corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(corpusPath)) {
      out.println(s"Error: corpus path does not exist: ${a.corpus}")
      return 1
    }
    embedderOf(a) match {
      case Left(err) =>
        out.println(s"Error: $err")
        1
      case Right(embedder) =>
        out.println("Log Indexer")
        out.println(s"Corpus: ${a.corpus}")
        out.println(s"Embedding: ${embedder.kind} (${embedder.model})")
        out.println(s"Chunk size: ${a.chunkSize}")
        val manifest = Graft.index(spark, a.corpus, a.indexPath,
          Graft.IndexConfig(chunkSize = a.chunkSize, embedder = embedder))
        val n = graft.index.VectorIndex.readVectors(spark, a.indexPath).count()
        out.println(s"Indexed $n chunks → ${a.indexPath}")
        out.println(s"Manifest: ${manifest.embedding_type}/${manifest.embedding_model}, " +
          s"chunk_size=${manifest.chunk_size}")
        0
    }
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(err)
      sys.exit(1)
    case Right(a) =>
      val spark = SparkCli.session()
      val code = try run(spark, a, System.out) finally spark.stop()
      if (code != 0) sys.exit(code)
  }
}
