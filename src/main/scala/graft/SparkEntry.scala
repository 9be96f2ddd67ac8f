package graft

import graft.embed.{EmbedOps, HashEmbedder}
import graft.ingest.Chunker
import graft.ops._
import graft.query.Knn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` runs the flagship end-to-end RAG dataflow (the
  * reference's whole pipeline, log-vector `index.py` + `ask.py`,
  * re-expressed Spark-first): corpus → chunk → embed → index →
  * cosine top-k retrieval.
  *
  * `queries`/`oracleSql` register every implemented operator from
  * SURVEY §2; keys present in `queries` but absent from `oracleSql`
  * are non-SQL-expressible (engine-internal hash functions /
  * approximate algorithms) and take the driver's rows-only gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // documents as the corpus: soup text word-wrapped into lines so
    // the greedy line-packer (reference semantics) packs real chunks
    val corpus = docs.select(
      concat(lit("doc/"), col("doc_id")).as("source"),
      translate(col("text"), " ", "\n").as("content"))
    val chunks = Chunker.chunkDF(corpus, "source", "content", chunkSize = 200)
    val index = EmbedOps.withEmbedding(chunks, "text", "embedding")
    val qVec = EmbedOps.embedLiteral("spark join shuffle slow query error")
    Knn.topK(index, qVec, k = 5, idCol = "id")
  }

  /** The registry's modules, each contributing its queries and oracles. */
  private val modules: Seq[QueryModule] = Seq(
    Relational, Events, VectorQueries, TextOps, Dedup, Multimodal, AsOf,
    KMeansVec, Curation, Retrieval, Quantize, Pca, GraphAnn, Pq, Opq, Rerank,
    QualityModel, Maintenance, AnnEval, Bpe, Outliers, Dsir, Cms, Coreset,
    PageRank, Rq, UnigramLm, Bq, WordPiece, Bloom, RandomProjection,
    TokenizerEval)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check. */
  val oracleSql: Map[String, String] = modules.map(_.oracles).reduce(_ ++ _)
}
