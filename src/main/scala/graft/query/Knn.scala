package graft.query

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8

/** Exact cosine top-k retrieval — the Spark-native form of the
  * reference's one real query operator (log-vector `ask.py:200-203`:
  * ChromaDB HNSW `collection.query(query_embeddings=[q], n_results=k)`
  * in the cosine space declared at `index.py:434`).
  *
  * Physical plan: `orderBy(dist).limit(k)` compiles to
  * `TakeOrderedAndProject` — per-partition bounded heaps merged at
  * the driver, O(n) scan with no global sort or shuffle. That is the
  * optimal exact plan at any scale; at 100 TB the ANN path
  * ([[graft.ops.AnnIvf]]) prunes candidates first and reuses this
  * on the surviving bucket.
  *
  * Zero-norm vectors score NaN and are excluded (SURVEY quirk Q4
  * fix: the reference inserts `[0.0]*384` on embed failure,
  * `index.py:138`, which degenerates under cosine).
  */
object Knn {

  /** Score every row against a constant query vector. `dist` is
    * cosine distance rounded to 6 decimals — rounding pre-sort makes
    * ranking reproducible across engines/partitionings, with `idCol`
    * as the unique tiebreak. */
  def scored(index: DataFrame, queryVec: Column, vecCol: String = "embedding"): DataFrame =
    index
      .withColumn("dist", r6(cosineDist(col(vecCol), queryVec)))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)

  def topK(
      index: DataFrame,
      queryVec: Column,
      k: Int = 5,
      idCol: String = "id",
      vecCol: String = "embedding"): DataFrame =
    scored(index, queryVec, vecCol)
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** Scan-pruned top-k: scores on (id, embedding) ONLY, takes the
    * top k, then joins back to fetch payload columns (text, source)
    * for just those k rows. At 100 TB the payload never travels
    * through the scan, the per-partition heaps, or the driver merge
    * — column pruning reaches the parquet reader (asserted in
    * PlanSpec). The rejoin is a broadcast of k ids. */
  def topKWithFetch(
      index: DataFrame,
      queryVec: Column,
      k: Int = 5,
      idCol: String = "id",
      fetchCols: Seq[String] = Seq("source", "chunk_index", "text"),
      vecCol: String = "embedding"): DataFrame = {
    val slim = index.select(col(idCol), col(vecCol))
    val top = topK(slim, queryVec, k, idCol, vecCol).select(col(idCol), col("dist"))
    index.select((col(idCol) +: fetchCols.map(col)): _*)
      .join(broadcast(top), Seq(idCol))
      .orderBy(col("dist"), col(idCol))
  }

  /** One context block per hit (reference `ask.py:207-217`), shared
    * by the Spark and the driver-side [[assembleContext]]. */
  val PieceFormat = "File: %s (chunk %d)\n%s\n\n"

  /** Context assembly (reference `ask.py:207-217`): per-hit block
    * [[PieceFormat]], concatenated in ascending-distance order.
    * Returns a single-row DataFrame `(context STRING)`; empty-hit
    * handling (`ask.py:219-220`) is the caller's driver-side branch. */
  def assembleContext(hits: DataFrame): DataFrame =
    hits
      .withColumn("piece",
        format_string(PieceFormat, col("source"), col("chunk_index"), col("text")))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("dist"), col("id"), col("piece")))),
            h => h.getField("piece")),
          "").as("context"))

  /** A collected hit, its fields named like the hit columns. */
  final case class Hit(id: String, source: String, chunk_index: Int, text: String, dist: Double)

  /** Spark's sort order for doubles on the driver: `-0.0` equals `0.0`. */
  val SparkDouble: Ordering[Double] = (a, b) => if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's sort order for strings on the driver: UTF-8 bytes, not
    * the UTF-16 units `String.compareTo` compares. */
  val Utf8: Ordering[String] =
    (a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** Driver-side [[assembleContext]]: the same bytes, no Spark job.
    * The `(dist, id, piece)` sort uses Spark's ordering, so ties break
    * as in `array_sort`. */
  def assembleContext(hits: Seq[Hit]): String =
    hits.map(h => (h.dist, h.id,
        PieceFormat.formatLocal(java.util.Locale.US, h.source, h.chunk_index, h.text)))
      .sorted(Ordering.Tuple3(SparkDouble, Utf8, Utf8)).map(_._3).mkString
}
