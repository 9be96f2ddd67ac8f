package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Greedy line-packing chunker — exact reference semantics
  * (log-vector `index.py:298-319`, default size `index.py:49`).
  *
  * Invariants (property-tested in ChunkerSpec):
  *   - `chunks.mkString("\n") == content` (lossless round-trip)
  *   - every chunk is ≤ chunkSize chars OR is a single line longer
  *     than chunkSize (quirk Q5, `index.py:305-313`: an oversize
  *     line becomes its own oversized chunk — preserved verbatim)
  *
  * Parallelism model: chunking is sequential *within* a file and the
  * file/document is the parallel unit, exactly like the reference's
  * per-file loop (`index.py:333-384`) — so a UDF returning the chunk
  * array + `posexplode` is the idiomatic Spark shape. The index
  * build then shuffles the CHUNKS (not files) before embedding, so a
  * large file's chunks do not all land on one core
  * ([[graft.index.VectorIndex.layout]]).
  */
object Chunker {
  val DefaultChunkSize = 2000

  def chunkLines(content: String, chunkSize: Int = DefaultChunkSize): Array[String] = {
    if (content == null) return Array.empty
    // Python str.split('\n') keeps leading/trailing empties → limit -1.
    val lines = content.split("\n", -1)
    val chunks = new ArrayBuffer[String]()
    val current = new ArrayBuffer[String]()
    var currentSize = 0
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      // Exact mirror of index.py:304-313: line_size counts the
      // trailing newline, and the flush branch requires a non-empty
      // current chunk (an oversize first line accumulates and only
      // flushes when the NEXT line arrives).
      val lineSize = line.length + 1
      if (currentSize + lineSize > chunkSize && current.nonEmpty) {
        chunks += current.mkString("\n")
        current.clear()
        current += line
        currentSize = lineSize
      } else {
        current += line
        currentSize += lineSize
      }
      i += 1
    }
    if (current.nonEmpty) chunks += current.mkString("\n")
    chunks.toArray
  }

  /** `(source, content)` rows → chunk-index table (SURVEY §1.1):
    * `source, chunk_index, total_chunks, id, text`.
    *
    * `total_chunks` is taken from the pre-explode array size — no
    * window/shuffle needed. `id` follows reference synthesis
    * `"{basename}:{i}"` (`index.py:379`) but from the full source
    * path's basename; collisions across directories (quirk Q1) are
    * avoided by keeping `source` as the true key.
    * Whitespace-only chunks are dropped pre-embedding, mirroring
    * `index.py:372`. */
  def chunkDF(
      df: DataFrame,
      sourceCol: String = "source",
      contentCol: String = "content",
      chunkSize: Int = DefaultChunkSize): DataFrame = {
    val chunkUdf = udf((s: String) => chunkLines(s, chunkSize))
    df.select(col(sourceCol).as("source"), chunkUdf(col(contentCol)).as("chunks"))
      .withColumn("total_chunks", size(col("chunks")))
      .select(col("source"), col("total_chunks"),
        posexplode(col("chunks")).as(Seq("chunk_index", "text")))
      // Python str.strip() drops ALL whitespace (index.py:372);
      // Spark trim() strips only spaces, so test for any non-ws char
      .filter(col("text").rlike("\\S"))
      .withColumn("id",
        concat_ws(":", element_at(split(col("source"), "/"), -1), col("chunk_index")))
  }
}
