package graft.query

import graft.embed.HashEmbedder
import graft.ops.Retrieval.{B, K1, RrfK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 postings of an index, held for an ask session: the keyword
  * side of [[graft.Graft.AskSession.askHybrid]], built once so that a
  * question reads only its own terms' postings.
  *
  * Chunks are tokenized by [[HashEmbedder.tokenize]], the question's
  * tokenizer, through one UDF, so a question term matches the chunk
  * token it spells. The frame holds `(term STRING, doc INT, tf INT)` in
  * one partition sorted by `term`: the columnar cache's per-batch
  * min/max stats skip every batch that holds none of the question's
  * terms, and the lookup is one single-task job. `doc` is an ordinal
  * into the driver's `(_uid, dl)` table. As in
  * [[graft.ops.Retrieval.bm25Score]], `dl` counts a chunk's tokens and
  * a chunk with none is not a document.
  */
final class Postings private (frame: DataFrame, docs: IndexedSeq[(String, Int)]) {
  private val nDocs = docs.length.toLong
  private val avgdl = docs.iterator.map(_._2.toLong).sum.toDouble / nDocs

  /** The `_uid`s of the top `depth` BM25 scores for the question's
    * distinct, non-empty `terms`, best first by `(score desc, _uid)`;
    * only a positive score ranks. One job. */
  def rank(terms: Seq[String], depth: Int): Seq[String] = {
    val rows = frame.filter(col("term").isin(terms: _*)).collect()
    val df = rows.groupBy(_.getString(0)).map { case (t, rs) => t -> rs.length.toLong }
    rows.groupBy(_.getInt(1)).toSeq.map { case (doc, rs) =>
      val tf = rs.map(r => r.getString(0) -> r.getInt(2)).toMap
      val (uid, dl) = docs(doc)
      // summed in the question's term order, absent terms adding 0.0
      val score = terms.map(t => tf.get(t).fold(0.0)(Postings.termScore(_, df(t), dl, nDocs, avgdl)))
        .reduceLeft(_ + _)
      (score, uid)
    }.filter(_._1 > 0).sorted(Postings.Best).take(depth).map(_._2)
  }

  def unpersist(): Unit = frame.unpersist()
}

object Postings {
  /** A chunk's `term -> tf`; its token count `dl` is the sum of the tfs. */
  private val termCounts = udf((text: String) =>
    HashEmbedder.tokenize(text).groupMapReduce(identity)(_ => 1)(_ + _))

  /** Tokenizes `uids` (`_uid`, `text`): one job collects the doc table,
    * and the persisted postings are materialized by the first lookup.
    * Counted per chunk, the postings need no shuffle. */
  def build(uids: DataFrame): Postings = {
    val docs = uids.select(col("_uid"),
        aggregate(map_values(termCounts(col("text"))), lit(0), _ + _)).collect()
      .collect { case r if r.getInt(1) > 0 => r.getString(0) -> r.getInt(1) }.toIndexedSeq
    val ordinal = docs.iterator.map(_._1).zipWithIndex.toMap
    // once per chunk; a chunk with no tokens explodes to no postings
    val doc = udf((uid: String) => ordinal.getOrElse(uid, -1))
    val frame = uids.select(doc(col("_uid")).as("doc"), termCounts(col("text")).as("tf"))
      .select(explode(col("tf")).as(Seq("term", "tf")), col("doc"))
      .select("term", "doc", "tf")
      .coalesce(1).sortWithinPartitions("term")
      .persist()
    new Postings(frame, docs)
  }

  /** One term's BM25 weight in the operation order of
    * [[graft.ops.Retrieval.bm25Score]]'s Column expression (Spark's
    * `log` is `StrictMath.log`), so the doubles match it bit for bit. */
  private def termScore(tf: Int, df: Long, dl: Int, nDocs: Long, avgdl: Double): Double = {
    val idf = StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
    idf * (tf * (K1 + 1.0)) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))
  }

  /** Descending score, ties on ascending `_uid`, in Spark's orders. */
  private val Best: Ordering[(Double, String)] = Ordering.Tuple2(Knn.SparkDouble.reverse, Knn.Utf8)

  /** Reciprocal-rank fusion of two rankings, each best first: a `_uid`
    * scores `1/(60+r)` for each ranking that holds it at rank `r` (from
    * 1) and 0 for one that does not. The top `k` by `(fused desc, _uid)`,
    * each as `(_uid, -fused)`. */
  def fuse(keyword: Seq[String], vector: Seq[String], k: Int): Seq[(String, Double)] = {
    def rr(ranked: Seq[String]): Map[String, Double] =
      ranked.iterator.zipWithIndex.map { case (uid, i) => uid -> 1.0 / (RrfK.toDouble + (i + 1)) }.toMap
    val (kw, vec) = (rr(keyword), rr(vector))
    (kw.keySet ++ vec.keySet).toSeq
      .map(uid => (kw.getOrElse(uid, 0.0) + vec.getOrElse(uid, 0.0), uid))
      .sorted(Best).take(k).map { case (fused, uid) => uid -> -fused }
  }
}
