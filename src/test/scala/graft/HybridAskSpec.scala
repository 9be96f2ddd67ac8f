package graft

import graft.embed.{EmbedOps, HashEmbedder}
import graft.index.{IndexManifest, VectorIndex}
import graft.ops.Retrieval
import graft.query.{Knn, Postings}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** `askHybrid`'s keyword side and fusion against a brute-force
  * reference: each chunk tokenized on its own by `HashEmbedder.tokenize`,
  * BM25 restated term by term, cosine ranked by `Knn`'s distance, and
  * reciprocal-rank fusion of the two top-`depth` lists. Fused scores
  * compare bit for bit. */
class HybridAskSpec extends AnyFunSuite {
  import HybridAskSpec.Chunk
  private lazy val spark = SparkSpec.spark

  private val chunks = Seq(
    Chunk("app/auth.log", 0, "2026-01-01 ERROR login failed node-07\n2026-01-01 WARN retry"),
    Chunk("app/auth.log", 1, "2026-01-01 INFO login ok node-07"),
    Chunk("app/auth.log", 2, "  \t \n "), // no tokens: not a document, zero vector
    Chunk("b/twin.log", 0, "disk full on node-03"),
    Chunk("a/twin.log", 0, "disk full on node-03"), // equal score and equal dist
    Chunk("db/alert.log", 0, "Mon Jan 01\nORA-01555 caused by SQL statement below"),
    Chunk("db/alert.log", 1, "error error Error retry retry"),
    Chunk("web/access.log", 0, "GET /index 200\nGET /login 500 Error"),
    Chunk("web/access.log", 1, "static asset cached"),
    Chunk("web/access.log", 2, "asset"))

  /** Written as `Graft.index` writes, but chunk by chunk as listed. */
  private lazy val index: String = {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-hybrid").toString
    val df = chunks.map(c => (c.source, 1, c.chunkIndex, c.text, s"${c.source.split('/').last}:${c.chunkIndex}"))
      .toDF("source", "total_chunks", "chunk_index", "text", "id")
    VectorIndex.write(EmbedOps.withEmbedding(df), path,
      IndexManifest("2026-01-01T00:00:00Z", "hand-made", "hash", HashEmbedder.default.model, 2000, path))
    path
  }

  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** BM25 of every chunk with tokens, over the distinct `terms` in order. */
  private def bm25(terms: Seq[String]): Seq[(String, Double)] = {
    val docs = chunks.map(c => c.uid -> HashEmbedder.tokenize(c.text).toSeq).filter(_._2.nonEmpty)
    val nDocs = docs.size.toLong
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / nDocs
    import Retrieval.{B, K1}
    docs.map { case (uid, toks) =>
      uid -> terms.map { t =>
        val tf = toks.count(_ == t)
        val df = docs.count(_._2.contains(t)).toLong
        if (tf == 0) 0.0
        else StrictMath.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) * (tf * (K1 + 1.0)) /
          (tf + K1 * ((1.0 - B) + B * toks.size / avgdl))
      }.reduceLeft(_ + _)
    }
  }

  /** Every chunk's `_uid` ranked by `Knn`'s cosine distance, zero vectors excluded. */
  private def vectorRank(q: String): Seq[String] =
    Knn.scored(VectorIndex.readVectors(spark, index)
        .select(concat_ws("\u0000", col("source"), col("chunk_index")).as("_uid"), col("embedding")),
        EmbedOps.embedLiteral(q))
      .select("_uid", "dist").collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
      .sortWith((x, y) => x._2 < y._2 || x._2 == y._2 && utf8Less(x._1, y._1)).map(_._1)

  private def reference(q: String, k: Int, depth: Int): Seq[(String, Double)] = {
    val terms = HashEmbedder.tokenize(q).distinct.toSeq
    val kw = if (terms.isEmpty) Nil else bm25(terms).filter(_._2 > 0)
      .sortWith((x, y) => x._2 > y._2 || x._2 == y._2 && utf8Less(x._1, y._1)).take(depth).map(_._1)
    val vec = vectorRank(q).take(depth)
    def rr(ranked: Seq[String], uid: String): Double = ranked.indexOf(uid) match {
      case -1 => 0.0
      case i => 1.0 / (60.0 + (i + 1))
    }
    (kw ++ vec).distinct.map(uid => uid -> (rr(kw, uid) + rr(vec, uid)))
      .sortWith((x, y) => x._2 > y._2 || x._2 == y._2 && utf8Less(x._1, y._1))
      .take(k).map { case (uid, fused) => uid -> -fused }
  }

  private val questions = Seq(
    "error node-07",
    "ERROR error Error node-07 retry login", // repeated terms, mixed case
    "disk full node-03",
    "ORA-01555 snapshot too old",
    "static asset",
    "zzz qqq xyzzy", // no indexed term
    "   ")

  test("the reference's BM25 is Retrieval.bm25Score's, bit for bit, on the same tokens") {
    import spark.implicits._
    val tokenized = chunks.map(c => c.uid -> HashEmbedder.tokenize(c.text)).filter(_._2.nonEmpty)
      .map { case (uid, toks) => uid -> toks.mkString(" ") }.toDF("_uid", "text")
    for (q <- questions.filter(HashEmbedder.tokenize(_).nonEmpty)) {
      val terms = HashEmbedder.tokenize(q).distinct.toSeq
      val scored = Retrieval.bm25Score(tokenized, "_uid", "text", terms)
        .select("_uid", "score").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = bm25(terms).toMap
      assert(scored.keySet == want.keySet, q)
      for ((uid, s) <- want)
        assert(java.lang.Double.doubleToRawLongBits(scored(uid)) == java.lang.Double.doubleToRawLongBits(s),
          s"$q: ${uid.replace('\u0000', ' ')} ${scored(uid)} != $s")
    }
  }

  test("askHybrid equals the brute-force BM25 + cosine + RRF reference, fused doubles bit for bit") {
    val session = Graft.open(spark, index)
    var ties = 0
    var both = 0
    try {
      for (q <- questions; (k, depth) <- Seq((3, 1), (4, 2), (5, 3), (10, 100))) {
        val want = reference(q, k, depth)
        val got = session.askHybrid(q, k, depth).hits.collect()
          .map(h => (h.getString(1) + "\u0000" + h.getInt(2)) -> h.getDouble(4)).toSeq
        def bits(xs: Seq[(String, Double)]) =
          xs.map { case (uid, d) => uid.replace('\u0000', ' ') -> java.lang.Double.doubleToRawLongBits(d) }
        assert(bits(got) == bits(want), s"question '$q' k=$k depth=$depth")
        ties += want.map(_._2).groupBy(identity).count(_._2.size > 1)
        if (HashEmbedder.tokenize(q).nonEmpty && want.exists(_._2 < -1.0 / 61)) both += 1
      }
    } finally session.close()
    assert(ties > 0, "no (fused, _uid) tie was exercised")
    assert(both > 0, "no hit was ranked by both sides")
  }

  test("fuse: a fused tie breaks on _uid as UTF-8 bytes, not UTF-16 units") {
    // keyword-only and vector-only, both at rank 1: 1/61 each. U+FF01
    // sorts before U+1F600 as UTF-8 and after it as UTF-16
    val bang = "\uFF01"
    val emoji = "\uD83D\uDE00"
    for ((kw, vec) <- Seq(Seq(bang) -> Seq(emoji), Seq(emoji) -> Seq(bang)))
      assert(Postings.fuse(kw, vec, 2) == Seq(bang -> -1.0 / 61, emoji -> -1.0 / 61))
    assert(Postings.fuse(Seq("a", "b"), Seq("b"), 1) == Seq("b" -> -(1.0 / 62 + 1.0 / 61)))
    assert(Postings.fuse(Nil, Nil, 3).isEmpty)
  }
}

object HybridAskSpec {
  private final case class Chunk(source: String, chunkIndex: Int, text: String) {
    val uid: String = source + "\u0000" + chunkIndex
  }
}
