package graft

import graft.ops.UnigramLm
import org.scalatest.funsuite.AnyFunSuite

/** Unigram-LM tokenizer invariants on the real fixture (31 distinct
  * words, len ≤ 8 — small enough to brute-force every segmentation):
  * the DP score must equal the exhaustive minimum under the same
  * per-step rounding, the vocabulary must cover every character, and
  * fertility must stay in its structural bounds. */
class UnigramLmSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def r6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue() + 0.0

  test("viterbi score equals the brute-forced minimum over ALL segmentations") {
    val vocab = UnigramLm.Vocab(spark, sf)
      .map { case (p, _, c) => p -> c }.toMap
    // enumerate every segmentation into pieces of length <= MaxPieceLen
    def allScores(w: String): Seq[(Double, Int)] = {
      def rec(pos: Int, acc: Double, k: Int): Seq[(Double, Int)] =
        if (pos == w.length) Seq((acc, k))
        else (1 to math.min(UnigramLm.MaxPieceLen, w.length - pos)).flatMap { l =>
          vocab.get(w.substring(pos, pos + l)) match {
            case Some(c) => rec(pos + l, r6d(acc + c), k + 1)
            case None => Seq.empty
          }
        }
      rec(0, 0.0, 0)
    }
    val stats = UnigramLm.wordStats(spark, sf).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (w, np, score) = (r.getString(0), r.getInt(1), r.getDouble(2))
      val all = allScores(w)
      assert(all.nonEmpty, s"word $w should be encodable")
      val minScore = all.map(_._1).min
      assert(score == minScore, s"word $w: dp $score vs brute $minScore")
      val bounds = (math.ceil(w.length.toDouble / UnigramLm.MaxPieceLen).toInt, w.length)
      assert(np >= bounds._1 && np <= bounds._2, s"word $w pieces $np outside $bounds")
    }
  }

  test("vocabulary covers every corpus character; cost is anti-monotone in count") {
    val v = UnigramLm.Vocab(spark, sf)
    val pieces = v.map(_._1).toSet
    val words = UnigramLm.wordStats(spark, sf).collect().map(_.getString(0))
    words.flatMap(_.toCharArray).distinct.foreach { ch =>
      assert(pieces.contains(ch.toString), s"char $ch missing from vocabulary")
    }
    v.sortBy(-_._2).sliding(2).foreach {
      case Seq((_, c1, k1), (_, c2, k2)) =>
        if (c1 > c2) assert(k1 < k2, "higher count must mean lower cost")
      case _ => ()
    }
  }

  test("EM round: path mass is conserved and unused substring candidates drain to zero") {
    import spark.implicits._
    // tiny alphabet → the FULL piece vocabulary fits in the output
    val d = java.nio.file.Files.createTempDirectory("graft-em").toString
    Seq((1L, "abab abab ab cd"), (2L, "abab ab ab cd"), (3L, "cd cd abab"))
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val em = UnigramLm.unigramEm(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val fullVocab = UnigramLm.Vocab(spark, d)
    assert(fullVocab.size <= UnigramLm.VocabOut,
      "planted corpus must expose the whole vocabulary")
    // conservation: EM counts sum to the total path mass Σ f(w)·n_pieces(w)
    val stats = UnigramLm.wordStats(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val words = Seq("abab" -> 4L, "ab" -> 3L, "cd" -> 4L)
    val pathMass = words.map { case (w, f) => f * stats(w) }.sum
    assert(em.map(_._2).sum == pathMass,
      s"EM mass ${em.map(_._2).sum} != path mass $pathMass")
    // sharpening: some substring candidate ('ba', 'aba', …) is never
    // on a Viterbi path and drains to zero mass
    assert(em.exists(_._2 == 0L), "expected a drained candidate piece")
    // whole words stay live
    assert(em.find(_._1 == "cd").exists(_._2 > 0L))
    // smoothed cost formula holds on every row
    val tot = em.map(_._2).sum
    val nv = fullVocab.size
    em.foreach { case (_, c, cost) =>
      val want = BigDecimal(-math.log((c + 1).toDouble / (tot + nv).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(cost == want)
    }
  }

  test("fertility is bounded and encode is deterministic") {
    val a = UnigramLm.unigramEncode(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val fert = r.getDouble(3)
      assert(fert >= 1.0 && fert <= UnigramLm.MaxWordLen,
        s"doc ${r.getLong(0)} fertility $fert")
    }
    val b = UnigramLm.unigramEncode(spark, sf).collect()
    assert(a.map(_.toSeq).sameElements(b.map(_.toSeq)))
  }
}
