package graft

import graft.ops.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** BPE training + encoding on a corpus whose full merge sequence is
  * hand-computable (the driver oracle gate covers fixture parity). */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  // words: aaab ×2, ab ×1, xyz ×1. Weighted pair counts round 1:
  // (a,a)=4, (a,b)=3, rest 1 → merge1 = (a,a). Then (a,b)=3 beats
  // (aa,a)=2 → merge2 = (a,b); (aa,ab)=2 → merge3; only the xyz
  // pairs remain, (x,y) before (y,z) lexicographically → merge4.
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-bpe").toString
    Seq((0L, "aaab aaab"), (1L, "ab"), (2L, "xyz"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("training replays the hand-computed merge sequence with exact counts") {
    Bpe.Merges.clear()
    val merges = Bpe.Merges(spark, dir)
    assert(merges == Seq(("a", "a", 4L), ("a", "b", 3L), ("aa", "ab", 2L), ("x", "y", 1L)),
      s"got $merges")
    val table = Bpe.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(table == Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L), (4, "x", "y", 1L)))
  }

  test("tokenization: left-to-right non-overlap scan, rank-order replay") {
    val m = Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("x", "y"))
    assert(Bpe.tokenizeWord("aaab", m) == Seq("aaab"))
    assert(Bpe.tokenizeWord("ab", m) == Seq("ab"))
    assert(Bpe.tokenizeWord("xyz", m) == Seq("xy", "z"))
    // odd-length a-run: leftmost pairing merges non-overlapping
    assert(Bpe.tokenizeWord("aaa", m) == Seq("aa", "a"))
    // pieces always concatenate back to the word
    Seq("aaab", "ab", "xyz", "aaa", "banana").foreach { w =>
      assert(Bpe.tokenizeWord(w, m).mkString == w, s"conservation broke on $w")
    }
  }

  test("encoding compresses merged words and leaves untouched words at 1 piece/char") {
    val got = Bpe.bpeEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((0L, 2L, 2L, 1.0), (1L, 1L, 1L, 1.0), (2L, 1L, 2L, 2.0)),
      s"got $got")
  }

  test("tokenizer-scale training: 67 merges on sf0.001, lineage stays bounded") {
    val sf = "/root/testdata/sf0.001"
    val (merges, words) = Bpe.trainWords(spark, sf, 67)
    assert(merges.length == 67, s"corpus exhausted early at ${merges.length} merges")
    // greedy training is prefix-stable: the first Rounds merges ARE
    // the registered bpe_merges result
    assert(merges.take(Bpe.Rounds) == Bpe.Merges(spark, sf),
      "long run's prefix diverged from the registered training")
    // 67 rounds stacked only (67 mod CheckpointEvery) merge
    // projections over the last checkpoint — the plan tree must be
    // O(CheckpointEvery), not O(rounds)
    val nodes = words.queryExecution.logical.collect { case n => n }.size
    assert(nodes <= Bpe.CheckpointEvery + 4, s"lineage not truncated: $nodes plan nodes")
    // and the corpus scan itself is checkpointed away
    assert(!words.queryExecution.logical.toString.contains("documents"),
      "documents scan must not survive in the trained lineage")
  }

  test("early exhaustion: a pairless corpus yields an empty merge table") {
    val d = Files.createTempDirectory("graft-bpe-ex").toString
    Seq((0L, "a b c")).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    assert(Bpe.Merges(spark, d).isEmpty)
    // encode still works: every 1-char word is its own piece
    val got = Bpe.bpeEncode(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 3L, 3L)))
  }
}
