package graft

import graft.embed.HashEmbedder
import graft.functions.CrossHash
import org.scalacheck.{Gen, Prop, Test => SchkTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class EmbedderSpec extends AnyFunSuite {
  private val e = HashEmbedder.default

  /** The tokenizer and embedder before the boundary scan, verbatim:
    * `split("\\s+")` tokens, each key built as a String and hashed by
    * `md5Hash60` (the memo the keys went through returned the same
    * values). */
  private object Reference {
    def tokenize(text: String): Array[String] =
      if (text == null) Array.empty
      else text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

    def embedOne(dim: Int, seed: Long, text: String): Array[Float] = {
      val v = new Array[Double](dim)
      def add(h: Long): Unit = {
        val bucket = (h % dim.toLong).toInt
        val sign = if (((h >> 32) & 1L) == 0L) 1.0 else -1.0
        v(bucket) += sign
      }
      val toks = tokenize(text)
      var i = 0
      while (i < toks.length) {
        add(CrossHash.md5Hash60(s"$seed|${toks(i)}"))
        if (i + 1 < toks.length) add(CrossHash.md5Hash60(s"$seed|${toks(i)} ${toks(i + 1)}"))
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
      out
    }
  }

  private val embedders =
    for (seed <- Seq(42L, 0L, -7L); dim <- Seq(64, 7, 1)) yield (seed, dim, new HashEmbedder(dim, seed))

  /** Tokens equal, and every embedder's vector equal to the float bit. */
  private def matchesReference(text: String): Option[String] = {
    val label = Option(text).map(_.flatMap(c => f"\\u${c.toInt}%04x")).orNull
    if (HashEmbedder.tokenize(text).toSeq != Reference.tokenize(text).toSeq) Some(s"tokens of $label")
    else embedders.collectFirst {
      case (seed, dim, h) if h.embedOne(text).map(java.lang.Float.floatToRawIntBits).toSeq !=
          Reference.embedOne(dim, seed, text).map(java.lang.Float.floatToRawIntBits).toSeq =>
        s"vector of $label, seed $seed, dim $dim"
    }
  }

  private val javaSpaces = Seq(' ', '\t', '\n', '\u000b', '\f', '\r').map(_.toString)
  // Unicode spaces that Java's \s does not match: NEL, NBSP, Ogham
  // space mark, em space, ideographic space, BOM
  private val otherSpaces = Seq(0x85, 0xA0, 0x1680, 0x2003, 0x3000, 0xFEFF).map(_.toChar.toString)
  private val hi = 0xD83D.toChar.toString
  private val lo = 0xDE00.toChar.toString
  private val astral = new String(Character.toChars(0x1F600)) + new String(Character.toChars(0x1D538))

  test("tokenize and embedOne equal the split-regex reference bit for bit on edge inputs") {
    val fixed: Seq[String] = Seq(null, "", "   \n\t ", "Hello World") ++
      javaSpaces.flatMap(c => Seq(s"ab${c}cd", s"${c}ab", s"ab$c", c, c * 3)) ++
      Seq(javaSpaces.mkString, s"${javaSpaces.mkString}lead  mid${javaSpaces.reverse.mkString}trail${javaSpaces.mkString}") ++
      otherSpaces.flatMap(c => Seq(s"ab${c}cd", c, s" $c ", s"x $c y")) ++
      Seq("İSTANBUL ıŞIK İi Iı", "ΟΔΟΣ ΣΟΦΟΣ Σ ΣΑΣ.", s"log $astral x${astral}y $astral") ++
      Seq(hi, lo).flatMap(s => Seq(s"a${s}b cd", s"${s}ab cd", s"ab$s cd", s"ab ${s}cd", s"ab cd$s", s, s"$s $s")) ++
      Seq(s"$lo$hi", s"ab$lo$hi cd", s"$hi$hi$lo", s"$astral$hi $lo$astral")
    for (t <- fixed) { val bad = matchesReference(t); assert(bad.isEmpty, bad.getOrElse("")) }
  }

  test("tokenize and embedOne equal the split-regex reference bit for bit on generated text") {
    val piece = Gen.oneOf(
      Gen.oneOf(javaSpaces), Gen.oneOf(otherSpaces), Gen.oneOf(hi, lo, astral, "İ", "ı", "Σ", "ß"),
      Gen.identifier.map(_.take(8)), Gen.oneOf("ERROR", "a", "b", "0x1f", "12:00:01"))
    val textGen = Gen.listOf(piece).map(_.mkString)
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(500).withInitialSeed(Seed(0xE4BEDL)),
      Prop.forAll(textGen)(t => matchesReference(t).isEmpty))
    assert(res.passed, res.toString)
  }

  test("deterministic across instances") {
    val e2 = new HashEmbedder(64)
    val t = "spark shuffle join error timeout"
    assert(e.embedOne(t).toSeq == e2.embedOne(t).toSeq)
  }

  test("dimension and unit norm") {
    val v = e.embedOne("the quick brown fox jumps")
    assert(v.length == 64)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("whitespace-only text → zero vector (quirk Q4 shape)") {
    assert(e.embedOne("   \n\t ").forall(_ == 0.0f))
    assert(e.embedOne("").forall(_ == 0.0f))
  }

  test("different texts → different vectors; similar texts closer than unrelated") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      d / (na * nb)
    }
    val base = e.embedOne("spark join shuffle partition executor memory")
    val near = e.embedOne("spark join shuffle partition executor disk")
    val far = e.embedOne("banana apple orange grape melon kiwi")
    assert(cos(base, near) > cos(base, far))
  }

  test("case and whitespace normalization") {
    assert(e.embedOne("Hello World").toSeq == e.embedOne("hello   world").toSeq)
  }

  test("tokens and vectors do not depend on the JVM's default locale") {
    val text = "INFO Login FAILED at IRQ 7"
    val vec = e.embedOne(text).toSeq
    val saved = java.util.Locale.getDefault
    try {
      // a Turkish default lower-cases I to a dotless ı
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert(HashEmbedder.tokenize(text).toSeq == Seq("info", "login", "failed", "at", "irq", "7"))
      assert(e.embedOne(text).toSeq == vec)
    } finally java.util.Locale.setDefault(saved)
  }

  test("batch embed matches single embed") {
    val texts = Seq("a b c", "d e f", "g h i")
    assert(e.embed(texts).map(_.toSeq) == texts.map(t => e.embedOne(t).toSeq))
  }

  test("withEmbedding UDF ≡ embedOne row by row") {
    val spark = SparkSpec.spark
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val rows = graft.embed.EmbedOps.withEmbedding(docs, "text")
      .select("doc_id", "text", "embedding").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Float](2) == e.embedOne(r.getString(1)).toSeq, s"doc_id=${r.getLong(0)}")
    }
  }

  test("approx_count_distinct within 10% of exact on fixtures") {
    val spark = SparkSpec.spark
    val rows = graft.ops.Relational.approxDistinct(spark, "/root/testdata/sf0.01").collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_customers").toDouble
      val exact = r.getAs[Long]("exact_customers").toDouble
      assert(math.abs(approx - exact) / exact < 0.10, s"approx=$approx exact=$exact")
    }
  }
}
