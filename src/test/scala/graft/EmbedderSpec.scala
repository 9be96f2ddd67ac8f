package graft

import graft.embed.HashEmbedder
import org.scalatest.funsuite.AnyFunSuite

class EmbedderSpec extends AnyFunSuite {
  private val e = HashEmbedder.default

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
