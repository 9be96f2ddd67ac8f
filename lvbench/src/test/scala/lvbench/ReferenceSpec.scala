package lvbench

import graft.query.Knn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def chunk(src: String, i: Int, v: Float*) =
    Reference.Chunk(src, i, s"${src.split('/').last}:$i", s"text of $src $i", v.toArray)

  // hand-made: a zero vector, exact duplicates (distance ties broken on
  // source NUL chunk_index, where "a.log\u000010" sorts before
  // "a.log\u00002"), and near-ties that differ only past 6 decimals
  private val index = Seq(
    chunk("a.log", 0, 0f, 0f, 0f),
    chunk("a.log", 2, 1f, 0f, 0f),
    chunk("a.log", 10, 1f, 0f, 0f),
    chunk("b/a.log", 2, 1f, 0f, 0f),
    chunk("b.log", 0, 0.6f, 0.8f, 0f),
    chunk("b.log", 1, 0.6f, 0.8f, 1e-7f),
    chunk("c.log", 0, 0f, 0f, 1f),
    chunk("c.log", 1, -1f, 0.1f, 0f))

  private def knn(q: Array[Float], k: Int): Seq[(String, Double)] = {
    import spark.implicits._
    val df = index.map(c => (c.uid, c.vec)).toDF("_uid", "embedding")
    Knn.topK(df, typedLit(q), k, idCol = "_uid").collect().toSeq
      .map(r => r.getString(0) -> r.getAs[Double]("dist"))
  }

  test("brute force agrees with Knn.topK, ties and zero vector included") {
    for (q <- Seq(Array(1f, 0.2f, 0f), Array(0.6f, 0.8f, 0f), Array(0f, 0f, 1f), Array(-1f, 0f, 0.5f));
         k <- Seq(1, 3, 7, 20)) {
      val want = Reference.topK(index, q, k).map(h => h.chunk.uid -> h.dist)
      assert(knn(q, k) == want, s"q=${q.mkString(",")} k=$k")
      assert(!want.exists(_._1 == index.head.uid), "the zero vector is excluded")
    }
  }

  test("a zero query vector finds nothing") {
    assert(Reference.topK(index, Array(0f, 0f, 0f), 5).isEmpty)
    assert(knn(Array(0f, 0f, 0f), 5).isEmpty)
    assert(Reference.context(Nil) == Reference.NoContext)
  }

  test("the reference context equals Knn.assembleContext over the same hits") {
    import spark.implicits._
    val hits = Reference.topK(index, Array(1f, 0.1f, 0f), 4)
    val df = hits.map(h => (h.chunk.id, h.chunk.source, h.chunk.chunkIndex, h.chunk.text, h.dist))
      .toDF("id", "source", "chunk_index", "text", "dist")
    assert(Knn.assembleContext(df).head().getString(0) == Reference.context(hits))
  }

  test("parseContext reads back the chunks a context quotes") {
    val byKey = index.map(c => (c.source, c.chunkIndex) -> c).toMap
    val hits = Reference.topK(index, Array(1f, 0f, 0f), 3)
    assert(Reference.parseContext(Reference.context(hits), byKey).map(_.toSet)
      .contains(hits.map(_.chunk).toSet))
    assert(Reference.parseContext("File: nope (chunk 0)\nx\n\n", byKey).isEmpty)
    assert(Reference.parseContext(Reference.context(hits) + "junk", byKey).isEmpty)
  }
}
