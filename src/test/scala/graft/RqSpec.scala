package graft

import graft.ops.Rq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Residual quantization on a planted two-scale corpus: coarse
  * cluster structure (captured by level 1) plus a shared set of
  * fine offsets (captured by the residual level). The second level
  * must strictly reduce reconstruction error. */
class RqSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-rq").toString
    // 4 coarse directions (axes 0..3) × 8 shared fine offsets
    // (axes 10..17, amplitude 0.4) = 32 distinct vectors — more than
    // the 16 level-1 codes can represent (err1 > 0), while residuals
    // across ALL coarse clusters collapse onto the same 8 offset
    // directions, the structure an additive second codebook captures
    val rows = (0 until 320).map { n =>
      val v = new Array[Float](Rq.Dim)
      val coarse = n % 4
      val fine = (n / 4) % 8
      v(coarse) = 1.0f
      v(10 + fine) = 0.4f
      (n.toLong + 1L, v.toSeq, coarse)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("residual level strictly reduces reconstruction error for every label") {
    val rows = Rq.rqError(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (label, e1, e2) = (r.getInt(0), r.getDouble(2), r.getDouble(3))
      assert(e2 < e1, s"label $label: err2 $e2 !< err1 $e1")
      assert(e2 >= 0.0)
    }
    val tot1 = rows.map(_.getDouble(2)).sum
    val tot2 = rows.map(_.getDouble(3)).sum
    // one Lloyd round from the prefix init captures part of the
    // residual structure (the prefix only sees half the fine
    // offsets); measured ratio ≈ 0.75 on this corpus
    assert(tot2 < tot1 * 0.8, s"two-level error $tot2 should be well under level-1 $tot1")
  }

  test("ann_rq_topk recall@5 vs exact kNN on the real fixture") {
    val sf = "/root/testdata/sf0.001"
    val exact = graft.ops.VectorQueries.knnTopkK(spark, sf, 5)
      .collect().map(_.getLong(0)).toSet
    val got = graft.ops.Rq.annRqTopk(spark, sf, 5)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    info(f"rq recall@5 = $recall%.2f")
    // 2×4-bit RQ is a 256-cell candidate generator (cell ties break
    // by vec_id) — the docstring's honesty bar: this asserts the
    // measured floor at the registered knobs, not perfection
    assert(recall >= 0.6, s"recall $recall")
  }

  test("deterministic across cold runs") {
    Rq.Codebooks.clear()
    val a = Rq.rqError(spark, dir).collect().map(_.toSeq)
    Rq.Codebooks.clear()
    val b = Rq.rqError(spark, dir).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }
}
