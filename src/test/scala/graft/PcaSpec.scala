package graft

import graft.ops.Pca
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Power-iteration PCA over embeddings: recovers a planted dominant
  * direction, is deterministic under repartitioning (the bridged Gram
  * is order-free), and keeps the corpus-sized work distributed. */
class PcaSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** Corpus with a planted dominant direction u = e0: vectors are
    * a·u + small fixed noise in the remaining coordinates. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-pca").toString
    val rows = (0 until 200).map { n =>
      val v = new Array[Float](Pca.Dim)
      v(0) = (3.0f + (n % 7) * 0.5f) * (if (n % 2 == 0) 1f else -1f)
      var k = 1
      while (k < Pca.Dim) { v(k) = ((n * 31 + k * 17) % 13 - 6) * 0.01f; k += 1 }
      (n.toLong, v.toSeq, n % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("recovers the planted dominant direction (|pc1·u| ≈ 1) with λ > 0") {
    val got = Pca.embedPcaPower(spark, dir).collect()
    assert(got.length == Pca.Dim)
    val pc = got.sortBy(_.getLong(0)).map(_.getDouble(1))
    val lambda = got.head.getDouble(2)
    assert(lambda > 0.0)
    // |first coordinate| ≈ 1, everything else tiny
    assert(math.abs(pc(0)) > 0.99, s"pc1(0) = ${pc(0)}")
    assert(pc.drop(1).forall(c => math.abs(c) < 0.1), "noise dims stay small")
    // unit norm up to the per-step r6 rounding
    val nrm = math.sqrt(pc.map(c => c * c).sum)
    assert(math.abs(nrm - 1.0) < 1e-3, s"norm $nrm")
  }

  test("pca_top2: deflation recovers a planted SECOND direction, orthogonal to pc1") {
    // plant axis 5 as the clear second-variance direction on top of
    // the fixture's dominant axis 0
    val d = Files.createTempDirectory("graft-pca2").toString
    val rows = (0 until 200).map { n =>
      val v = new Array[Float](Pca.Dim)
      v(0) = (3.0f + (n % 7) * 0.5f) * (if (n % 2 == 0) 1f else -1f)
      v(5) = (1.5f + (n % 5) * 0.2f) * (if (n % 4 < 2) 1f else -1f)
      var k = 1
      while (k < Pca.Dim) {
        if (k != 5) v(k) = ((n * 31 + k * 17) % 13 - 6) * 0.01f
        k += 1
      }
      (n.toLong, v.toSeq, n % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val pc1 = Pca.embedPcaPower(spark, d).collect()
      .sortBy(_.getLong(0)).map(_.getDouble(1))
    val got2 = Pca.pcaTop2(spark, d).collect()
    val pc2 = got2.sortBy(_.getLong(0)).map(_.getDouble(1))
    val l2 = got2.head.getDouble(2)
    assert(l2 > 0.0)
    assert(math.abs(pc2(5)) > 0.95, s"pc2 must recover axis 5: ${pc2.toSeq}")
    assert(math.abs(pc2(0)) < 0.1, s"pc2 must not re-find axis 0: ${pc2.toSeq}")
    // 3 fixed power iterations leave pc1 slightly unconverged, so the
    // deflation residual bounds orthogonality at ~|Δpc1|, not 0
    val dot = pc1.zip(pc2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 0.05, s"components must be near-orthogonal: $dot")
  }

  test("pca_topm: rank-3 deflation — prefix-equal to fit/fit2, pairwise near-orthogonal") {
    val comps = Pca.pcaTopM(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(comps.length == Pca.PcaM * Pca.Dim)
    // components 1 and 2 are bit-identical to the registered
    // embed_pca_power / pca_top2 fits (same arithmetic, same order)
    val pc1 = Pca.embedPcaPower(spark, dir).collect()
      .sortBy(_.getLong(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    val got1 = comps.filter(_._1 == 1L).sortBy(_._2).map(r => (r._3, r._4))
    assert(got1.sameElements(pc1), "comp 1 diverged from embed_pca_power")
    val pc2 = Pca.pcaTop2(spark, dir).collect()
      .sortBy(_.getLong(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    val got2 = comps.filter(_._1 == 2L).sortBy(_._2).map(r => (r._3, r._4))
    assert(got2.sameElements(pc2), "comp 2 diverged from pca_top2")
    // each component is unit-normed (to r6 resolution) and the basis
    // is pairwise near-orthogonal (deflation residual ~|Δv| bounds it)
    val byComp = comps.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
    byComp.values.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-4, s"non-unit component: $n")
    }
    for (a <- 1 to Pca.PcaM; b <- (a + 1) to Pca.PcaM) {
      val dot = byComp(a.toLong).zip(byComp(b.toLong)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) < 0.05, s"comps $a,$b not near-orthogonal: $dot")
    }
    // eigenvalue estimates are non-increasing across the basis
    val lams = (1 to Pca.PcaM).map(c => comps.find(_._1 == c.toLong).get._4)
    assert(lams == lams.sortBy(-_), s"eigenvalues must be non-increasing: $lams")
  }

  test("embed_whiten: unit per-component variance and decorrelated components") {
    // three planted directions (axes 0, 5, 11) with well-separated
    // variances and alternating signs (mean ≈ 0, so the uncentered
    // Gram is the covariance the whitening formula assumes)
    val d = Files.createTempDirectory("graft-whiten").toString
    val rows = (0 until 300).map { n =>
      val v = new Array[Float](Pca.Dim)
      // Walsh sign patterns (periods 2/4/8) are mutually orthogonal
      // over any multiple of 4 samples, so the planted axes are
      // exactly sample-decorrelated
      // wide eigengaps (64:4:0.49) keep the 3-step power basis
      // within ~1e-3 of the true axes — the whitening identity is
      // only as clean as the fitted basis
      v(0) = 8.0f * (if (n % 2 == 0) 1f else -1f)
      v(5) = 2.0f * (if ((n / 2) % 2 == 0) 1f else -1f)
      v(11) = 0.7f * (if ((n / 4) % 2 == 0) 1f else -1f)
      var k = 1
      while (k < Pca.Dim) {
        if (k != 5 && k != 11) v(k) = ((n * 37 + k * 13) % 11 - 5) * 0.005f
        k += 1
      }
      (n.toLong, v.toSeq, n % 3)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val z = Pca.whitenAll(spark, d).collect()
    val n = z.length.toDouble
    (1 to Pca.PcaM).foreach { c =>
      val ms = z.map(r => r.getDouble(c) * r.getDouble(c)).sum / n
      assert(math.abs(ms - 1.0) < 0.05, s"component $c mean square $ms, want 1")
    }
    (1 until Pca.PcaM).foreach { a =>
      ((a + 1) to Pca.PcaM).foreach { b =>
        val cross = z.map(r => r.getDouble(a) * r.getDouble(b)).sum / n
        assert(math.abs(cross) < 0.1, s"components $a,$b correlate: $cross")
      }
    }
  }

  test("deterministic across cold runs (long-scaled Gram is partition-order-free)") {
    Pca.Pc1.clear(); Pca.Gram.clear()
    val a = Pca.embedPcaPower(spark, dir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    Pca.Pc1.clear(); Pca.Gram.clear()
    val b = Pca.embedPcaPower(spark, dir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.sameElements(b))
  }

  test("gram accumulation matches a driver-side brute force exactly (scaled longs)") {
    val dim = Pca.Dim
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding").cast("array<float>")).collect()
      .map(_.getSeq[Float](0).toArray)
    def s6(p: Double): Long =
      java.math.BigDecimal.valueOf(p)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
    val want = new Array[Long](dim * dim)
    vecs.foreach { x =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { want(i * dim + j) += s6(x(i).toDouble * x(j).toDouble); j += 1 }
        i += 1
      }
    }
    val got = Pca.gramScaled(spark, dir)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        assert(got(i * dim + j) == want(i * dim + j), s"cell ($i,$j)")
        j += 1
      }
      i += 1
    }
  }

  test("pca_projection reuses the memoized fit (no second distributed Gram pass)") {
    Pca.Pc1.clear(); Pca.Gram.clear()
    Pca.embedPcaPower(spark, dir).collect()
    val passes = Pca.gramPasses.get()
    val got = Pca.pcaProjection(spark, dir).collect()
    assert(got.nonEmpty)
    assert(Pca.gramPasses.get() == passes,
      "pca_projection re-ran the distributed Gram instead of reading the memo")
  }

  test("pca_top2 shares the Gram: one corpus pass serves both components") {
    Pca.Pc1.clear(); Pca.Gram.clear()
    Pca.Pc2.clear()
    Pca.embedPcaPower(spark, dir).collect()
    val passes = Pca.gramPasses.get()
    val got = Pca.pcaTop2(spark, dir).collect()
    assert(got.nonEmpty)
    assert(Pca.gramPasses.get() == passes,
      "pca_top2 re-ran the distributed Gram instead of deflating the shared one")
  }
}
