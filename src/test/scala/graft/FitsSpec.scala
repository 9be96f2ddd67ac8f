package graft

import graft.ops.{Fits, Pca}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The fit registry's own contract: nested computes, failed computes,
  * the size bound and `clear()`. */
class FitsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** A small embeddings fixture for the PCA fits. */
  private lazy val pcaDir: String = {
    val d = Files.createTempDirectory("graft-fits-pca").toString
    (0 until 64).map { n =>
      (n.toLong, Seq.tabulate(Pca.Dim)(k => ((n * 7 + k * 3) % 11 - 5) * 0.1f), n % 2)
    }.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def counting(name: String): (Fits.Fit[String], AtomicInteger) = {
    val calls = new AtomicInteger(0)
    (Fits(name) { (_, dir) => calls.incrementAndGet(); dir }, calls)
  }

  test("a nested compute works: pca_top2 from cold runs exactly one Gram pass") {
    Seq(Pca.Gram, Pca.Pc1, Pca.Pc2).foreach(_.clear())
    val passes = Pca.gramPasses.get()
    assert(Pca.pcaTop2(spark, pcaDir).collect().nonEmpty)
    assert(Pca.gramPasses.get() == passes + 1)
    assert(Seq(Pca.Gram, Pca.Pc1, Pca.Pc2).forall(_.isWarm(pcaDir)))
  }

  test("a compute that throws stores nothing, and the next call recomputes") {
    val calls = new AtomicInteger(0)
    val fit = Fits("test.flaky") { (_, dir) =>
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("first call fails")
      dir
    }
    val dir = Files.createTempDirectory("graft-fits-flaky").toString
    intercept[IllegalStateException](fit(spark, dir))
    assert(!fit.isWarm(dir) && fit.size == 0)
    assert(fit(spark, dir) == dir)
    assert(calls.get == 2)
  }

  test("bound + 1 distinct dirs keep at most the bound, and an evicted dir recomputes") {
    val (fit, calls) = counting("test.bounded")
    val dirs = (0 to Fits.Bound).map(i => Files.createTempDirectory(s"graft-fits-$i").toString)
    dirs.foreach(fit(spark, _))
    assert(calls.get == Fits.Bound + 1)
    assert(fit.size <= Fits.Bound)
    assert(fit.isWarm(dirs.last), "the entry just computed is never the one evicted")
    val evicted = dirs.filterNot(fit.isWarm)
    assert(evicted.nonEmpty)
    assert(fit(spark, evicted.head) == evicted.head)
    assert(calls.get == Fits.Bound + 2)
    assert(fit.size <= Fits.Bound)
  }

  test("clear() forces a recompute") {
    val (fit, calls) = counting("test.clear")
    val dir = Files.createTempDirectory("graft-fits-clear").toString
    fit(spark, dir)
    fit(spark, dir)
    assert(calls.get == 1)
    fit.clear()
    assert(!fit.isWarm(dir))
    fit(spark, dir)
    assert(calls.get == 2)
  }
}
