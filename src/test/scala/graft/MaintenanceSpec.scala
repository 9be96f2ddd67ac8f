package graft

import graft.ops.Maintenance
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("compaction folds a many-small-file dataset into the computed file count") {
    val root = Files.createTempDirectory("graft-compact")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    (1 to 5000).map(i => (i.toLong, s"row $i")).toDF("id", "payload")
      .repartition(40)
      .write.mode("overwrite").parquet(in)
    assert(parquetFiles(in).size === 40, "fixture must start fragmented")

    // target larger than the whole dataset → single output file
    val n = Maintenance.compactParquet(spark, in, out, targetBytes = 1L << 30)
    assert(n === 1)
    assert(parquetFiles(out).size === 1)
    assert(spark.read.parquet(out).count() === 5000)

    // tiny target → computed count matches what lands on disk
    val out2 = root.resolve("out2").toString
    val bytes = Maintenance.dirBytes(spark, in)
    val n2 = Maintenance.compactParquet(spark, in, out2, targetBytes = bytes / 4)
    assert(parquetFiles(out2).size === n2)
    assert(spark.read.parquet(out2).count() === 5000)
  }

  test("sorted compaction clusters rows so file-level min/max ranges are disjoint") {
    val root = Files.createTempDirectory("graft-csort")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    // write deliberately scrambled across files
    (1 to 4000).map(i => ((i * 2654435761L) % 4000, i.toLong))
      .toDF("key", "v").repartition(16)
      .write.mode("overwrite").parquet(in)
    val bytes = Maintenance.dirBytes(spark, in)
    val n = Maintenance.compactSorted(spark, in, out, Seq("key"), targetBytes = bytes / 4)
    assert(n >= 2, "need multiple output files to prove clustering")
    assert(spark.read.parquet(out).count() === 4000)
    // per-file key ranges must not overlap (range partition + sort)
    val ranges = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("key"))
      .groupBy("f").agg(min("key").as("lo"), max("key").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"overlap: ${ranges.mkString(",")}")
    }
  }

  test("z-order rewrite shrinks per-file min/max ranges on BOTH dimensions") {
    val root = Files.createTempDirectory("graft-zord")
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    // two independent uniform dimensions, scrambled layout
    val rnd = new scala.util.Random(7)
    (1 to 8000).map { i => (rnd.nextInt(8192).toLong, rnd.nextInt(1024).toLong, i.toLong) }
      .toDF("a", "b", "v").repartition(16)
      .write.mode("overwrite").parquet(in)
    val bytes = Maintenance.dirBytes(spark, in)
    // 16 files over a 256×256 bucket grid: each file covers ~4096
    // curve cells ≈ a 64×64 tile → ~4x span shrink on each dim
    val n = Maintenance.zorderWrite(spark, in, out,
      "a", 32, "b", 4, targetBytes = bytes / 16)
    assert(n >= 8, "need several output files to measure skipping")
    assert(spark.read.parquet(out).count() === 8000)
    def avgFileSpan(dir: String, c: String): Double = {
      val spans = spark.read.parquet(dir)
        .select(input_file_name().as("f"), col(c))
        .groupBy("f").agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .collect().map(_.getDouble(1))
      spans.sum / spans.length
    }
    // a scan filtering `a BETWEEN x AND y` (or b) skips files whose
    // min/max miss the band — narrower per-file spans = more skips.
    // Z-order must tighten BOTH dims vs the scrambled layout (a
    // plain sort would tighten only one).
    val aIn = avgFileSpan(in, "a"); val aOut = avgFileSpan(out, "a")
    val bIn = avgFileSpan(in, "b"); val bOut = avgFileSpan(out, "b")
    assert(aOut < aIn * 0.6, s"dim a not clustered: $aOut vs $aIn")
    assert(bOut < bIn * 0.6, s"dim b not clustered: $bOut vs $bIn")
  }

  test("merge policies: a committed zero-row index is a no-op, a missing layout still fails loudly") {
    val root = Files.createTempDirectory("graft-emptyidx").toString
    // zero-row PARTITIONED write: commits _SUCCESS but creates no
    // cluster= dirs — the legitimately-empty shape that must be a
    // maintenance no-op, not a crash
    val emptyVecs = Seq.empty[(Long, Int, Seq[Float])]
      .toDF("vec_id", "cluster", "embedding")
    emptyVecs.write.partitionBy("cluster").parquet(s"$root/ivf/vectors")
    assert(!graft.ops.KMeansVec.maintainIvfIndex(spark, s"$root/ivf", s"$root/ivf2"))

    Seq.empty[(Long, Int, Seq[Byte])].toDF("vec_id", "cluster", "codes")
      .write.partitionBy("cluster").parquet(s"$root/ivfpq/codes")
    assert(!graft.ops.Pq.maintainIvfPqIndex(spark, s"$root/ivfpq", s"$root/ivfpq2"))

    // zero-row FLAT writes: _SUCCESS with zero-or-one (schema-only)
    // data files — either way the policy is a no-op
    Seq.empty[(Long, Seq[Byte])].toDF("vec_id", "codes")
      .write.parquet(s"$root/pq/codes")
    assert(!graft.ops.Pq.maintainPqIndex(spark, s"$root/pq", s"$root/pq2"))
    Seq.empty[(Long, Seq[Byte])].toDF("vec_id", "codes")
      .write.parquet(s"$root/sq/codes")
    assert(!graft.ops.Quantize.maintainSqIndex(spark, s"$root/sq", s"$root/sq2"))

    // an EMPTY-CORPUS band index through the real writer path
    val edir = Files.createTempDirectory("graft-emptyband").toString
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
      .write.parquet(s"$edir/documents.parquet")
    graft.ops.Dedup.writeBandIndex(spark, edir, "band_idx_empty")
    assert(!graft.ops.Dedup.maintainBandIndex(spark, "band_idx_empty", "band_idx_empty2"))
    // ... and an empty-corpus substring index the same way
    graft.ops.Dedup.writeSubstrIndex(spark, edir, "substr_idx_empty")
    assert(!graft.ops.Dedup.maintainSubstrIndex(spark, "substr_idx_empty", "substr_idx_empty2"))

    // an EMPTY-CORPUS graph index: the committed write has no shard= dirs
    Seq.empty[(Long, Int, Seq[Float])].toDF("vec_id", "label", "embedding")
      .write.parquet(s"$edir/embeddings.parquet")
    graft.ops.GraphAnn.writeGraphIndex(spark, edir, s"$root/graph")
    assert(!graft.ops.GraphAnn.maintainGraphIndex(spark, s"$root/graph", s"$root/graph2"))

    // missing layout: still a loud failure, never a silent skip
    assertThrows[Exception] {
      graft.ops.KMeansVec.maintainIvfIndex(spark, s"$root/nope", s"$root/nope2")
    }
    // dir exists, no data files, no _SUCCESS marker: layout changed → loud
    new java.io.File(s"$root/bare/codes").mkdirs()
    assertThrows[IllegalArgumentException] {
      graft.ops.Quantize.maintainSqIndex(spark, s"$root/bare", s"$root/bare2")
    }
    // a bare graph dir (no shard= dirs, no _SUCCESS) fails the same way
    new java.io.File(s"$root/bareg").mkdirs()
    assertThrows[IllegalArgumentException] {
      graft.ops.GraphAnn.maintainGraphIndex(spark, s"$root/bareg", s"$root/bareg2")
    }
  }

  test("hilbert walk: order-3 bijection with unit steps; the Morton curve jumps, Hilbert never does") {
    val order = 3
    val n = 1 << order
    val grid = for { x <- 0 until n; y <- 0 until n } yield (x, y)
    val cells = grid.map { case (x, y) =>
      Maintenance.hilbertD(order)(x.toLong, y.toLong) -> (x, y) }.toMap
    assert(cells.keySet == (0 until n * n).map(_.toLong).toSet,
      "every Hilbert key in [0, n^2) exactly once")
    val path = (0 until n * n).map(i => cells(i.toLong))
    val hSteps = path.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
      (x1 - x2).abs + (y1 - y2).abs }.toSeq
    assert(hSteps.forall(_ == 1), s"every Hilbert step is one cell: ${hSteps.max}")
    // Morton over the same grid: interleave bits, sort, measure steps
    def morton(x: Int, y: Int): Long =
      (0 until order).map(i => (((x.toLong >> i) & 1) << (2 * i + 1)) |
        (((y.toLong >> i) & 1) << (2 * i))).sum
    val mPath = grid.sortBy { case (x, y) => morton(x, y) }
    val mSteps = mPath.sliding(2).map { case Seq((x1, y1), (x2, y2)) =>
      (x1 - x2).abs + (y1 - y2).abs }.toSeq
    assert(mSteps.max > 1, "Morton takes multi-cell jumps — the locality gap hilbert_key closes")
  }
}
