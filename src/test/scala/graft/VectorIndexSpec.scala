package graft

import graft.index.{IndexManifest, VectorIndex}
import org.apache.spark.graft.JobCounter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** The index build's plan (chunk-balanced layout, two jobs) and the
  * driver-side manifest. */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  /** One 400-line file far larger than three one-line files. */
  private def skewedCorpus(): (Path, Map[String, String]) = {
    val root = Files.createTempDirectory("graft-skew")
    val files = Map(
      "big/huge.log" -> (0 until 400).map(i => f"line $i%04d: worker-$i%03d request served").mkString("\n"),
      "a.log" -> "alpha started",
      "b.log" -> "beta started",
      "c/d.log" -> "gamma started")
    files.foreach { case (rel, text) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, text.getBytes(UTF_8))
    }
    (root, files)
  }

  private def parquetFiles(idx: String): Int =
    Files.list(Path.of(idx, VectorIndex.VectorsDir)).toArray
      .count(_.toString.endsWith(".parquet"))

  test("index plan: a warm Graft.index runs at most 2 Spark jobs") {
    val (corpus, _) = skewedCorpus()
    val idx = Files.createTempDirectory("graft-jobs-idx").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 200))
    val (_, jobs) = JobCounter(spark.sparkContext)(
      Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 200)))
    assert(jobs <= 2, s"Graft.index ran $jobs jobs")
  }

  test("index plan: one file far larger than the rest still fills numPartitions files, each file reconstructs") {
    val (corpus, files) = skewedCorpus()
    val idx = Files.createTempDirectory("graft-skew-idx").toString
    Graft.index(spark, corpus.toString, idx,
      Graft.IndexConfig(chunkSize = 200, numPartitions = Some(4)))
    assert(parquetFiles(idx) == 4)
    val rows = VectorIndex.readVectors(spark, idx)
      .select("source", "chunk_index", "text", "total_chunks").collect()
    val rebuilt = rows.groupBy(_.getString(0)).map { case (src, rs) =>
      assert(rs.length == rs.head.getInt(3), s"$src lost chunks")
      src -> rs.sortBy(_.getInt(1)).map(_.getString(2)).mkString("\n")
    }
    assert(rebuilt == files)
    assert(rows.count(_.getString(0) == "big/huge.log") > 4)
  }

  test("open: the manifest reads on the driver, with no Spark job") {
    val (corpus, _) = skewedCorpus()
    val idx = Files.createTempDirectory("graft-open-idx").toString
    Graft.index(spark, corpus.toString, idx, Graft.IndexConfig(chunkSize = 200))
    val sc = spark.sparkContext
    assert(JobCounter(sc)(VectorIndex.readManifest(spark, idx))._2 == 0)
    // open adds no job beyond reading the vectors' parquet schema
    val (_, vectorJobs) = JobCounter(sc)(VectorIndex.readVectors(spark, idx))
    val (session, openJobs) = JobCounter(sc)(Graft.open(spark, idx))
    session.close()
    assert(openJobs <= vectorJobs, s"Graft.open ran $openJobs jobs, reading vectors $vectorJobs")
  }

  private val awkward = IndexManifest(
    indexed_at = "2026-10-17T00:00:00Z",
    repository = "/logs/\"quoted\" \\back\\slash\nnew line/Größe/日志/\u0000/😀",
    embedding_type = "hash",
    embedding_model = "hash-ngram-64",
    chunk_size = 2000,
    index_path = "/idx")

  test("manifest: quotes, backslashes, a newline and non-ASCII text round-trip as one JSON line") {
    val idx = Files.createTempDirectory("graft-manifest").toString
    VectorIndex.write(spark.range(0).toDF(), idx, awkward)
    assert(VectorIndex.readManifest(spark, idx) == awkward)
    val part = Path.of(idx, VectorIndex.ManifestDir, "part-00000.json")
    val text = new String(Files.readAllBytes(part), UTF_8)
    assert(text.endsWith("\n") && text.count(_ == '\n') == 1, text)
    // field names and order of IndexManifest
    assert("\"(\\w+)\":".r.findAllMatchIn(text).map(_.group(1)).toSeq ==
      awkward.productElementNames.toSeq)
  }

  test("manifest: one written as a Spark JSON dataset (part-<uuid>, _SUCCESS, .crc) reads back equal") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-manifest").toString
    Seq(awkward).toDF().coalesce(1).write.json(s"$idx/${VectorIndex.ManifestDir}")
    assert(VectorIndex.readManifest(spark, idx) == awkward)
  }

  test("manifest: an empty manifest dir or part file fails with open's message") {
    val empty = Files.createTempDirectory("graft-manifest").toString
    Files.createDirectories(Path.of(empty, VectorIndex.ManifestDir))
    val blank = Files.createTempDirectory("graft-manifest").toString
    Files.createDirectories(Path.of(blank, VectorIndex.ManifestDir))
    Files.write(Path.of(blank, VectorIndex.ManifestDir, "part-00000.json"), Array.emptyByteArray)
    for (idx <- Seq(empty, blank)) {
      val e = intercept[IllegalStateException](Graft.open(spark, idx))
      assert(e.getMessage.contains("No index found"), e.getMessage)
    }
  }
}
