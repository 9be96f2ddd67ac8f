package graft

import graft.ingest.{Chunker, Sources}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Ingest semantics against the FIXTURES.md B1 corpus shape:
  * pruning, binary sniff, encoding cascade, id synthesis. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def writeCorpus(): Path = {
    val root = Files.createTempDirectory("graft-corpus")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("app/server.log", ("line one\nline two\n" + "x" * 300 + "\nline four").getBytes(StandardCharsets.UTF_8))
    put("app/server.log.1", "dup basename a\n".getBytes(StandardCharsets.UTF_8))
    put("db/server.log.1", "dup basename b\n".getBytes(StandardCharsets.UTF_8))
    put("empty.log", Array.emptyByteArray)
    put("blob.bin", Array[Byte](1, 2, 0, 3, 4))
    put("latin1.log", "café latin1".getBytes(StandardCharsets.ISO_8859_1))
    put("node_modules/x.log", "pruned".getBytes(StandardCharsets.UTF_8))
    put("whitespace.log", "   \n\t\n  ".getBytes(StandardCharsets.UTF_8))
    root
  }

  test("scan + sniff: prunes dirs, rejects empty/binary, decodes latin1") {
    val root = writeCorpus()
    val files = Sources.readTextFiles(spark, root.toString)
    val sources = files.select("source").collect().map(_.getString(0)).toSet
    assert(sources == Set(
      "app/server.log", "app/server.log.1", "db/server.log.1",
      "latin1.log", "whitespace.log"))
    val latin = files.filter(col("source") === "latin1.log")
      .select("content").head.getString(0)
    assert(latin == "café latin1")
  }

  test("pruning looks below the root only: a corpus under build/ or target/ indexes") {
    val parent = Files.createTempDirectory("graft-prune")
    for (root <- Seq(parent.resolve("build/logs"), parent.resolve("target"))) {
      for ((rel, text) <- Seq("app.log" -> "kept line", "build/out.log" -> "pruned",
          "sub/dist/x.log" -> "pruned", "sub/y.log" -> "kept too")) {
        Files.createDirectories(root.resolve(rel).getParent)
        Files.write(root.resolve(rel), text.getBytes(StandardCharsets.UTF_8))
      }
      val idx = Files.createTempDirectory("graft-prune-idx").toString
      Graft.index(spark, root.toString, idx)
      val sources = graft.index.VectorIndex.readVectors(spark, idx)
        .select("source").distinct().collect().map(_.getString(0)).toSet
      assert(sources == Set("app.log", "sub/y.log"), s"root $root")
    }
  }

  test("decode cascade: invalid UTF-8 falls back to latin1 (total)") {
    assert(Sources.decodeBytes("plain ascii".getBytes) == "plain ascii")
    assert(Sources.decodeBytes("café".getBytes(StandardCharsets.UTF_8)) == "café")
    // 0xE9 alone is invalid UTF-8 → latin1 é
    assert(Sources.decodeBytes(Array(0xE9.toByte)) == "é")
  }

  test("orc interchange: index schema (incl. embeddings) round-trips with pushdown") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val df = Seq(
      ("a:0", "src/a", 0, 2, "first chunk", Array(0.1f, 0.2f)),
      ("a:1", "src/a", 1, 2, "second chunk", Array(0.3f, 0.4f)))
      .toDF("id", "source", "chunk_index", "total_chunks", "text", "embedding")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // nullability widens on any file-source read; names + types must hold
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    assert(back.count() === 2)
    val filtered = back.filter(col("chunk_index") === 1)
    assert(filtered.count() === 1)
    // ORC reader must receive the predicate, same as parquet
    assert(filtered.queryExecution.executedPlan.toString
      .contains("PushedFilters: [IsNotNull(chunk_index), EqualTo(chunk_index,1)]"))
  }

  test("end-to-end chunk table: ids, dense chunk_index, whitespace filtered") {
    val root = writeCorpus()
    val files = Sources.readTextFiles(spark, root.toString)
    val chunks = Chunker.chunkDF(files, "source", "content", chunkSize = 100)
    val byId = chunks.select("id", "source", "chunk_index", "total_chunks", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // quirk Q1 preserved: basename-based ids collide across dirs,
    // source (relpath) disambiguates
    val dupIds = byId.filter(_._1 == "server.log.1:0").map(_._2).sorted
    assert(dupIds == Seq("app/server.log.1", "db/server.log.1"))
    // whitespace-only chunks dropped (index.py:372)
    assert(chunks.filter(col("source") === "whitespace.log").count() == 0)
    // oversize line (300 chars > chunkSize 100) is its own chunk
    val oversize = chunks.filter(col("source") === "app/server.log" && length(col("text")) > 100)
    assert(oversize.count() == 1)
    // chunk_index dense 0..n-1 per source
    val idx = chunks.filter(col("source") === "app/server.log")
      .select("chunk_index").collect().map(_.getInt(0)).sorted.toSeq
    assert(idx == idx.indices.toSeq)
  }
}
