package graft

import graft.ops.{GraphAnn, KMeansVec, Maintenance, Pq, Quantize, VectorQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Incremental maintenance of the materialized ANN indexes: an
  * appended batch must be searchable WITHOUT a full rebuild, and the
  * post-append answers must equal a from-scratch rebuild over the
  * combined corpus (both equal exact kNN at fixture scale). */
class IncrementalIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.01"

  // half the fixture corpus (plus the query sentinel) as its own
  // table dir; the other half arrives later as the appended batch.
  // Split by PARITY, not range: incremental ingest appends data from
  // the SAME distribution the index was built on (a shifted
  // distribution is the retrain-and-rewrite case, not append)
  private lazy val halfDir: String = {
    val d = Files.createTempDirectory("graft-inc-half").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }
  private def laterBatch = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter(col("vec_id") % 2 === 1)

  private def queryVec: Array[Float] = spark.read.parquet(s"$dir/embeddings.parquet")
    .filter(col("vec_id") === VectorQueries.QueryVecId)
    .head().getSeq[Float](1).toArray

  test("graph index: append new segments, search equals full rebuild and exact kNN") {
    val tmp = Files.createTempDirectory("graft-inc-g")
    val inc = tmp.resolve("inc").toString
    GraphAnn.writeGraphIndex(spark, halfDir, inc)
    val shardsBefore = new java.io.File(inc).listFiles()
      .count(_.getName.startsWith("shard="))
    GraphAnn.appendGraphIndex(spark, inc, laterBatch)
    // existing shards untouched, batch landed as NEW segment shards
    val shardDirs = new java.io.File(inc).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(shardDirs.size > shardsBefore, s"no new segments in $shardDirs")

    val q = queryVec
    val incRes = GraphAnn.graphSearchIndexed(spark, inc, q).collect().toSeq
    val full = tmp.resolve("full").toString
    GraphAnn.writeGraphIndex(spark, dir, full)
    val fullRes = GraphAnn.graphSearchIndexed(spark, full, q).collect().toSeq
    assert(incRes == fullRes, "post-append search must equal full-rebuild search")
    val exact = VectorQueries.knnTopkK(spark, dir, 5).collect().map(_.getLong(0)).toSeq
    assert(incRes.map(_.getLong(0)) == exact, "post-append search must equal exact kNN")
  }

  test("graph index: compaction merges segments into a fresh generation, same answers") {
    val tmp = Files.createTempDirectory("graft-inc-c")
    val inc = tmp.resolve("inc").toString
    GraphAnn.writeGraphIndex(spark, halfDir, inc)
    GraphAnn.appendGraphIndex(spark, inc, laterBatch)
    val compacted = tmp.resolve("gen2").toString
    GraphAnn.compactGraphIndex(spark, inc, compacted)
    // merged back to the derived shard count (fixture floor = 8)
    val shardDirs = new java.io.File(compacted).listFiles()
      .count(_.getName.startsWith("shard="))
    assert(shardDirs <= GraphAnn.Shards, s"compaction left $shardDirs shards")
    val q = queryVec
    val a = GraphAnn.graphSearchIndexed(spark, inc, q).collect().toSeq
    val b = GraphAnn.graphSearchIndexed(spark, compacted, q).collect().toSeq
    assert(a == b, "compaction must not change answers")
  }

  test("graph index: merge policy — no-op below maxSegments, auto-compacts past it") {
    val tmp = Files.createTempDirectory("graft-inc-mp")
    val inc = tmp.resolve("inc").toString
    GraphAnn.writeGraphIndex(spark, halfDir, inc)
    def segs(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.startsWith("shard="))
    val base = segs(inc)
    // K small appends, each landing as its own fresh segment
    Seq(
      laterBatch.filter(col("vec_id") < 150),
      laterBatch.filter(col("vec_id") >= 150 && col("vec_id") < 300),
      laterBatch.filter(col("vec_id") >= 300))
      .foreach(b => GraphAnn.appendGraphIndex(spark, inc, b))
    val grown = segs(inc)
    assert(grown == base + 3, s"expected $base+3 segments, got $grown")
    val gen2 = tmp.resolve("gen2").toString
    // at or below the threshold: policy must NOT touch anything
    assert(!GraphAnn.maintainGraphIndex(spark, inc, gen2, maxSegments = grown))
    assert(!new java.io.File(gen2).exists(), "no-op must not write a generation")
    // past it: compaction runs into the fresh generation, merged back
    // to the derived shard count, with unchanged answers
    assert(GraphAnn.maintainGraphIndex(spark, inc, gen2, maxSegments = grown - 1))
    val merged = segs(gen2)
    assert(merged <= GraphAnn.Shards, s"compaction left $merged segments")
    val q = queryVec
    val full = tmp.resolve("full").toString
    GraphAnn.writeGraphIndex(spark, dir, full)
    val gen2Res = GraphAnn.graphSearchIndexed(spark, gen2, q).collect().toSeq
    val fullRes = GraphAnn.graphSearchIndexed(spark, full, q).collect().toSeq
    assert(gen2Res == fullRes, "maintained generation must equal a bulk rebuild")
    val exact = VectorQueries.knnTopkK(spark, dir, 5).collect().map(_.getLong(0)).toSeq
    assert(gen2Res.map(_.getLong(0)) == exact, "maintained generation must answer exactly")
  }

  test("ivf/pq/ivf-pq/sq merge policies: no-op below threshold, auto-compact past it, answers stable") {
    val tmp = Files.createTempDirectory("graft-inc-qmp")
    val q = queryVec
    def batches = Seq(
      laterBatch.filter(col("vec_id") < 150),
      laterBatch.filter(col("vec_id") >= 150 && col("vec_id") < 300),
      laterBatch.filter(col("vec_id") >= 300))

    // IVF: per-cell policy; compaction folds every cell to one file
    val ivf = tmp.resolve("ivf").toString
    KMeansVec.writeIvfIndex(spark, halfDir, ivf)
    batches.foreach(b => KMeansVec.appendIvfIndex(spark, ivf, b))
    val ivfBefore = KMeansVec.ivfSearchIndexed(spark, ivf, q).collect().toSeq
    val ivf2 = tmp.resolve("ivf2").toString
    assert(!KMeansVec.maintainIvfIndex(spark, ivf, ivf2, maxFilesPerCell = 100000))
    assert(!new java.io.File(ivf2).exists(), "no-op must not write a generation")
    assert(KMeansVec.maintainIvfIndex(spark, ivf, ivf2, maxFilesPerCell = 1))
    val (f2, c2) = Maintenance.fileStats(spark, s"$ivf2/vectors", Some("cluster"))
    assert(f2 == c2, s"compaction must fold to one file per cell: $f2 files / $c2 cells")
    assert(KMeansVec.ivfSearchIndexed(spark, ivf2, q).collect().toSeq == ivfBefore,
      "IVF generation swap must be answer-stable")

    // PQ: flat-table policy; sidecar rides byte-verbatim
    val pq = tmp.resolve("pq").toString
    Pq.writePqIndex(spark, halfDir, pq)
    batches.foreach(b => Pq.appendPqIndex(spark, pq, b))
    val pqBefore = Pq.pqSearchIndexed(spark, pq, dir, q).collect().toSeq
    val pq2 = tmp.resolve("pq2").toString
    assert(!Pq.maintainPqIndex(spark, pq, pq2, maxFiles = 100000))
    assert(Pq.maintainPqIndex(spark, pq, pq2, maxFiles = 1))
    assert(Maintenance.fileStats(spark, s"$pq2/codes")._1 <
      Maintenance.fileStats(spark, s"$pq/codes")._1,
      "compaction must reduce the codes file count")
    assert(Pq.pqSearchIndexed(spark, pq2, dir, q).collect().toSeq == pqBefore,
      "PQ generation swap must be answer-stable")

    // IVF-PQ: per-cell policy over the codes layout, both sidecars copied
    val ipq = tmp.resolve("ipq").toString
    Pq.writeIvfPqIndex(spark, halfDir, ipq)
    batches.foreach(b => Pq.appendIvfPqIndex(spark, ipq, b))
    val ipqBefore = Pq.ivfPqSearchIndexed(spark, ipq, dir, q).collect().toSeq
    val ipq2 = tmp.resolve("ipq2").toString
    assert(!Pq.maintainIvfPqIndex(spark, ipq, ipq2, maxFilesPerCell = 100000))
    assert(Pq.maintainIvfPqIndex(spark, ipq, ipq2, maxFilesPerCell = 1))
    assert(Pq.ivfPqSearchIndexed(spark, ipq2, dir, q).collect().toSeq == ipqBefore,
      "IVF-PQ generation swap must be answer-stable")

    // SQ: flat-table policy, no sidecar (nothing trained to copy)
    val sq = tmp.resolve("sq").toString
    Quantize.writeSqIndex(spark, halfDir, sq)
    batches.foreach(b => Quantize.appendSqIndex(spark, sq, b))
    val sqBefore = Quantize.sqSearchIndexed(spark, sq, dir, q).collect().toSeq
    val sq2 = tmp.resolve("sq2").toString
    assert(!Quantize.maintainSqIndex(spark, sq, sq2, maxFiles = 100000))
    assert(Quantize.maintainSqIndex(spark, sq, sq2, maxFiles = 1))
    assert(Quantize.sqSearchIndexed(spark, sq2, dir, q).collect().toSeq == sqBefore,
      "SQ generation swap must be answer-stable")
  }

  test("pq index: frozen-codebook append is bit-identical to one-pass bulk encode") {
    val tmp = Files.createTempDirectory("graft-inc-pq")
    val inc = tmp.resolve("inc").toString
    Pq.writePqIndex(spark, halfDir, inc) // codebooks trained on half only
    val before = spark.read.parquet(s"$inc/codes").count()
    Pq.appendPqIndex(spark, inc, laterBatch)
    val after = spark.read.parquet(s"$inc/codes").count()
    assert(after > before, "append must add code rows")
    // appended rows carry the same 8-byte TINYINT codes schema
    val schema = spark.read.parquet(s"$inc/codes").schema
    assert(schema("codes").dataType.simpleString == "array<tinyint>")
    // the maintenance contract: build-then-append must yield EXACTLY
    // the codes (and thus answers) of encoding the combined corpus in
    // one pass under the same frozen codebooks — append changes WHEN
    // rows are encoded, never HOW
    val bulk = tmp.resolve("bulk").toString
    Pq.writePqIndex(spark, dir, bulk, trainDir = Some(halfDir))
    val incCodes = spark.read.parquet(s"$inc/codes")
      .orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Byte](2))).toSeq
    val bulkCodes = spark.read.parquet(s"$bulk/codes")
      .orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getSeq[Byte](2))).toSeq
    assert(incCodes == bulkCodes, "append produced different codes than bulk encode")
    val q = queryVec
    val a = Pq.pqSearchIndexed(spark, inc, dir, q).collect().toSeq
    val b = Pq.pqSearchIndexed(spark, bulk, dir, q).collect().toSeq
    assert(a == b, "post-append search must equal bulk-encoded search")
    // and a retrain-rewrite on the combined corpus (the compaction
    // twin) restores the full-accuracy path asserted in PqSpec
    val retrained = tmp.resolve("gen2").toString
    Pq.writePqIndex(spark, dir, retrained)
    val exact = VectorQueries.knnTopkK(spark, dir, 5).collect().map(_.getLong(0)).toSeq
    val r = Pq.pqSearchIndexed(spark, retrained, dir, q).collect().map(_.getLong(0)).toSeq
    assert(r == exact, "retrained generation must rank the true top-5")
  }

  test("graph index: tag-keyed append is idempotent — replay rewrites, never duplicates") {
    val tmp = Files.createTempDirectory("graft-inc-idem-g")
    val inc = tmp.resolve("inc").toString
    GraphAnn.writeGraphIndex(spark, halfDir, inc)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    GraphAnn.appendGraphIndex(spark, inc, laterBatch, segmentTag = Some(7L))
    assert(spark.conf.getOption(modeKey) == modeBefore,
      "the tagged append must not change the session's overwrite mode")
    val rows1 = spark.read.parquet(inc).count()
    val q = queryVec
    val res1 = GraphAnn.graphSearchIndexed(spark, inc, q).collect().toSeq
    // replay the same batch — the at-least-once crash case the
    // deterministic shard ids + dynamic overwrite exist for
    GraphAnn.appendGraphIndex(spark, inc, laterBatch, segmentTag = Some(7L))
    assert(spark.read.parquet(inc).count() == rows1, "replay must not add rows")
    assert(GraphAnn.graphSearchIndexed(spark, inc, q).collect().toSeq == res1)
    // tagged segments answer exactly, same as the untagged append path
    val exact = VectorQueries.knnTopkK(spark, dir, 5).collect().map(_.getLong(0)).toSeq
    assert(res1.map(_.getLong(0)) == exact)
  }

  test("quantized appends: dedupeExisting makes a replayed batch a row-level no-op") {
    val tmp = Files.createTempDirectory("graft-inc-idem-q")
    // pq — and the first deduped append must equal a plain append
    // (nothing over-dropped on genuinely fresh ids)
    val p = tmp.resolve("p").toString
    val pPlain = tmp.resolve("pp").toString
    Pq.writePqIndex(spark, halfDir, p)
    Pq.writePqIndex(spark, halfDir, pPlain)
    Pq.appendPqIndex(spark, p, laterBatch, dedupeExisting = true)
    Pq.appendPqIndex(spark, pPlain, laterBatch)
    val n1 = spark.read.parquet(s"$p/codes").count()
    assert(n1 == spark.read.parquet(s"$pPlain/codes").count(),
      "dedupe must drop nothing on fresh ids")
    Pq.appendPqIndex(spark, p, laterBatch, dedupeExisting = true)
    assert(spark.read.parquet(s"$p/codes").count() == n1, "pq replay added rows")
    // ivf (existing-row scan pruned to the batch's cells)
    val i = tmp.resolve("i").toString
    KMeansVec.writeIvfIndex(spark, halfDir, i, iters = 1)
    KMeansVec.appendIvfIndex(spark, i, laterBatch, dedupeExisting = true)
    val ni = spark.read.parquet(s"$i/vectors").count()
    KMeansVec.appendIvfIndex(spark, i, laterBatch, dedupeExisting = true)
    assert(spark.read.parquet(s"$i/vectors").count() == ni, "ivf replay added rows")
    // ivf-pq
    val ip = tmp.resolve("ip").toString
    Pq.writeIvfPqIndex(spark, halfDir, ip)
    Pq.appendIvfPqIndex(spark, ip, laterBatch, dedupeExisting = true)
    val nip = spark.read.parquet(s"$ip/codes").count()
    Pq.appendIvfPqIndex(spark, ip, laterBatch, dedupeExisting = true)
    assert(spark.read.parquet(s"$ip/codes").count() == nip, "ivf-pq replay added rows")
    // sq
    val sq = tmp.resolve("sq").toString
    graft.ops.Quantize.writeSqIndex(spark, halfDir, sq)
    graft.ops.Quantize.appendSqIndex(spark, sq, laterBatch, dedupeExisting = true)
    val nsq = spark.read.parquet(s"$sq/codes").count()
    graft.ops.Quantize.appendSqIndex(spark, sq, laterBatch, dedupeExisting = true)
    assert(spark.read.parquet(s"$sq/codes").count() == nsq, "sq replay added rows")
  }

  test("ivf index: frozen-centroid append equals one-pass bulk assignment") {
    val tmp = Files.createTempDirectory("graft-inc-ivf")
    val inc = tmp.resolve("inc").toString
    KMeansVec.writeIvfIndex(spark, halfDir, inc, iters = 1)
    val before = spark.read.parquet(s"$inc/vectors").count()
    KMeansVec.appendIvfIndex(spark, inc, laterBatch)
    val after = spark.read.parquet(s"$inc/vectors").count()
    assert(after > before, "append must add vector rows")
    // the maintenance contract: build-then-append must land every row
    // in EXACTLY the cell a one-pass bulk assignment under the same
    // frozen centroids would choose — append changes WHEN rows are
    // assigned, never HOW (and partition pruning keeps working
    // because appends land inside the same cluster=N/ dirs)
    val bulk = tmp.resolve("bulk").toString
    KMeansVec.writeIvfIndex(spark, dir, bulk, iters = 1, trainDir = Some(halfDir))
    def cells(p: String) = spark.read.parquet(s"$p/vectors")
      .select("vec_id", "cluster").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(cells(inc) == cells(bulk), "append assigned different cells than bulk")
    val q = queryVec
    val a = KMeansVec.ivfSearchIndexed(spark, inc, q).collect().toSeq
    val b = KMeansVec.ivfSearchIndexed(spark, bulk, q).collect().toSeq
    assert(a == b, "post-append search must equal bulk-assigned search")
    assert(a.size == 5)
  }

  test("ivf-pq index: frozen-quantizer append equals one-pass bulk build") {
    val tmp = Files.createTempDirectory("graft-inc-ivfpq")
    val inc = tmp.resolve("inc").toString
    Pq.writeIvfPqIndex(spark, halfDir, inc)
    val before = spark.read.parquet(s"$inc/codes").count()
    Pq.appendIvfPqIndex(spark, inc, laterBatch)
    assert(spark.read.parquet(s"$inc/codes").count() > before, "append must add rows")
    // both quantizers frozen from the sidecars → append lands every
    // row with EXACTLY the cell and codes a one-pass bulk build under
    // the same training sample would produce
    val bulk = tmp.resolve("bulk").toString
    Pq.writeIvfPqIndex(spark, dir, bulk, trainDir = Some(halfDir))
    def rows(p: String) = spark.read.parquet(s"$p/codes")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2), r.getInt(3))).toSeq
    assert(rows(inc) == rows(bulk), "append produced different cells/codes than bulk")
    val q = queryVec
    val a = Pq.ivfPqSearchIndexed(spark, inc, dir, q).collect().toSeq
    val b = Pq.ivfPqSearchIndexed(spark, bulk, dir, q).collect().toSeq
    assert(a == b && a.size == 5, "post-append search must equal bulk search")
  }

  test("vacuum: superseded generations delete, live generation survives bit-stable, misuse fails loudly") {
    val tmp = Files.createTempDirectory("graft-vacuum")
    val q = queryVec
    // three generations by pointer swap: g0 (build) -> g1 -> g2
    val g0 = tmp.resolve("g0").toString
    KMeansVec.writeIvfIndex(spark, halfDir, g0)
    val g1 = tmp.resolve("g1").toString
    assert(KMeansVec.maintainIvfIndex(spark, g0, g1, maxFilesPerCell = 0))
    val g2 = tmp.resolve("g2").toString
    assert(KMeansVec.maintainIvfIndex(spark, g1, g2, maxFilesPerCell = 0))
    val before = KMeansVec.ivfSearchIndexed(spark, g2, q).collect().toSeq
    def exists(d: String) = new java.io.File(d).exists()

    // guards: live must be newest; live never deletable; all no-ops
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(spark, Seq(g0, g2, g1), live = g2)
    }
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(spark, Seq(g0, g1, g2), live = g1)
    }
    assert(exists(g0) && exists(g1) && exists(g2), "failed guards must delete nothing")

    // keep 2: only g0 goes; keep 1 next: g1 goes; answers bit-stable
    assert(Maintenance.vacuumGenerations(spark, Seq(g0, g1, g2), g2, keep = 2) == Seq(g0))
    assert(!exists(g0) && exists(g1) && exists(g2))
    assert(Maintenance.vacuumGenerations(spark, Seq(g1, g2), g2) == Seq(g1))
    assert(!exists(g1) && exists(g2))
    assert(KMeansVec.ivfSearchIndexed(spark, g2, q).collect().toSeq == before,
      "vacuum must never touch the live generation's answers")

    // stale history (g0 already deleted) fails loudly, deletes nothing
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(spark, Seq(g0, g2), g2)
    }
    assert(exists(g2))

    // catalog-table generations (band index family): sidecar rides along
    val sfFix = "/root/testdata/sf0.001"
    graft.ops.Dedup.writeBandIndex(spark, sfFix, "band_vac_g0")
    graft.ops.Dedup.compactBandIndex(spark, "band_vac_g0", "band_vac_g1")
    val probeBefore =
      graft.ops.Dedup.dedupIncrementalIndexed(spark, sfFix, "band_vac_g1").collect().toSeq
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerationTables(spark, Seq("band_vac_g1", "band_vac_g0"), "band_vac_g1")
    }
    assert(Maintenance.vacuumGenerationTables(
      spark, Seq("band_vac_g0", "band_vac_g1"), "band_vac_g1") == Seq("band_vac_g0"))
    assert(!spark.catalog.tableExists("band_vac_g0") &&
      !spark.catalog.tableExists("band_vac_g0_counts"),
      "superseded table AND its _counts sidecar must drop")
    assert(spark.catalog.tableExists("band_vac_g1") &&
      spark.catalog.tableExists("band_vac_g1_counts"))
    assert(graft.ops.Dedup.dedupIncrementalIndexed(spark, sfFix, "band_vac_g1")
      .collect().toSeq == probeBefore)
  }

  test("vacuum: duplicate kept entries survive; a missing victim aborts BEFORE any delete") {
    val tmp = Files.createTempDirectory("graft-vacuum2")
    def mk(name: String): String = {
      val d = tmp.resolve(name)
      Files.createDirectories(d)
      Files.writeString(d.resolve("marker"), name)
      d.toString
    }
    def exists(d: String) = new java.io.File(d).exists()

    // (1) a history that lists a KEPT generation again earlier in the
    // list must not delete the directory the kept suffix references
    val a0 = mk("a0"); val a1 = mk("a1"); val a2 = mk("a2")
    val deleted = Maintenance.vacuumGenerations(
      spark, Seq(a1, a0, a1, a2), live = a2, keep = 2)
    assert(deleted == Seq(a0), s"only the non-kept victim goes: $deleted")
    assert(exists(a1) && exists(a2) && !exists(a0),
      "the duplicate entry of kept a1 must not delete it")

    // (1b) two SPELLINGS of one directory (qualified vs bare) must
    // collapse to one victim — the second delete of an already-gone
    // path would otherwise throw after the first succeeded
    val c0 = mk("c0"); val c1 = mk("c1")
    val c0Qualified = "file:" + c0
    val deleted2 = Maintenance.vacuumGenerations(
      spark, Seq(c0Qualified, c0, c1), live = c1)
    assert(deleted2.size == 1 && !exists(c0) && exists(c1),
      s"spelling variants of one dir are ONE victim: $deleted2")

    // (2) validation is two-pass: a missing victim anywhere in the
    // list aborts before ANY deletion, so a re-run with the same
    // history never wedges on already-deleted earlier victims
    val b0 = mk("b0"); val b2 = mk("b2")
    val bMissing = tmp.resolve("b-missing").toString
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerations(spark, Seq(b0, bMissing, b2), live = b2)
    }
    assert(exists(b0), "victims listed before the missing one must survive the abort")

    // (3) same two guards on the catalog-table form
    val sfFix = "/root/testdata/sf0.001"
    graft.ops.Dedup.writeBandIndex(spark, sfFix, "band_vac2_g0")
    graft.ops.Dedup.compactBandIndex(spark, "band_vac2_g0", "band_vac2_g1")
    intercept[IllegalArgumentException] {
      Maintenance.vacuumGenerationTables(
        spark, Seq("band_vac2_g0", "band_vac2_nope", "band_vac2_g1"), "band_vac2_g1")
    }
    assert(spark.catalog.tableExists("band_vac2_g0"),
      "table victims before the missing one must survive the abort")
    assert(Maintenance.vacuumGenerationTables(
      spark, Seq("band_vac2_g1", "band_vac2_g0", "band_vac2_g1"),
      "band_vac2_g1") == Seq("band_vac2_g0"))
    assert(spark.catalog.tableExists("band_vac2_g1"),
      "the duplicate entry of the kept table must not drop it")
  }

  test("table vacuum folds identifiers per the session's case semantics, not unconditionally") {
    // default (case-insensitive analysis): two spellings of one table
    // are ONE victim — the second DROP of an already-dropped name
    // would otherwise throw after the first succeeded
    spark.sql("DROP TABLE IF EXISTS vac_case_g0")
    spark.sql("DROP TABLE IF EXISTS vac_case_g1")
    spark.sql("CREATE TABLE vac_case_g0 AS SELECT 1 AS a")
    spark.sql("CREATE TABLE vac_case_g1 AS SELECT 1 AS a")
    val folded = Maintenance.vacuumGenerationTables(
      spark, Seq("VAC_CASE_G0", "vac_case_g0", "vac_case_g1"), "vac_case_g1")
    assert(folded == Seq("VAC_CASE_G0"),
      s"case-variant spellings of one table must collapse to one victim: $folded")
    assert(!spark.catalog.tableExists("vac_case_g0") &&
      spark.catalog.tableExists("vac_case_g1"))

    // spark.sql.caseSensitive=true: case-variant names are genuinely
    // DISTINCT tables — folding would silently shield the second one
    // from ever being dropped
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      spark.sql("DROP TABLE IF EXISTS vac_cs_g0")
      spark.sql("DROP TABLE IF EXISTS VAC_CS_G0")
      spark.sql("DROP TABLE IF EXISTS vac_cs_live")
      spark.sql("CREATE TABLE vac_cs_g0 AS SELECT 1 AS a")
      spark.sql("CREATE TABLE VAC_CS_G0 AS SELECT 2 AS a")
      spark.sql("CREATE TABLE vac_cs_live AS SELECT 3 AS a")
      assert(spark.catalog.tableExists("vac_cs_g0") &&
        spark.catalog.tableExists("VAC_CS_G0"),
        "under case-sensitive analysis the catalog holds BOTH spellings")
      val dropped = Maintenance.vacuumGenerationTables(
        spark, Seq("vac_cs_g0", "VAC_CS_G0", "vac_cs_live"), "vac_cs_live")
      assert(dropped == Seq("vac_cs_g0", "VAC_CS_G0"),
        s"distinct case-variant tables are TWO victims, neither shielded: $dropped")
      assert(!spark.catalog.tableExists("vac_cs_g0") &&
        !spark.catalog.tableExists("VAC_CS_G0") &&
        spark.catalog.tableExists("vac_cs_live"))
    } finally {
      spark.conf.set("spark.sql.caseSensitive", "false")
      spark.sql("DROP TABLE IF EXISTS vac_cs_live")
    }
  }
}
