package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted substring (window-hash) index —
  * [[Dedup.writeSubstrIndex]] / [[Dedup.substrScrubIndexed]]: the
  * ExactSubstr analog of the band index, smaller by construction
  * (distinct hashes only — membership is all a scrub probe needs).
  * Contract: (1) probing the index is bit-identical to the inline
  * incremental scrub, (2) segment appends preserve that, (3) the
  * bucketed corpus side never shuffles, (4) the maintain policy
  * folds appended segments into a fresh generation answer-stably and
  * the generic table vacuum retires superseded generations. */
class SubstrIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("indexed substring scrub ≡ the inline incremental scrub, bit for bit") {
    Dedup.writeSubstrIndex(spark, sf, "substr_idx_eq")
    val inline = Dedup.substrScrubIncremental(spark, sf).collect().toSeq
    val indexed = Dedup.substrScrubIndexed(spark, sf, "substr_idx_eq").collect().toSeq
    assert(inline.nonEmpty, "batch docs must report rows")
    assert(indexed == inline)
    // fixture word-soup must actually exercise removal on some doc OR
    // the planted path below covers it — assert the relation is total
    assert(indexed.map(_.getLong(0)).distinct.size == indexed.size)
  }

  test("two-segment write+append ≡ one-shot write; duplicates across segments are harmless") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    Dedup.writeSubstrIndex(spark, sf, "substr_idx_all")
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-substrseg").toString
    d.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS substr_idx_seg")
    Dedup.writeSubstrIndex(spark, tmpDir, "substr_idx_seg")
    Dedup.appendSubstrIndex(d.filter(col("doc_id") % 2 === 0), "substr_idx_seg")
    val oneShot = Dedup.substrScrubIndexed(spark, sf, "substr_idx_all").collect().toSeq
    val segmented = Dedup.substrScrubIndexed(spark, sf, "substr_idx_seg").collect().toSeq
    assert(segmented == oneShot)
  }

  test("a stale-format index generation fails loudly at probe/append/compact, never quietly mismatches") {
    import spark.implicits._
    // a pre-versioning build: same schema, no graft.index.format stamp
    // (the shape every index written before the split-parity change
    // has on disk)
    spark.sql("DROP TABLE IF EXISTS substr_idx_stale")
    Seq(1L, 2L, 3L).toDF("h")
      .write.mode("overwrite")
      .bucketBy(4, "h").sortBy("h")
      .saveAsTable("substr_idx_stale")
    def mustRefuse(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("format") && e.getMessage.contains("rebuild"),
        s"stale-index refusal must say what to do: ${e.getMessage}")
    }
    mustRefuse(Dedup.substrScrubIndexed(spark, sf, "substr_idx_stale").collect())
    mustRefuse(Dedup.appendSubstrIndex(
      spark.read.parquet(s"$sf/documents.parquet"), "substr_idx_stale"))
    mustRefuse(Dedup.compactSubstrIndex(spark, "substr_idx_stale", "substr_idx_stale_g2"))
    // an EXPLICITLY different version (a future v3 build probed by
    // this v2 engine) refuses identically
    spark.sql("ALTER TABLE substr_idx_stale SET TBLPROPERTIES " +
      "('graft.index.format' = '999')")
    mustRefuse(Dedup.substrScrubIndexed(spark, sf, "substr_idx_stale").collect())
    // the band family enforces the same contract
    spark.sql("DROP TABLE IF EXISTS band_idx_stale")
    spark.sql("DROP TABLE IF EXISTS band_idx_stale_counts")
    Dedup.writeBandIndex(spark, sf, "band_idx_stale")
    spark.sql("ALTER TABLE band_idx_stale UNSET TBLPROPERTIES ('graft.index.format')")
    mustRefuse(Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_stale").collect())
    mustRefuse(Dedup.compactBandIndex(spark, "band_idx_stale", "band_idx_stale_g2"))
    // current-format builds still probe (the stamp rides the write)
    Dedup.writeSubstrIndex(spark, sf, "substr_idx_fmt_ok")
    assert(Dedup.substrScrubIndexed(spark, sf, "substr_idx_fmt_ok").collect().nonEmpty)
  }

  test("a planted corpus passage is cut from an arriving doc at a shifted alignment") {
    import spark.implicits._
    val passage = (1 to 16).map(i => s"q$i")
    // corpus doc 11 holds the passage; arriving doc 20 (% 10 == 0)
    // copies it at a different offset; arriving doc 30 is clean
    val d11 = (1 to 5).map(i => s"a$i") ++ passage ++ (1 to 9).map(i => s"b$i")
    val d20 = (1 to 2).map(i => s"c$i") ++ passage ++ (1 to 12).map(i => s"d$i")
    val d30 = (1 to 30).map(i => s"e$i")
    val dir = java.nio.file.Files.createTempDirectory("graft-substrinc").toString
    Seq((11L, d11.mkString(" ")), (20L, d20.mkString(" ")), (30L, d30.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.substrScrubIncremental(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got.keySet == Set(20L, 30L), s"batch docs only: $got")
    assert(got(30L)._1 == 0L, s"clean arrival untouched: $got")
    assert(got(20L)._1 == 16L, s"the copied passage must cut whole: $got")
    val expect20 = ((1 to 2).map(i => s"c$i") ++ (1 to 12).map(i => s"d$i")).mkString(" ")
    assert(got(20L)._2 == graft.functions.CrossHash.md5Hash60(expect20), "byte-exact rebuild")
    // the corpus copy is untouched by construction (corpus docs are
    // not in the output relation at all — they are the canon)
    // and the indexed probe agrees bit-for-bit
    Dedup.writeSubstrIndex(spark, dir, "substr_idx_planted")
    val viaIndex = Dedup.substrScrubIndexed(spark, dir, "substr_idx_planted").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(viaIndex == got)
  }

  test("probe join: the bucketed hash table reads in place — exactly one Exchange (the batch's)") {
    Dedup.writeSubstrIndex(spark, sf, "substr_idx_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = Dedup.substrScrubIndexed(spark, sf, "substr_idx_plan")
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val plan = full.indexOf("== Initial Plan ==") match {
        case -1 => full
        case i => full.substring(0, i)
      }
      assert(plan.contains("Bucketed: true"), s"index scan must be bucketed: $plan")
      val exchanges = "Exchange hashpartitioning\\(h#".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"only the incoming batch may shuffle on the hash key: $plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    }
  }

  test("maintain folds appended segments past the file cap; vacuum retires the old generation") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-substrmnt").toString
    d.filter(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS substr_idx_m")
    spark.sql("DROP TABLE IF EXISTS substr_idx_m2")
    Dedup.writeSubstrIndex(spark, tmpDir, "substr_idx_m")
    Dedup.appendSubstrIndex(d.filter(col("doc_id") % 2 === 0), "substr_idx_m")
    val before = Dedup.substrScrubIndexed(spark, sf, "substr_idx_m").collect().toSeq
    // generous cap: no compaction
    assert(!Dedup.maintainSubstrIndex(spark, "substr_idx_m", "substr_idx_m2"))
    // forcing the cap to 0 triggers the rewrite
    assert(Dedup.maintainSubstrIndex(spark, "substr_idx_m", "substr_idx_m2",
      maxFilesPerBucket = 0))
    val after = Dedup.substrScrubIndexed(spark, sf, "substr_idx_m2").collect().toSeq
    assert(after == before, "generation swap must be answer-stable")
    // compaction dedups the hash rows appended twice across segments
    val rows = spark.table("substr_idx_m2").count()
    val distinctRows = spark.table("substr_idx_m2").distinct().count()
    assert(rows == distinctRows, "compacted generation holds each hash once")
    // retire the superseded generation via the generic table vacuum
    val dropped = graft.ops.Maintenance.vacuumGenerationTables(
      spark, Seq("substr_idx_m", "substr_idx_m2"), live = "substr_idx_m2")
    assert(dropped == Seq("substr_idx_m"))
    assert(!spark.catalog.tableExists("substr_idx_m"))
    val postVacuum = Dedup.substrScrubIndexed(spark, sf, "substr_idx_m2").collect().toSeq
    assert(postVacuum == before, "live generation answers unchanged after vacuum")
  }
}
