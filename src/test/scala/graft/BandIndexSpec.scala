package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted MinHash band index — [[Dedup.writeBandIndex]] /
  * [[Dedup.dedupIncrementalIndexed]]: the dedup analog of the
  * materialized ANN indexes. The contract under test: (1) querying
  * the index gives bit-identical results to the inline detector,
  * (2) segment appends preserve them, (3) the corpus side of the
  * probe join NEVER shuffles — the whole point of bucketing 100 TB
  * of band rows on disk. */
class BandIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("indexed incremental dedup ≡ the inline detector, bit for bit") {
    Dedup.writeBandIndex(spark, sf, "band_idx_eq")
    val inline = Dedup.dedupIncremental(spark, sf).collect().toSeq
    val indexed = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_eq").collect().toSeq
    assert(inline.nonEmpty, "fixture must produce incremental dups")
    assert(indexed == inline)
  }

  test("pre-sidecar index (no _counts table): probe falls back to the stored bucket_n cap") {
    Dedup.writeBandIndex(spark, sf, "band_idx_legacy")
    // simulate an index written before the sidecar contract
    spark.sql("DROP TABLE band_idx_legacy_counts")
    val inline = Dedup.dedupIncremental(spark, sf).collect().toSeq
    val indexed = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_legacy").collect().toSeq
    assert(inline.nonEmpty, "fixture must produce incremental dups")
    // single segment ⇒ the per-row bucket_n cap IS the global cap
    assert(indexed == inline)
  }

  test("two-segment write+append ≡ one-shot write") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    // first segment: half the corpus; second: the rest, appended
    spark.sql("DROP TABLE IF EXISTS band_idx_seg")
    Dedup.writeBandIndex(spark, sf, "band_idx_all")
    val firstHalf = d.filter(col("doc_id") % 2 === 1)
    val secondHalf = d.filter(col("doc_id") % 2 === 0)
    // seed the table with the first half via the same writer path
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-bandseg").toString
    firstHalf.write.mode("overwrite").parquet(s"$tmpDir/documents.parquet")
    Dedup.writeBandIndex(spark, tmpDir, "band_idx_seg")
    Dedup.appendBandIndex(secondHalf, "band_idx_seg")
    val oneShot = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_all").collect().toSeq
    val segmented = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_seg").collect().toSeq
    assert(segmented == oneShot)
  }

  test("maintenance: no-op below the file threshold; compaction yields identical probes with global caps") {
    Dedup.writeBandIndex(spark, sf, "band_idx_m")
    // fresh single-generation index: far below any file threshold
    assert(!Dedup.maintainBandIndex(spark, "band_idx_m", "band_idx_m2"))
    // force the policy: threshold 0 files per bucket always triggers
    assert(Dedup.maintainBandIndex(spark, "band_idx_m", "band_idx_m2",
      maxFilesPerBucket = 0))
    val before = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_m").collect().toSeq
    val after = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_m2").collect().toSeq
    assert(after == before, "generation swap must be answer-stable")
    // the compacted generation's bucket_n is GLOBAL (equals the
    // true per-(band, key) row counts)
    val counts = spark.table("band_idx_m2")
      .groupBy("band", "bkey60").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    spark.table("band_idx_m2").select("band", "bkey60", "bucket_n").collect()
      .foreach(r => assert(r.getLong(2) == counts((r.getInt(0), r.getLong(1))),
        s"stale bucket_n for key ${r.getLong(1)}"))
  }

  test("planted hot bucket straddling segments: the counts sidecar enforces the GLOBAL cap pre-compaction") {
    import spark.implicits._
    // one band bucket of 1300 identical docs, split 650/650 across two
    // segments: each segment alone sits under MaxPosting, so a
    // per-segment cap would ADMIT what the inline detector's global
    // cap suppresses (the historical appendBandIndex divergence).
    // The `_counts` sidecar aggregates per-segment counts to the true
    // cross-segment size at probe time, so indexed ≡ inline holds
    // even for a straddling bucket, before any compaction — and
    // compaction (which folds the sidecar too) keeps it that way.
    val hotText = "alpha beta gamma delta epsilon"
    val corpusIds = (1L to 1500L).filter(_ % 10 != 0).take(1300)
    val (idsA, idsB) = corpusIds.splitAt(650)
    val probeId = 10L
    def docs(ids: Seq[Long]) =
      ids.toDF("doc_id").select(col("doc_id"), lit(hotText).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-straddle").toString
    docs(corpusIds :+ probeId).write.mode("overwrite")
      .parquet(s"$tmp/full/documents.parquet")
    docs(idsA).write.mode("overwrite").parquet(s"$tmp/segA/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS band_idx_straddle")
    Dedup.writeBandIndex(spark, s"$tmp/segA", "band_idx_straddle")
    Dedup.appendBandIndex(docs(idsB), "band_idx_straddle")
    // the precondition is real: each SEGMENT'S sidecar rows are under
    // the cap, only their SUM crosses it
    val segMax = spark.table("band_idx_straddle_counts")
      .agg(max(col("n"))).collect()(0).getLong(0)
    val globalMax = spark.table("band_idx_straddle_counts")
      .groupBy(col("band"), col("key")).agg(sum(col("n")).as("gn"))
      .agg(max(col("gn"))).collect()(0).getLong(0)
    assert(segMax <= Dedup.MaxPosting && globalMax > Dedup.MaxPosting,
      s"straddle must be planted: per-segment max $segMax, global max $globalMax")
    // inline: the 1300-member bucket exceeds MaxPosting → no matches
    val inline = Dedup.dedupIncremental(spark, s"$tmp/full").collect()
    assert(inline.isEmpty, s"inline cap must suppress the hot bucket: ${inline.toSeq}")
    // indexed, PRE-compaction: the sidecar's global count suppresses it
    val indexed = Dedup.dedupIncrementalIndexed(spark, s"$tmp/full", "band_idx_straddle")
      .collect()
    assert(indexed.isEmpty,
      s"the global sidecar cap must match the inline detector: ${indexed.toSeq}")
    // compaction folds the sidecar and preserves the answer
    spark.sql("DROP TABLE IF EXISTS band_idx_straddle_c")
    Dedup.compactBandIndex(spark, "band_idx_straddle", "band_idx_straddle_c")
    val compacted = Dedup.dedupIncrementalIndexed(spark, s"$tmp/full", "band_idx_straddle_c")
      .collect()
    assert(compacted.isEmpty,
      s"compaction must preserve the global cap: ${compacted.toSeq}")
  }

  test("probe join: the bucketed corpus side reads in place — exactly one Exchange (the batch's)") {
    Dedup.writeBandIndex(spark, sf, "band_idx_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the auto-bucketed-scan heuristic may drop bucketing on tiny
    // fixtures; a deployment probing a 100 TB index pins it on
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = Dedup.dedupIncrementalIndexed(spark, sf, "band_idx_plan")
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      // AQE renders the plan twice (Final + Initial) — assert on the
      // final plan only
      val plan = full.indexOf("== Initial Plan ==") match {
        case -1 => full
        case i => full.substring(0, i)
      }
      assert(plan.contains("Bucketed: true"), s"corpus scan must be bucketed: $plan")
      val exchanges = "Exchange hashpartitioning\\(bkey60".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"only the incoming batch may shuffle on the band key: $plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }
}
