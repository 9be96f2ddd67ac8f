package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader (TESTDATA.md). Plain parquet reads so
  * Catalyst retains full predicate pushdown and column pruning —
  * both push THROUGH the adaptive re-split below (verified in the
  * committed plans: ReadSchema stays pruned, PushedFilters reach the
  * scan under the RoundRobinPartitioning exchange). */
object Tables {

  /** Ceiling (bytes) under which [[t]] re-splits an under-parallel
    * input. Env-overridable; 256 MB default — a table this small
    * shuffles in one stage for near-zero cost, and at production
    * corpus sizes every real table is orders of magnitude past it,
    * so the rule no-ops exactly where a full-input shuffle would be
    * wrong (guide §2.5: repartitioning after the read is the remedy
    * for unsplittable-input skew, not a standing production step). */
  private[graft] def resplitMaxBytes(env: Map[String, String] = sys.env): Long =
    env.get("SPARK_GRAFT_RESPLIT_MAX_BYTES").fold(256L << 20)(v => v.trim.toLongOption.filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_RESPLIT_MAX_BYTES must be a non-negative byte count, got '$v'")))

  /** Minimum rows per re-split slice — below parallelism × this, the
    * table is a lookup relation (nation/region/the query vector) and
    * an extra exchange buys nothing. */
  private val MinRowsPerSlice = 32L

  /** (bytes, rows, rowGroups) of a local parquet file or directory,
    * memoized by [[OpsShared.fingerprintKey]] (so an overwritten
    * fixture re-derives). */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Int)]()

  private def parquetMeta(spark: SparkSession, path: String): Option[(Long, Long, Int)] = {
    val root = new java.io.File(path)
    if (!root.exists()) return None // non-local FS: rule off, plain read
    val files =
      if (root.isFile) Array(root)
      else Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    try Some(metaCache.computeIfAbsent(OpsShared.fingerprintKey(path, files.toSeq), _ => {
      val conf = spark.sessionState.newHadoopConf()
      var rows = 0L; var rgs = 0
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try { rows += r.getRecordCount; rgs += r.getRowGroups.size() }
        finally r.close()
      }
      (files.map(_.length).sum, rows, rgs)
    }))
    catch { case _: Exception => None } // unreadable footer: plain read
  }

  /** Read a fixture table. With `resplit = true`, re-split when the
    * footer proves the scan CANNOT parallelize: parquet is splittable
    * only at row-group boundaries, and the deterministic fixtures
    * ship each table as ONE row group — so every downstream map pass
    * (shingle/MinHash UDFs, quality regexes, vector math) runs on one
    * core of N no matter what `maxPartitionBytes`/`minPartitionNum`
    * say. When row-groups < defaultParallelism AND the table is small
    * enough that one shuffle is free AND it is not a lookup relation,
    * one deterministic round-robin re-split (sort-before-repartition
    * on, so retries replay the same placement) restores full
    * parallelism (guide §2.5 input skew; §6 input split size).
    *
    * `resplit` is an OPT-IN per call site, not a global default: the
    * full-registry A/B (OPTIMIZATION_r16.md) measured the blanket rule
    * a net LOSS — the extra exchange adds one AQE stage of fixed
    * scheduling latency per job that touches the table, which only
    * pays for itself where the single-threaded pass above it is
    * compute-heavy (UDF shingling, quality regex batteries, EM folds,
    * per-element vector math). Call sites that feed such passes set
    * it; plain relational/sketch consumers keep the bare scan.
    *
    * Scale behavior: a production table exceeds [[resplitMaxBytes]]
    * or carries row-groups ≫ cores, so the branch self-disables —
    * the rule is input-size-derived, not a local-mode constant. A
    * bonus under exchange reuse: diamond plans that referenced the
    * scan N times now reuse ONE re-split exchange instead of
    * re-reading (and re-decoding) the parquet per branch. */
  def t(spark: SparkSession, sfDir: String, name: String,
        resplit: Boolean = false): DataFrame = {
    val path = s"${sfDir.stripSuffix("/")}/$name.parquet"
    val df = spark.read.parquet(path)
    val par = spark.sparkContext.defaultParallelism
    if (!resplit) return df
    parquetMeta(spark, path) match {
      case Some((bytes, rows, rowGroups))
        if rowGroups > 0 && rowGroups < par &&
          bytes <= resplitMaxBytes() && rows >= par * MinRowsPerSlice =>
        df.repartition(par)
      case _ => df
    }
  }
}
