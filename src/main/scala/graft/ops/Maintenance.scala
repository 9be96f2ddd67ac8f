package graft.ops

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators a long-lived 100 TB dataset needs
  * (the reference rebuilds its index from scratch each run,
  * `index.py:426-429`; a corpus at scale is maintained in place):
  * small-file compaction and stats-clustered rewrites.
  *
  * Incremental appends and per-partition writes accrete many small
  * files; scan throughput then dies on open/footer overhead and the
  * driver on listing. The fix is periodic rewrite into right-sized
  * files — file count derived from the dataset's REAL on-disk
  * bytes, never guessed. */
object Maintenance extends QueryModule {

  val DefaultTargetBytes: Long = 128L * 1024 * 1024

  /** Total on-disk bytes of a directory tree (driver-side listing —
    * metadata only, no data read). */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    fs.getContentSummary(path).getLength
  }

  /** SaveMode.Overwrite deletes the output dir before the lazy read
    * of the input ever runs — compacting in place would destroy the
    * data. Refuse identical (fully-qualified) in/out paths. */
  private def requireDistinctDirs(
      spark: SparkSession, inDir: String, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    require(qualified(inDir) != qualified(outDir),
      s"compaction output dir must differ from input dir: $inDir")
  }

  /** Recursive parquet data-file count of a directory tree —
    * metadata-only listing, the merge-policy primitive shared by the
    * index maintenance policies ([[graft.ops.GraphAnn.maintainGraphIndex]]
    * pattern). Fails loudly on a missing dir rather than returning 0
    * (a 0 would silently disable compaction forever). */
  def parquetFileCount(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L
    val it = fs.listFiles(path, /* recursive = */ true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** True when `dir` exists and carries a committed Spark write's
    * `_SUCCESS` marker — the layout is real, so ZERO data files means
    * a legitimately EMPTY dataset (zero-row write: bucketed and
    * partitioned writers emit no data files for no rows, only the
    * marker). The merge policies use this to distinguish "valid index
    * with nothing in it" (maintenance is a no-op, return false) from
    * "directory missing / layout changed" (require-fail loudly — a
    * silent 0 would disable compaction forever). */
  def isCommittedEmptyDir(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) &&
      fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
  }

  /** (data files, partition dirs) of a Hive-partitioned dataset whose
    * partition dirs start with `prefix=` — one listing per cell dir,
    * no data read. The per-cell merge-policy primitive for the
    * cell-partitioned indexes (IVF, IVF-PQ). */
  def partitionedFileStats(
      spark: SparkSession, dir: String, prefix: String): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    var cells = 0L
    fs.listStatus(path).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(s"$prefix=")) {
        cells += 1
        files += fs.listStatus(st.getPath)
          .count(f => f.getPath.getName.endsWith(".parquet"))
      }
    }
    (files, cells)
  }

  /** Byte-verbatim recursive copy of a sidecar directory (frozen
    * quantizer state rides generations UNCHANGED — a parse/serialize
    * round-trip could perturb float text representations; a file copy
    * cannot). */
  def copySidecar(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, dst.getFileSystem(conf), dst,
      /* deleteSource = */ false, /* overwrite = */ true, conf)
    require(ok, s"sidecar copy $from -> $to failed")
  }

  // ---- generation retention ----
  //
  // Every compact*/maintain* policy swaps to a FRESH generation by
  // pointer (the old one stays queryable until the swap — illegal to
  // overwrite an input mid-read), but nothing ever deleted superseded
  // generations: a continuous-ingest deployment leaks one full index
  // copy per compaction without a retention primitive.

  /** Delete superseded index-generation DIRECTORIES, keeping the
    * newest `keep` (≥ 1). `generations` is the caller's pointer
    * history ordered oldest → newest; its LAST entry must be the
    * live pointer `live` (both checks fail loudly — deleting the
    * generation queries are reading is the one unrecoverable
    * mistake, so it is structurally unreachable here: live is always
    * inside the kept suffix). Missing directories fail loudly too
    * (a wrong history silently "succeeding" would hide a pointer
    * bug). Returns the deleted directories. Works for every
    * directory-backed index family (graph, IVF, PQ, IVF-PQ, SQ/SQ4 —
    * all generations are plain dir trees); the band index lives in
    * the catalog, see [[vacuumGenerationTables]]. */
  def vacuumGenerations(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int = 1): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    require(generations.nonEmpty, "generation history is empty")
    require(qual(generations.last) == qual(live),
      s"live pointer $live must be the NEWEST generation " +
        s"(history ends at ${generations.last}) — refusing to vacuum")
    val victims = dirGenerationVictims(spark, generations, live, keep)
    require(!victims.map(qual).contains(qual(live)),
      s"refusing to delete the live generation $live")
    // validate EVERY victim exists before deleting ANY: a missing
    // victim discovered mid-loop would leave earlier victims already
    // deleted, and every re-run with the same history would then fail
    // permanently on them
    victims.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      require(p.getFileSystem(conf).exists(p),
        s"generation $d not found — stale or wrong history, refusing to vacuum")
    }
    victims.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      require(fs.delete(p, /* recursive = */ true), s"failed to delete generation $d")
    }
    victims
  }

  /** The DIRECTORY-vacuum victim selection, shared VERBATIM by
    * [[vacuumGenerations]] (which then validates and deletes) and
    * [[dirGenerationInventory]]'s `would_vacuum` column (which only
    * reports) — the table-form convention ([[generationVictims]])
    * under the directory rule: identity is the QUALIFIED path, the
    * whole kept suffix shields duplicate history entries, and a
    * history whose last entry is not the live pointer yields an
    * EMPTY victim set (the vacuum aborts at its entry guard, so it
    * drops nothing). */
  private def dirGenerationVictims(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int): Vector[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    if (generations.isEmpty || qual(generations.last) != qual(live))
      return Vector.empty
    // exclude the ENTIRE kept suffix (qualified), not just the live
    // pointer: a history with a duplicate entry of a kept generation
    // earlier in the list must not delete the directory the kept
    // suffix still references
    val keptQ = generations.takeRight(keep).map(qual).toSet
    // dedup by QUALIFIED path, not raw string: two spellings of one
    // directory ("file:/data/g0" vs "/data/g0") would both pass the
    // existence pre-check and then wedge on the second delete —
    // exactly the partial-delete failure the two-pass guard prevents
    generations.dropRight(keep)
      .filter(d => !keptQ.contains(qual(d)))
      .foldLeft((Vector.empty[String], Set.empty[org.apache.hadoop.fs.Path])) {
        case ((out, seen), d) =>
          val q = qual(d)
          if (seen.contains(q)) (out, seen) else (out :+ d, seen + q)
      }._1
  }

  /** The table-vacuum victim selection, shared VERBATIM by
    * [[vacuumGenerationTables]] (which then validates and drops) and
    * [[indexGenerationInventory]]'s `would_vacuum` column (which
    * only reports) — one derivation, so the plan a review reads is
    * definitionally what the vacuum would do. That includes the
    * vacuum's ENTRY guard: a history whose last entry is not the
    * live pointer makes the vacuum abort before dropping anything,
    * so the victim set of such a history is EMPTY (the report must
    * never mark the live generation — or anything else — as a
    * victim of a vacuum that would refuse to run). Folding follows
    * the session's identifier case semantics (the vacuum rule). */
  private def generationVictims(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int): Vector[String] = {
    if (generations.isEmpty || generations.last != live) return Vector.empty
    val fold: String => String =
      if (spark.sessionState.conf.caseSensitiveAnalysis) identity else _.toLowerCase
    val kept = generations.takeRight(keep).map(fold).toSet
    generations.dropRight(keep)
      .filterNot(t => kept.contains(fold(t)))
      .foldLeft((Vector.empty[String], Set.empty[String])) {
        case ((out, seen), t) =>
          val k = fold(t)
          if (seen.contains(k)) (out, seen) else (out :+ t, seen + k)
      }._1
  }

  /** [[vacuumGenerations]] for CATALOG-TABLE generations (the band
    * index family): drops each superseded table AND its `_counts`
    * sidecar table when present. Same live-pointer and existence
    * guards. Returns the dropped table names. */
  def vacuumGenerationTables(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int = 1): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(generations.nonEmpty, "generation history is empty")
    require(generations.last == live,
      s"live pointer $live must be the NEWEST generation " +
        s"(history ends at ${generations.last}) — refusing to vacuum")
    // same two guards as the directory form: exclude the whole kept
    // suffix (duplicate history entries), validate all victims exist
    // BEFORE dropping any (no partial-drop wedge on re-run)
    // Case folding follows the SESSION's identifier semantics: with
    // the default case-insensitive analysis, `Idx_G2` and `idx_g2`
    // are one table, so compare folded (a case-variant duplicate
    // neither survives as a second victim nor dodges the kept-suffix
    // shield); under spark.sql.caseSensitive=true they are two
    // genuinely distinct tables and folding would silently collapse
    // a real victim into its case-twin — compare verbatim instead
    val victims = generationVictims(spark, generations, live, keep)
    require(!victims.contains(live), s"refusing to drop the live generation $live")
    victims.foreach { tbl =>
      require(spark.catalog.tableExists(tbl),
        s"generation table $tbl not found — stale or wrong history, refusing to vacuum")
    }
    victims.foreach { tbl =>
      spark.sql(s"DROP TABLE $tbl")
      if (spark.catalog.tableExists(tbl + "_counts"))
        spark.sql(s"DROP TABLE ${tbl}_counts")
    }
    victims
  }

  /** Compact a parquet dataset into ~targetBytes files: reads the
    * actual byte size, computes the output file count, and rewrites
    * with a round-robin repartition (even file sizes regardless of
    * input skew). Returns the output file count used. */
  def compactParquet(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long = DefaultTargetBytes): Int = {
    requireDistinctDirs(spark, inDir, outDir)
    val n = math.max(1L, (dirBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  /** Compact AND cluster: range-partition on `sortCols` and sort
    * within each output file, so parquet row-group min/max stats
    * make later filters on those columns skip whole files/groups
    * (poor-man's data clustering — the single biggest scan lever
    * after partition pruning). */
  def compactSorted(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      sortCols: Seq[String],
      targetBytes: Long = DefaultTargetBytes): Int = {
    requireDistinctDirs(spark, inDir, outDir)
    val n = math.max(1L, (dirBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    val cols = sortCols.map(col)
    spark.read.parquet(inDir)
      .repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  // ---- Z-order (Morton) clustering ----
  //
  // Linear sort clusters ONE column; multi-predicate scans need
  // locality on several. The Z-order curve interleaves the bits of
  // two bucketed dimensions so rows close on the curve are close in
  // BOTH — after a range-partition + sort on the key, parquet
  // min/max stats skip files for filters on either column (the
  // Delta/Iceberg OPTIMIZE ZORDER pattern, re-expressed as plain
  // Spark bit arithmetic inside whole-stage codegen).

  val ZBits = 8

  /** Bucket a non-negative value into [0, 2^ZBits) with a fixed
    * width — layout-stable (no rank windows), so incremental appends
    * land in the same curve region as the existing data. */
  def zBucket(c: org.apache.spark.sql.Column, width: Int): org.apache.spark.sql.Column =
    // floor-of-double division in BOTH engines: Spark's long/int `/`
    // and DuckDB's `/` are double division, but their double→int
    // CASTs disagree (truncate vs round) — floor() first makes the
    // conversion exact and identical for these small non-negatives
    least(lit(((1 << ZBits) - 1).toLong),
      floor(c.cast("double") / lit(width)).cast("long"))

  /** Interleave two [[ZBits]]-bit buckets: bit i of `a` lands at
    * 2i+1, bit i of `b` at 2i — the textbook Morton spread, written
    * as a sum of shift/mask terms (identical expression tree in the
    * oracle SQL). */
  def zInterleave(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** Rewrite a parquet dataset clustered on the Z-order curve of two
    * numeric dimensions: range-partition on the Morton key, sort
    * within partitions, drop the key. File count from real bytes,
    * as [[compactSorted]]. */
  def zorderWrite(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      colA: String, widthA: Int,
      colB: String, widthB: Int,
      targetBytes: Long = DefaultTargetBytes): Int = {
    requireDistinctDirs(spark, inDir, outDir)
    val n = math.max(1L, (dirBytes(spark, inDir) + targetBytes - 1) / targetBytes).toInt
    val keyed = spark.read.parquet(inDir)
      .withColumn("__zkey", zInterleave(zBucket(col(colA), widthA), zBucket(col(colB), widthB)))
    keyed
      .repartitionByRange(n, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    n
  }

  /** Fixture widths for the `documents` Z-order demo: n_chars
    * bucketed by 32 chars, doc_id by 4 — two independent dimensions
    * a log-corpus scan actually filters on (size band + id range). */
  val ZWidthChars = 32
  val ZWidthId = 4

  /** The Morton keys themselves, oracle-checkable end-to-end (pure
    * integer arithmetic): doc_id → zkey, curve-ordered. */
  def zorderKey(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.t(s, dir, "documents")
    d.select(col("doc_id"),
        zInterleave(
          zBucket(col("n_chars"), ZWidthChars),
          zBucket(col("doc_id"), ZWidthId)).as("zkey"))
      .orderBy(col("zkey"), col("doc_id"))
  }

  val zorderKeySql: String = {
    val max = (1 << ZBits) - 1
    def bucket(c: String, w: Int) =
      s"least($max, CAST(floor(CAST($c AS DOUBLE) / $w) AS BIGINT))"
    val a = bucket("n_chars", ZWidthChars)
    val b = bucket("doc_id", ZWidthId)
    val terms = (0 until ZBits).map { i =>
      s"(((za >> $i) & 1) << ${2 * i + 1}) + (((zb >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($terms AS BIGINT) AS zkey
       |FROM (SELECT doc_id, $a AS za, $b AS zb FROM documents)
       |ORDER BY zkey, doc_id""".stripMargin
  }

  /** Hilbert xy→d (the classic per-level reflect-and-swap walk, high
    * bit down): better neighbor locality than the Morton curve —
    * Z-order takes long diagonal jumps between quadrant boundaries
    * where Hilbert moves one cell at a time, so range scans over a
    * Hilbert-clustered layout touch fewer files for the same 2-D
    * predicate box. Two's-complement `&` semantics are identical in
    * the JVM and DuckDB (reflection can briefly drive a coordinate
    * negative; the masks only ever test a positive power-of-two bit),
    * so the unrolled oracle is bit-exact. Bijection + unit-adjacency
    * pinned by MaintenanceSpec over the full order-3 grid THROUGH the
    * engine. */
  private[graft] def hilbertD(order: Int)(x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var k = order - 1
    while (k >= 0) {
      val s = 1L << k
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          x = s - 1L - x
          y = s - 1L - y
        }
        val t = x; x = y; y = t
      }
      k -= 1
    }
    d
  }

  private val hilbertUdf = org.apache.spark.sql.functions.udf(hilbertD(ZBits) _)

  /** The Hilbert keys over the same two fixture dimensions as
    * [[zorderKey]] — curve-ordered, so the two layouts compare
    * directly. Engine = one integer UDF per row (the per-level
    * column-expression form triples each coordinate reference per
    * level — a 3^8 logical tree once CollapseProject inlines the
    * chain); oracle = the same walk unrolled one subquery per level,
    * which DuckDB evaluates linearly. */
  def hilbertKey(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.t(s, dir, "documents")
    d.select(col("doc_id"),
        hilbertUdf(
          zBucket(col("n_chars"), ZWidthChars),
          zBucket(col("doc_id"), ZWidthId)).as("hkey"))
      .orderBy(col("hkey"), col("doc_id"))
  }

  val hilbertKeySql: String = {
    val max = (1 << ZBits) - 1
    def bucket(c: String, w: Int) =
      s"least($max, CAST(floor(CAST($c AS DOUBLE) / $w) AS BIGINT))"
    // one subquery per level, high bit down: (x, y, d) -> (x', y', d')
    val levels = (ZBits - 1 to 0 by -1).map { k =>
      val s = 1L << k
      s"""SELECT doc_id,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END
         |  ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN
         |    CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END
         |  ELSE y END AS y,
         |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |        CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d""".stripMargin
    }
    val base =
      s"""SELECT doc_id, ${bucket("n_chars", ZWidthChars)} AS x,
         |  ${bucket("doc_id", ZWidthId)} AS y, CAST(0 AS BIGINT) AS d
         |FROM documents""".stripMargin
    val chain = levels.foldLeft(base)((inner, lvl) => s"$lvl\nFROM (\n$inner\n)")
    s"""SELECT doc_id, CAST(d AS BIGINT) AS hkey
       |FROM (
       |$chain
       |)
       |ORDER BY hkey, doc_id""".stripMargin
  }

  // ---- persisted-index inventory / format audit ----
  //
  // A deployment carrying standing dedup indexes (substring window,
  // maximal atom-window, MinHash band — the nightly artifacts the
  // incremental scrubs probe) needs ONE operations surface that answers
  // "what indexes exist, at what format generation, and do their
  // stored key spaces still agree with the corpus derivation?". The
  // inventory reads each family's CATALOG truth (stamped
  // `graft.index.format` property, bucket spec) and its STORED
  // counts; the DuckDB oracle re-derives every count from the corpus
  // through the same CrossHash bridges the family oracles use — so a
  // drifted stamp, a lost bucket layout, or a hash-space change that
  // forgot the version bump all surface as a hash mismatch here, not
  // as a quiet probe miss months later.

  /** Session memo of the three corpus-half index tables built by
    * [[ensureOpsIndexes]], keyed by fixture fingerprint (the
    * [[Dedup.ensureMaximalIndex]] convention). */
  private val invIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()
  private[graft] def clearInvIdxCache(): Unit = invIdxCache.clear()

  /** Build-once-audit-many: the corpus-half (doc_id % 10 ≠ 0,
    * the arrival convention every incremental scrub shares)
    * substring, maximal, and band indexes materialize lazily once per
    * session + fixture fingerprint. In production these are
    * the standing tables the nightly append/compact/vacuum cycle
    * maintains; the bench times the three builds as
    * `index_inventory`'s cold cost (the fitter convention). */
  private[graft] def ensureOpsIndexes(
      s: SparkSession, dir: String): (String, String, String) = {
    val key = OpsShared.dirKey(dir, "documents")
    invIdxCache.computeIfAbsent(key, _ => {
      val sfx = OpsShared.tableSuffix(key)
      val sub = "graft_inv_sub_" + sfx
      val mx = "graft_inv_mx_" + sfx
      val bd = "graft_inv_band_" + sfx
      // the three builds are INDEPENDENT jobs on disjoint tables —
      // submit them from driver threads so each build's scan/shuffle
      // tail back-fills the others' idle executors (guide §2.6
      // overlap-independent-jobs; actions are only sequential when
      // the driver calls them sequentially). Failures propagate: any
      // build error rethrows here and the memo entry is not written.
      val builds = Seq[Runnable](
        () => Dedup.writeSubstrIndex(s, dir, sub),
        () => Dedup.writeMaximalIndex(s, dir, mx),
        () => Dedup.writeBandIndex(s, dir, bd))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
      try {
        import scala.jdk.CollectionConverters._
        val futures = builds.map(pool.submit(_))
        futures.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
      (sub, mx, bd)
    })
  }

  private def tableMeta(s: SparkSession, table: String) =
    s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table))

  /** Inventory over ANY three persisted index tables (relation-table
    * form, the round's parameterization convention): one row per
    * family with the catalog's stamped format version and bucket
    * count plus stored-entry/distinct-key counts. `n_entries >
    * n_keys` is the compaction-debt signal (appended segments
    * re-insert hashes; a fresh generation stores each key once);
    * the band `_counts` sidecar row count rides along as
    * `n_sidecar` (≥ its table's distinct 60-bit keys — a 60-bit
    * collision merges key rows but never sidecar rows). Reads only
    * index tables and catalog metadata — never the corpus. */
  def indexInventoryOf(
      s: SparkSession,
      substrTable: String, maximalTable: String, bandTable: String)
      : org.apache.spark.sql.DataFrame = {
    def fmt(tbl: String): Int =
      tableMeta(s, tbl).properties.get("graft.index.format")
        .map(_.toInt).getOrElse(-1)
    def buckets(tbl: String): Int =
      tableMeta(s, tbl).bucketSpec.map(_.numBuckets).getOrElse(-1)
    def hashFamily(family: String, tbl: String) =
      s.table(tbl).agg(
          count(lit(1)).as("n_entries"),
          countDistinct(col("h")).as("n_keys"))
        .select(lit(family).as("family"),
          lit(fmt(tbl)).as("format"),
          lit(buckets(tbl)).as("n_buckets"),
          col("n_entries"), col("n_keys"),
          lit(null).cast("long").as("n_sidecar"))
    // a band generation written before the sidecar contract has no
    // `_counts` table — the audit REPORTS it (NULL sidecar, the same
    // pre-contract signal the probe's fallback keys on) instead of
    // crashing on the very generation an inventory exists to find
    val sidecar: org.apache.spark.sql.DataFrame =
      if (s.catalog.tableExists(bandTable + "_counts"))
        s.table(bandTable + "_counts").agg(count(lit(1)).as("n_sidecar"))
      else s.range(1).select(lit(null).cast("long").as("n_sidecar"))
    val bandRow = s.table(bandTable).agg(
        count(lit(1)).as("n_entries"),
        countDistinct(col("bkey60")).as("n_keys"))
      // 1-row × 1-row scalar join (the broadcast-scalar convention)
      .crossJoin(sidecar)
      .select(lit("band").as("family"),
        lit(fmt(bandTable)).as("format"),
        lit(buckets(bandTable)).as("n_buckets"),
        col("n_entries"), col("n_keys"), col("n_sidecar"))
    bandRow
      .unionByName(hashFamily("maximal", maximalTable))
      .unionByName(hashFamily("substr", substrTable))
      .orderBy(col("family"))
  }

  /** Per-generation audit of a TABLE-backed index family's pointer
    * history — what [[vacuumGenerationTables]] acts on, surfaced as
    * a relation BEFORE anything is dropped: which generations still
    * exist, which is live (the session's identifier case semantics,
    * the vacuum rule), each one's stamped format / bucket layout /
    * on-disk footprint, and whether the `_counts` sidecar contract
    * holds. A retired generation reports `table_exists = false` with
    * NULL metrics rather than erroring — the history is the CALLER's
    * pointer log, and auditing it after a vacuum is the point.
    * `would_vacuum` is the shared [[generationVictims]] derivation,
    * so it is definitionally what [[vacuumGenerationTables]] under
    * the same `keep` would drop — including the abort case: a
    * history whose last entry is not the live pointer plans ZERO
    * victims (the vacuum refuses at its entry guard), and a
    * `would_vacuum` row with `table_exists = false` means the vacuum
    * would refuse on stale history. Driver-side catalog + FS
    * metadata only; never reads data. */
  def indexGenerationInventory(
      spark: SparkSession, generations: Seq[String], live: String,
      keep: Int = 1): org.apache.spark.sql.DataFrame = {
    require(generations.nonEmpty, "generation history is empty")
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val fold: String => String =
      if (spark.sessionState.conf.caseSensitiveAnalysis) identity else _.toLowerCase
    // the REPORTED retention plan: exactly the vacuum's own victim
    // derivation under the caller's keep policy (shared helper), so
    // `would_vacuum` rows are what vacuumGenerationTables(…, keep)
    // would drop — the audit a retention decision reads BEFORE
    // anything is deleted
    val victims = generationVictims(spark, generations, live, keep)
      .map(fold).toSet
    import spark.implicits._
    generations.zipWithIndex.map { case (tbl, i) =>
      val wouldVacuum = victims.contains(fold(tbl))
      if (!spark.catalog.tableExists(tbl))
        (i.toLong, tbl, fold(tbl) == fold(live), wouldVacuum, false,
          Option.empty[Int], Option.empty[Int],
          Option.empty[Long], Option.empty[Long], Option.empty[Boolean])
      else {
        val meta = tableMeta(spark, tbl)
        val loc = meta.location.toString
        (i.toLong, tbl, fold(tbl) == fold(live), wouldVacuum, true,
          Some(meta.properties.get("graft.index.format")
            .map(_.toInt).getOrElse(-1)),
          Some(meta.bucketSpec.map(_.numBuckets).getOrElse(-1)),
          Some(parquetFileCount(spark, loc)),
          Some(dirBytes(spark, loc)),
          Some(spark.catalog.tableExists(tbl + "_counts")))
      }
    }.toDF("gen_idx", "table", "is_live", "would_vacuum", "table_exists",
      "format", "n_buckets", "n_files", "bytes", "has_sidecar")
  }

  /** The directory-backed twin ([[vacuumGenerations]]'s families:
    * graph, IVF, PQ, IVF-PQ, SQ/SQ4): per generation directory —
    * liveness by QUALIFIED path (the vacuum rule), the retention
    * plan (`would_vacuum` = exactly [[vacuumGenerations]]' victim
    * selection under the caller's `keep`, via the shared
    * [[dirGenerationVictims]] derivation — empty when the vacuum's
    * entry guard would abort), existence, the committed `_SUCCESS`
    * marker, file count and bytes. A `would_vacuum` row whose
    * directory is MISSING means the executed vacuum would refuse on
    * stale history (its all-victims-exist pre-check) — the audit
    * reports both facts and lets the operator fix the pointer log. */
  def dirGenerationInventory(
      spark: SparkSession, generations: Seq[String], live: String,
      keep: Int = 1): org.apache.spark.sql.DataFrame = {
    require(generations.nonEmpty, "generation history is empty")
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val conf = spark.sparkContext.hadoopConfiguration
    def qual(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p)
    }
    val liveQ = qual(live)
    val victims = dirGenerationVictims(spark, generations, live, keep)
      .map(qual).toSet
    import spark.implicits._
    generations.zipWithIndex.map { case (dir, i) =>
      val p = qual(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p))
        (i.toLong, dir, p == liveQ, victims.contains(p), false,
          Option.empty[Boolean], Option.empty[Long], Option.empty[Long])
      else
        (i.toLong, dir, p == liveQ, victims.contains(p), true,
          Some(fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))),
          Some(parquetFileCount(spark, dir)),
          Some(dirBytes(spark, dir)))
    }.toDF("gen_idx", "path", "is_live", "would_vacuum", "dir_exists",
      "committed", "n_files", "bytes")
  }

  /** The registered fixture form: inventory over the session's
    * standing corpus-half indexes ([[ensureOpsIndexes]]). */
  def indexInventory(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (sub, mx, bd) = ensureOpsIndexes(s, dir)
    indexInventoryOf(s, sub, mx, bd)
  }

  /** Oracle mirror: every count re-derived from the corpus half.
    * substr entries = DISTINCT 15-word window hashes; maximal
    * entries = DISTINCT 8-word atom hashes (one first-occurrence row
    * per hash in a fresh generation); band entries = band rows of
    * docs with ≥ 1 shingle, keys = DISTINCT 60-bit (band:slice)
    * hashes, sidecar = DISTINCT true (band, slice) pairs. Format and
    * bucket constants interpolate from the SAME vals the writers
    * stamp — the oracle pins what the catalog SHOULD say, the engine
    * reports what it DOES say. */
  lazy val indexInventorySql: String = {
    val L = Dedup.ExactSubstrWords
    val A = Dedup.MaximalAtomWords
    val hWin15 = graft.functions.CrossHash.sqlHash60(
      s"array_to_string(w[i + 1 : i + $L], ' ')")
    val hWin8 = graft.functions.CrossHash.sqlHash60(
      s"array_to_string(w[i + 1 : i + $A], ' ')")
    val k60 = graft.functions.CrossHash.sqlHash60(
      "CAST(b AS VARCHAR) || ':' || " +
        "array_to_string(list_transform(bkey, x -> CAST(x AS VARCHAR)), ',')")
    s"""WITH inv_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE doc_id % 10 <> 0),
       |inv_s15 AS (
       |  SELECT DISTINCT $hWin15 AS h
       |  FROM inv_w, UNNEST(range(0, len(w) - ${L - 1})) AS t(i)
       |  WHERE len(w) >= $L),
       |inv_s8 AS (
       |  SELECT DISTINCT $hWin8 AS h
       |  FROM inv_w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |inv_sh AS (
       |  SELECT DISTINCT doc_id, ${Dedup.shingleSql} AS shingle
       |  FROM inv_w, UNNEST(range(0, len(w) - ${Dedup.ShingleK - 1})) AS u(i)
       |  WHERE len(w) >= ${Dedup.ShingleK}),
       |inv_coef AS (
       |  SELECT j,
       |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${Dedup.MinhashP - 1} + 1 AS a,
       |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % ${Dedup.MinhashP} AS b
       |  FROM UNNEST(range(0, ${Dedup.NumHashes})) AS t(j)),
       |inv_hh AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % ${Dedup.MinhashP} AS h
       |  FROM inv_sh),
       |inv_sig AS (
       |  SELECT doc_id, j, MIN((a * h + b) % ${Dedup.MinhashP}) AS v
       |  FROM inv_hh CROSS JOIN inv_coef
       |  GROUP BY doc_id, j),
       |inv_sigl AS (
       |  SELECT doc_id, list(v ORDER BY j) AS sig FROM inv_sig GROUP BY doc_id),
       |inv_band AS MATERIALIZED (
       |  SELECT doc_id, b,
       |    sig[b*${Dedup.RowsPerBand}+1 : b*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}] AS bkey
       |  FROM inv_sigl, UNNEST(range(0, ${Dedup.Bands})) AS t(b))
       |SELECT * FROM (
       |  SELECT 'band' AS family,
       |    CAST(${Dedup.IndexFormatVersion} AS INTEGER) AS format,
       |    CAST(${Dedup.BandIndexBuckets} AS INTEGER) AS n_buckets,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM inv_band) AS n_entries,
       |    (SELECT CAST(COUNT(DISTINCT $k60) AS BIGINT) FROM inv_band) AS n_keys,
       |    (SELECT CAST(COUNT(*) AS BIGINT)
       |     FROM (SELECT DISTINCT b, bkey FROM inv_band)) AS n_sidecar
       |  UNION ALL
       |  SELECT 'maximal', ${Dedup.IndexFormatVersion}, ${Dedup.BandIndexBuckets},
       |    (SELECT COUNT(*) FROM inv_s8), (SELECT COUNT(*) FROM inv_s8),
       |    CAST(NULL AS BIGINT)
       |  UNION ALL
       |  SELECT 'substr', ${Dedup.IndexFormatVersion}, ${Dedup.BandIndexBuckets},
       |    (SELECT COUNT(*) FROM inv_s15), (SELECT COUNT(*) FROM inv_s15),
       |    CAST(NULL AS BIGINT))
       |ORDER BY family""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "zorder_key" -> (zorderKey _),
    "hilbert_key" -> (hilbertKey _),
    "index_inventory" -> (indexInventory _))

  val oracles: Map[String, String] = Map(
    "zorder_key" -> zorderKeySql,
    "hilbert_key" -> hilbertKeySql,
    "index_inventory" -> indexInventorySql)
}
