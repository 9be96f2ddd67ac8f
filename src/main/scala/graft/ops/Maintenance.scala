package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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

  /** A path as the filesystem names it (scheme and authority filled
    * in), so two spellings of one directory compare equal. */
  private def qualified(spark: SparkSession, d: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** SaveMode.Overwrite deletes the output dir before the lazy read
    * of the input ever runs — compacting in place would destroy the
    * data. Refuse identical (fully-qualified) in/out paths. */
  private def requireDistinctDirs(
      spark: SparkSession, inDir: String, outDir: String): Unit =
    require(qualified(spark, inDir) != qualified(spark, outDir),
      s"compaction output dir must differ from input dir: $inDir")

  /** (parquet data files, partition dirs named `<unit>=…` that hold
    * them) under `dir` — ONE recursive, metadata-only listing, no data
    * read; with no `unit` the second count is 0. Fails loudly on a
    * missing dir rather than returning 0 (a 0 would silently disable
    * compaction forever). */
  def fileStats(spark: SparkSession, dir: String, unit: Option[String] = None): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    val units = scala.collection.mutable.Set.empty[String]
    val it = fs.listFiles(path, /* recursive = */ true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        files += 1
        if (unit.exists(u => f.getParent.getName.startsWith(s"$u="))) units += f.getParent.toString
      }
    }
    (files, units.size.toLong)
  }

  /** The one merge policy of every persisted index family: the append
    * paths grow files without bound, THIS decides when to fold them
    * (the Lucene `MergePolicy` analog). One [[fileStats]] listing of
    * `dir`; each family brings its own measure `over(files, units)`:
    * flat layouts (PQ, SQ) `files > maxFiles`, cell layouts (IVF,
    * IVF-PQ) `files > maxFilesPerCell × cells`, bucketed tables
    * (substring, band) `files > maxFilesPerBucket × buckets`, the
    * graph `shard dirs > maxSegments`. Past it, `compact` writes a
    * fresh generation and the policy returns true — the caller swaps
    * its live pointer and retires the old generation once in-flight
    * queries drain ([[vacuumGenerations]]). The swap is BY POINTER,
    * never in place: overwriting an input mid-read is illegal, and at
    * 100 TB the old generation must stay queryable until the new one
    * is complete.
    *
    * An index with no units (no `unit=` dirs, or no files for a flat
    * layout) is a no-op only when `dir` carries a committed write's
    * `_SUCCESS` marker: a zero-row write emits the marker and no data
    * files (partitioned and bucketed writers emit no files at all), so
    * that is a legitimately EMPTY index. Without the marker the layout
    * is missing or changed, and the policy fails loudly. */
  private[ops] def mergePolicy(
      spark: SparkSession, family: String, dir: String, unit: Option[String] = None)(
      over: (Long, Long) => Boolean)(compact: => Unit): Boolean = {
    val (files, units) = fileStats(spark, dir, unit)
    if ((if (unit.isDefined) units else files) == 0) {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")),
        s"$family index $dir lists no ${unit.fold("parquet data files")(u => s"$u= dirs")} " +
          "and no _SUCCESS marker — layout changed? refusing to silently skip compaction")
      false
    } else if (over(files, units)) { compact; true }
    else false
  }

  /** The append write of the IVF, PQ, IVF-PQ and SQ indexes: `rows` land
    * as new files under `dir` (inside their `cluster=N/` dirs when
    * `cells`), existing files are never read or rewritten.
    *
    * `dedupeExisting = false`: caller contract is that batch vec_ids
    * are new — an at-least-once replay duplicates rows.
    * `dedupeExisting = true`: anti-join the batch against the existing
    * index's vec_id column first, making the append idempotent at the
    * row level (a replayed or partially-applied batch converges
    * instead of duplicating). A flat layout pays one slim vec_id scan;
    * a cell layout prunes it to the batch's own cells (a replayed
    * row's prior copy lives in the same cell under frozen centroids,
    * and `cluster IN` resolves at listing time). */
  private[ops] def appendIndexRows(
      spark: SparkSession, dir: String, rows: DataFrame,
      dedupeExisting: Boolean, cells: Boolean = false): Unit = {
    val out =
      if (!dedupeExisting) rows
      else {
        val existing = spark.read.parquet(dir)
        val scoped =
          if (!cells) existing
          else existing.filter(col("cluster").isin(
            rows.select(col("cluster")).distinct().collect().map(_.getInt(0)).toSeq: _*)) // ≤ K cells
        rows.join(scoped.select(col("vec_id")), Seq("vec_id"), "left_anti")
      }
    val w = out.write.mode(SaveMode.Append)
    (if (cells) w.partitionBy("cluster") else w).parquet(dir)
  }

  /** Fold a cell-partitioned layout (IVF vectors, IVF-PQ codes) into
    * `outDir` with one file per `cluster=N/` cell. */
  private[ops] def compactCells(spark: SparkSession, inDir: String, outDir: String): Unit =
    spark.read.parquet(inDir)
      .repartition(col("cluster"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cluster").parquet(outDir)

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

  /** How one storage form names and removes a generation: `id` is
    * what two history entries share when they are the same generation,
    * `exists` and `delete` are what the vacuum checks and runs. */
  private final case class Generations(
      id: String => Any, exists: String => Boolean, delete: String => Unit)

  /** Directory generations (graph, IVF, PQ, IVF-PQ, SQ/SQ4 — all plain
    * dir trees): identity is the QUALIFIED path, so two spellings of
    * one directory ("file:/data/g0" vs "/data/g0") are one generation
    * and never a second delete of an already-gone path. */
  private def dirGenerations(spark: SparkSession) = Generations(
    d => qualified(spark, d),
    d => { val p = qualified(spark, d); p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p) },
    d => {
      val p = qualified(spark, d)
      require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, /* recursive = */ true),
        s"failed to delete generation $d")
    })

  /** Catalog-table generations (the band index family): identity
    * follows the SESSION's identifier semantics — with the default
    * case-insensitive analysis `Idx_G2` and `idx_g2` are one table
    * (a case-variant duplicate neither survives as a second victim
    * nor dodges the kept-suffix shield); under
    * spark.sql.caseSensitive=true they are two distinct tables and
    * folding would collapse a real victim into its case-twin. A drop
    * takes the `_counts` sidecar table with it when present. */
  private def tableGenerations(spark: SparkSession) = Generations(
    t => if (spark.sessionState.conf.caseSensitiveAnalysis) t else t.toLowerCase,
    spark.catalog.tableExists,
    t => {
      spark.sql(s"DROP TABLE $t")
      if (spark.catalog.tableExists(t + "_counts")) spark.sql(s"DROP TABLE ${t}_counts")
    })

  /** The victim selection, shared VERBATIM by the vacuum (which then
    * validates and deletes) and both inventories' `would_vacuum`
    * column (which only reports) — one derivation, so the plan a
    * review reads is definitionally what the vacuum would do. That
    * includes the vacuum's ENTRY guard: a history whose last entry is
    * not the live pointer makes the vacuum abort before deleting
    * anything, so its victim set is EMPTY. The whole kept suffix is
    * excluded, not just the live pointer (a duplicate history entry
    * of a kept generation must not delete it), and victims dedup by
    * identity. */
  private def victims(
      g: Generations, generations: Seq[String], live: String, keep: Int): Vector[String] =
    if (generations.isEmpty || g.id(generations.last) != g.id(live)) Vector.empty
    else {
      val kept = generations.takeRight(keep).map(g.id).toSet
      generations.dropRight(keep).filterNot(d => kept(g.id(d))).distinctBy(g.id).toVector
    }

  /** Delete superseded generations, keeping the newest `keep` (≥ 1).
    * `generations` is the caller's pointer history ordered oldest →
    * newest; its LAST entry must be the live pointer `live` (both
    * checks fail loudly — deleting the generation queries are reading
    * is the one unrecoverable mistake, so it is structurally
    * unreachable here: live is always inside the kept suffix).
    * EVERY victim is validated to exist before ANY is deleted: a
    * missing victim found mid-loop would leave earlier victims
    * already deleted, and every re-run with the same history would
    * then fail permanently on them (a wrong history silently
    * "succeeding" would hide a pointer bug). Returns the deleted
    * entries. */
  private def vacuum(
      g: Generations, generations: Seq[String], live: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(generations.nonEmpty, "generation history is empty")
    require(g.id(generations.last) == g.id(live),
      s"live pointer $live must be the NEWEST generation " +
        s"(history ends at ${generations.last}) — refusing to vacuum")
    val vs = victims(g, generations, live, keep)
    require(!vs.exists(v => g.id(v) == g.id(live)), s"refusing to delete the live generation $live")
    vs.foreach(v => require(g.exists(v),
      s"generation $v not found — stale or wrong history, refusing to vacuum"))
    vs.foreach(g.delete)
    vs
  }

  /** [[vacuum]] for index-generation DIRECTORIES ([[dirGenerations]]). */
  def vacuumGenerations(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int = 1): Seq[String] =
    vacuum(dirGenerations(spark), generations, live, keep)

  /** [[vacuum]] for CATALOG-TABLE generations ([[tableGenerations]]):
    * drops each superseded table AND its `_counts` sidecar table. */
  def vacuumGenerationTables(
      spark: SparkSession,
      generations: Seq[String],
      live: String,
      keep: Int = 1): Seq[String] =
    vacuum(tableGenerations(spark), generations, live, keep)

  /** The retention plan both generation inventories report, one row
    * per history entry: (gen_idx, entry, is_live, would_vacuum), with
    * `would_vacuum` = exactly [[victims]] under the caller's `keep`. */
  private def retentionPlan(
      g: Generations, generations: Seq[String], live: String, keep: Int)
      : Seq[(Long, String, Boolean, Boolean)] = {
    require(generations.nonEmpty, "generation history is empty")
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val vs = victims(g, generations, live, keep).map(g.id).toSet
    generations.zipWithIndex.map { case (e, i) =>
      (i.toLong, e, g.id(e) == g.id(live), vs.contains(g.id(e)))
    }
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

  /** Build-once-audit-many: the corpus-half (doc_id % 10 ≠ 0,
    * the arrival convention every incremental scrub shares)
    * substring, maximal, and band indexes materialize lazily once per
    * session + fixture fingerprint. In production these are
    * the standing tables the nightly append/compact/vacuum cycle
    * maintains; the bench times the three builds as
    * `index_inventory`'s cold cost (the fitter convention). The value
    * is the three table names, suffixed by the fit's key (the
    * [[Dedup.MaximalIndex]] convention). */
  private[graft] val OpsIndexes: Fits.Fit[(String, String, String)] =
    Fits("maintenance.ops_indexes", "documents") { (s, dir) =>
      val sfx = OpsShared.tableSuffix(OpsIndexes.key(dir))
      val sub = "graft_inv_sub_" + sfx
      val mx = "graft_inv_mx_" + sfx
      val bd = "graft_inv_band_" + sfx
      // the three builds are INDEPENDENT jobs on disjoint tables —
      // built concurrently so each build's scan/shuffle tail back-fills
      // the others' idle executors; the first failure cancels the
      // other builds and propagates, and the memo entry is not written
      OpsShared.concurrently(
        Dedup.writeSubstrIndex(s, dir, sub),
        OpsShared.concurrently(
          Dedup.writeMaximalIndex(s, dir, mx),
          Dedup.writeBandIndex(s, dir, bd)))
      (sub, mx, bd)
    }

  private[ops] def tableMeta(s: SparkSession, table: String) =
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
    * `would_vacuum` is the shared [[victims]] derivation,
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
    import spark.implicits._
    retentionPlan(tableGenerations(spark), generations, live, keep).map {
      case (i, tbl, isLive, wouldVacuum) =>
        if (!spark.catalog.tableExists(tbl))
          (i, tbl, isLive, wouldVacuum, false,
            Option.empty[Int], Option.empty[Int],
            Option.empty[Long], Option.empty[Long], Option.empty[Boolean])
        else {
          val meta = tableMeta(spark, tbl)
          val loc = meta.location.toString
          (i, tbl, isLive, wouldVacuum, true,
            Some(meta.properties.get("graft.index.format")
              .map(_.toInt).getOrElse(-1)),
            Some(meta.bucketSpec.map(_.numBuckets).getOrElse(-1)),
            Some(fileStats(spark, loc)._1),
            Some(dirBytes(spark, loc)),
            Some(spark.catalog.tableExists(tbl + "_counts")))
        }
    }.toDF("gen_idx", "table", "is_live", "would_vacuum", "table_exists",
      "format", "n_buckets", "n_files", "bytes", "has_sidecar")
  }

  /** The directory-backed form ([[vacuumGenerations]]' families:
    * graph, IVF, PQ, IVF-PQ, SQ/SQ4): per generation directory —
    * liveness by QUALIFIED path (the vacuum rule), the retention
    * plan (`would_vacuum` = exactly [[vacuumGenerations]]' victim
    * selection under the caller's `keep` — empty when the vacuum's
    * entry guard would abort), existence, the committed `_SUCCESS`
    * marker, file count and bytes. A `would_vacuum` row whose
    * directory is MISSING means the executed vacuum would refuse on
    * stale history (its all-victims-exist pre-check) — the audit
    * reports both facts and lets the operator fix the pointer log. */
  def dirGenerationInventory(
      spark: SparkSession, generations: Seq[String], live: String,
      keep: Int = 1): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    retentionPlan(dirGenerations(spark), generations, live, keep).map {
      case (i, dir, isLive, wouldVacuum) =>
        val p = qualified(spark, dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(p))
          (i, dir, isLive, wouldVacuum, false,
            Option.empty[Boolean], Option.empty[Long], Option.empty[Long])
        else
          (i, dir, isLive, wouldVacuum, true,
            Some(fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))),
            Some(fileStats(spark, dir)._1),
            Some(dirBytes(spark, dir)))
    }.toDF("gen_idx", "path", "is_live", "would_vacuum", "dir_exists",
      "committed", "n_files", "bytes")
  }

  /** The registered fixture form: inventory over the session's
    * standing corpus-half indexes ([[OpsIndexes]]). */
  def indexInventory(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (sub, mx, bd) = OpsIndexes(s, dir)
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
