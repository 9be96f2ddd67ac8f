package graft.ops

import graft.functions.CrossHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination — the broadcast-bitset
  * scale path beside [[Curation.decontaminate]]'s exact broadcast
  * join (same benchmark convention: every 50th document, same word
  * 3-gram candidate stream from [[Dedup.shingles]]).
  *
  * The exact variant broadcasts the benchmark's DISTINCT GRAM SET —
  * fine while the benchmark is thousands of documents, but the
  * broadcast grows with the benchmark's token count (a string per
  * gram). The Bloom variant compresses the set to [[MBits]] BITS
  * ([[MBits]]/8 bytes — 2 KB here) with [[KHashes]] md5-derived bit
  * positions per gram: membership can overestimate (false positives,
  * never false negatives), so flagged counts are an UPPER bound on
  * the exact shared-gram counts — the right direction for
  * decontamination, where a false positive quarantines a clean doc
  * for the exact recheck and a false negative would leak benchmark
  * text into training data.
  *
  * Shape at 100 TB:
  *   - benchmark side: one gram aggregation over the (small)
  *     benchmark slice, reduced to ≤[[MBits]] distinct positions —
  *     PARAMETER-bounded driver state (the centroid rule; a real
  *     deployment sizes MBits to the benchmark, which is MBs when
  *     the corpus is TBs);
  *   - corpus side: MAP-ONLY — the bitset rides the task closure as
  *     a torrent broadcast and each document is scored against it in
  *     place; no join, no shuffle, no corpus-side aggregation (the
  *     exact variant pays a broadcast hash join + a doc_id
  *     aggregation);
  *   - the bitset is frozen model state and scoring is stateless,
  *     so one build serves any number of corpus passes.
  *
  * The hash family is the cross-engine md5 ([[CrossHash]]), so the
  * whole filter — build positions, probe, per-doc flag counts —
  * replays bit-exactly in DuckDB and the query is fully
  * oracle-gated (the CMS precedent: sketches on the shared hash stay
  * hash-match instead of rows-only).
  */
object Bloom extends QueryModule {
  import Tables.t

  /** Filter size in bits (2 KB). Sized so the fixture benchmark's
    * ~1–2k grams fill < 25% of the filter → per-probe false-positive
    * rate (fill)^K ≈ 1e-2; at a real benchmark size, scale MBits
    * with the benchmark gram count (it is independent of corpus
    * size). */
  val MBits = 16384

  /** Bit positions per gram. */
  val KHashes = 3

  /** The j-th bit position of gram `g`: md5Hash60(g ++ ":bf" ++ j)
    * mod [[MBits]] — one definition for the JVM probe side and the
    * Column build side (both reduce to [[CrossHash]]). */
  private def posOf(g: String, j: Int): Int =
    (CrossHash.md5Hash60(g + ":bf" + j) % MBits).toInt

  /** Build the benchmark bitset: distinct grams of the benchmark
    * slice → K positions each → distinct positions (≤ MBits rows)
    * collected into 2 KB of driver state. */
  def benchBitset(s: SparkSession, dir: String): java.util.BitSet = {
    val d = t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
    val pos = Dedup.shingles(d)
      .select(col("shingle")).distinct()
      .select(explode(sequence(lit(0), lit(KHashes - 1))).as("j"), col("shingle"))
      .select((CrossHash.md5Hash60Col(
        concat(col("shingle"), lit(":bf"), col("j").cast("string"))) % MBits).as("pos"))
      .distinct()
      .collect()
    val bits = new java.util.BitSet(MBits)
    pos.foreach(r => bits.set(r.getLong(0).toInt))
    bits
  }

  /** Map-only scoring of ANY (doc_id, text) relation against a
    * frozen bitset: (doc_id, n_flagged). The 2 KB bitset rides the
    * UDF closure — no join, no shuffle, no state. */
  def scoreDocs(docs: DataFrame, bits: java.util.BitSet): DataFrame = {
    val flagged = udf { (sh: Seq[String]) =>
      var n = 0L
      sh.foreach { g =>
        var all = true
        var j = 0
        while (all && j < KHashes) {
          if (!bits.get(posOf(g, j))) all = false
          j += 1
        }
        if (all) n += 1
      }
      n
    }
    Dedup.withShingleArray(docs)
      .select(col("doc_id"), flagged(col("shingles")).as("n_flagged"))
  }

  /** (doc_id, n_flagged) for every non-benchmark document with at
    * least one gram whose K positions are all set — a superset of
    * the exact decontamination hits, with n_flagged ≥ the exact
    * n_shared per doc (spec-asserted). */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val corpus = t(s, dir, "documents").filter(col("doc_id") % 50 =!= 0)
    scoreDocs(corpus, benchBitset(s, dir))
      .filter(col("n_flagged") > 0)
      .orderBy(col("doc_id"))
  }

  val bloomDecontaminateSql: String = {
    def h(expr: String) = CrossHash.sqlHash60(expr)
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${Dedup.ShingleK}),
       |sh AS (
       |  SELECT DISTINCT doc_id, ${Dedup.shingleSql} AS g
       |  FROM tok, UNNEST(range(0, len(w) - ${Dedup.ShingleK - 1})) AS u(i)),
       |bpos AS (
       |  SELECT DISTINCT ${h(s"g || ':bf' || CAST(j AS VARCHAR)")} % $MBits AS pos
       |  FROM sh, UNNEST(range(0, $KHashes)) AS r(j)
       |  WHERE doc_id % 50 = 0),
       |cand AS (
       |  SELECT doc_id, g,
       |    ${h(s"g || ':bf' || CAST(j AS VARCHAR)")} % $MBits AS pos
       |  FROM sh, UNNEST(range(0, $KHashes)) AS r(j)
       |  WHERE doc_id % 50 <> 0),
       |hits AS (
       |  SELECT doc_id, g FROM cand JOIN bpos USING (pos)
       |  GROUP BY doc_id, g HAVING COUNT(*) = $KHashes)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
       |FROM hits GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ---- filter-size operating curve ----

  /** Filter sizes the sweep evaluates, [[KHashes]] fixed — the knob
    * a deployment actually turns: MBits scales with the benchmark
    * gram count, and undersizing saturates the filter (fill → 1,
    * every probe "hits"). The fixture benchmark carries ~1–2k
    * distinct grams, so 512 bits is deliberately saturated, 2048
    * borderline, 16384 the registered operating point. */
  val BloomSweepBits: Seq[Int] = Seq(512, 2048, 16384)

  /** Measured false-positive curve of the Bloom decontaminator —
    * per filter size: set-bit fill, docs flagged, exact-truth docs
    * ([[Curation.decontaminate]]'s 3-gram overlap, here via the same
    * 60-bit gram hashes both engines share), false-positive docs
    * (flagged but zero exact shared grams) and the FP rate among
    * truly-clean docs. The sketch-audit convention
    * (minhash_perm_sweep / lsh_band_sweep / semdedup_eps_sweep)
    * pointed at the one sketch that lacked its sweep; unlike the
    * declared rows-only sketches, the whole curve is exact on the
    * shared hash family, so it is fully oracle-gated.
    *
    * Scale shape: bit positions derive from ONE md5 per (gram, j) —
    * `% m` per grid cell is free arithmetic on the same hash, so the
    * grid costs no extra hashing anywhere. Benchmark side reduces to
    * parameter-bounded driver state (the bitset rule: K·grams
    * longs); corpus side is ONE map-only scoring pass emitting the
    * grid per doc, then ONE per-m aggregation of boolean sums.
    * Explicit-grid totality with a 1-row corpus scalar, zero-
    * division guarded on an all-contaminated corpus. */
  def bloomFpSweepAgainst(corpus: DataFrame, benchDocs: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    // benchmark driver state: raw gram hashes (exact truth) and the
    // K per-gram position hashes (bloom bits), both ≤ benchmark-size
    val benchGrams = Dedup.shingles(benchDocs)
      .select(col("shingle")).distinct()
    val exactSet: java.util.HashSet[java.lang.Long] = {
      val s = new java.util.HashSet[java.lang.Long]()
      benchGrams.select(CrossHash.md5Hash60Col(col("shingle")).as("h"))
        .collect().foreach(r => s.add(r.getLong(0)))
      s
    }
    val posHashes: Array[Long] = benchGrams
      .select(explode(sequence(lit(0), lit(KHashes - 1))).as("j"), col("shingle"))
      .select(CrossHash.md5Hash60Col(
        concat(col("shingle"), lit(":bf"), col("j").cast("string"))).as("ph"))
      .collect().map(_.getLong(0))
    val grid = BloomSweepBits.toArray
    val bitsets: Array[java.util.BitSet] = grid.map { m =>
      val b = new java.util.BitSet(m)
      posHashes.foreach(ph => b.set((ph % m).toInt))
      b
    }
    // per-doc grid scoring: exact flag + one bloom flag per m, all
    // from the doc's gram list in one closure pass
    val score = udf { (sh: Seq[String]) =>
      var exact = false
      var nFlagged = 0
      val flags = new Array[Boolean](grid.length)
      val it = sh.iterator
      // flags and the exact bit are monotone, so once every grid
      // cell is set AND the exact flag is known the remaining grams
      // contribute nothing — stop paying the K md5 hashes per gram
      // (the dominant cost) on saturated docs
      while (it.hasNext && !(exact && nFlagged == grid.length)) {
        val g = it.next()
        if (!exact && exactSet.contains(CrossHash.md5Hash60(g))) exact = true
        if (nFlagged < grid.length) {
          val phs = Array.tabulate(KHashes)(j => CrossHash.md5Hash60(g + ":bf" + j))
          var mi = 0
          while (mi < grid.length) {
            if (!flags(mi)) {
              val m = grid(mi)
              var all = true
              var j = 0
              while (all && j < KHashes) {
                if (!bitsets(mi).get((phs(j) % m).toInt)) all = false
                j += 1
              }
              if (all) { flags(mi) = true; nFlagged += 1 }
            }
            mi += 1
          }
        }
      }
      (exact, flags.toSeq)
    }
    val perM = Dedup.withShingleArray(corpus)
      .select(score(col("shingles")).as("r"))
      .select(col("r._1").as("exact"),
        posexplode(col("r._2")).as(Seq("mi", "flagged")))
      .groupBy(col("mi"))
      .agg(sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("exact"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("flagged") && !col("exact"), 1L).otherwise(0L)).as("n_fp"))
    val total = corpus.agg(count(lit(1)).as("n_docs"))
    val fills = grid.zipWithIndex
      .map { case (m, mi) => (mi, m.toLong, bitsets(mi).cardinality().toLong) }
      .toSeq.toDF("mi", "m_bits", "n_set_bits")
    fills.join(perM, Seq("mi"), "left")
      .crossJoin(total)
      .select(col("m_bits"),
        col("n_set_bits"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        col("n_docs"),
        graft.functions.VectorFunctions.r6(
          when(col("n_docs") - coalesce(col("n_exact"), lit(0L)) === 0, 0.0)
            .otherwise(coalesce(col("n_fp"), lit(0L)).cast("double") /
              (col("n_docs") - coalesce(col("n_exact"), lit(0L)))))
          .as("fp_rate"))
      .orderBy(col("m_bits"))
  }

  /** The registered sweep — the fixture benchmark convention. */
  def bloomFpSweep(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    bloomFpSweepAgainst(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0))
  }

  /** Oracle mirror: the shared (gram, j) position hashes land in a
    * MATERIALIZED CTE once; each grid cell is a `% m` projection of
    * that ONE hash stream (exactly the engine's free-arithmetic
    * grid), exact truth joins on the same 60-bit gram hash. */
  val bloomFpSweepSql: String = {
    def h(expr: String) = CrossHash.sqlHash60(expr)
    val grid = BloomSweepBits.map(m => s"($m)").mkString(", ")
    s"""WITH bfs_tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${Dedup.ShingleK}),
       |bfs_sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ${Dedup.shingleSql} AS g
       |  FROM bfs_tok, UNNEST(range(0, len(w) - ${Dedup.ShingleK - 1})) AS u(i)),
       |bfs_bg AS (SELECT DISTINCT g FROM bfs_sh WHERE doc_id % 50 = 0),
       |bfs_eh AS (SELECT DISTINCT ${h("g")} AS eh FROM bfs_bg),
       |bfs_bp AS MATERIALIZED (
       |  SELECT DISTINCT ${h(s"g || ':bf' || CAST(j AS VARCHAR)")} AS ph
       |  FROM bfs_bg, UNNEST(range(0, $KHashes)) AS r(j)),
       |bfs_set AS MATERIALIZED (
       |  SELECT m, ph % m AS pos FROM (VALUES $grid) ms(m), bfs_bp
       |  GROUP BY m, ph % m),
       |bfs_cand AS MATERIALIZED (
       |  SELECT m, doc_id, g, ph % m AS pos
       |  FROM (VALUES $grid) ms(m),
       |    (SELECT doc_id, g, ${h(s"g || ':bf' || CAST(j AS VARCHAR)")} AS ph
       |     FROM bfs_sh, UNNEST(range(0, $KHashes)) AS r(j)
       |     WHERE doc_id % 50 <> 0) c),
       |bfs_hit AS (
       |  SELECT c.m, c.doc_id, c.g
       |  FROM bfs_cand c JOIN bfs_set s USING (m, pos)
       |  GROUP BY c.m, c.doc_id, c.g HAVING COUNT(*) = $KHashes),
       |bfs_fdoc AS (SELECT DISTINCT m, doc_id FROM bfs_hit),
       |bfs_edoc AS (
       |  SELECT DISTINCT s.doc_id FROM bfs_sh s JOIN bfs_eh e ON ${h("s.g")} = e.eh
       |  WHERE s.doc_id % 50 <> 0),
       |bfs_agg AS (
       |  SELECT f.m, COUNT(*) AS n_flagged,
       |    SUM(CASE WHEN e.doc_id IS NOT NULL THEN 0 ELSE 1 END) AS n_fp
       |  FROM bfs_fdoc f LEFT JOIN bfs_edoc e USING (doc_id)
       |  GROUP BY f.m),
       |bfs_c AS (
       |  SELECT COUNT(*) AS n_docs,
       |    (SELECT COUNT(*) FROM bfs_edoc) AS n_exact
       |  FROM documents WHERE doc_id % 50 <> 0),
       |bfs_fill AS (SELECT m, COUNT(*) AS n_set_bits FROM bfs_set GROUP BY m)
       |SELECT CAST(ms.m AS BIGINT) AS m_bits,
       |  CAST(COALESCE(fl.n_set_bits, 0) AS BIGINT) AS n_set_bits,
       |  CAST(COALESCE(a.n_flagged, 0) AS BIGINT) AS n_flagged,
       |  CAST(c.n_exact AS BIGINT) AS n_exact,
       |  CAST(COALESCE(a.n_fp, 0) AS BIGINT) AS n_fp,
       |  CAST(c.n_docs AS BIGINT) AS n_docs,
       |  round(CASE WHEN c.n_docs - c.n_exact = 0 THEN 0.0
       |        ELSE CAST(COALESCE(a.n_fp, 0) AS DOUBLE) / (c.n_docs - c.n_exact)
       |        END, 6) + 0 AS fp_rate
       |FROM (VALUES $grid) ms(m)
       |CROSS JOIN bfs_c c
       |LEFT JOIN bfs_agg a ON a.m = ms.m
       |LEFT JOIN bfs_fill fl ON fl.m = ms.m
       |ORDER BY m_bits""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bloom_decontaminate" -> (bloomDecontaminate _),
    "bloom_fp_sweep" -> (bloomFpSweep _))

  val oracles: Map[String, String] = Map(
    "bloom_decontaminate" -> bloomDecontaminateSql,
    "bloom_fp_sweep" -> bloomFpSweepSql)
}
