package graft.ops

import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for a training-data pipeline: exact
  * (hash-groupBy), n-gram Jaccard (shingle-inverted-index join),
  * MinHash+LSH banding, and SimHash Hamming banding. The
  * embedding-cosine near-dup lives in VectorQueries.embedNeardup.
  *
  * Scale architecture (the reason these shapes were chosen):
  *   - exact dedup: one hash shuffle on the text (or md5) key.
  *   - Jaccard: never all-pairs — an inverted index on shingles
  *     turns candidate generation into a co-grouped join keyed by
  *     shingle, linear in total postings.
  *   - MinHash LSH: candidates only within equal (band, band-hash)
  *     buckets — one explode (bands/doc) + one shuffle; the classic
  *     sub-quadratic near-dup plan for 100 TB corpora.
  *   - SimHash: 64-bit fingerprint, 4×16-bit bands; Hamming ≤ 3
  *     pairs must share a band (pigeonhole), so banding is exact
  *     candidate generation, then bit_count verifies.
  */
object Dedup extends QueryModule {
  import Tables.t

  /** Exact duplicate groups keyed on full text; min(doc_id) is the
    * canonical survivor (deterministic `dropDuplicates`). */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  val dedupExactSql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY text
      |ORDER BY doc_id""".stripMargin

  val ShingleK = 3

  /** DuckDB-side twin of [[shingleAt]], derived from [[ShingleK]] so
    * the oracle shingle string can never silently desync from the
    * engine's if the constant changes. */
  private[ops] def shingleSql: String =
    (1 to ShingleK).map(t => s"w[i+$t]").mkString(" || ' ' || ")

  /** text → DISTINCT word 3-gram shingles, in one pass. A UDF
    * rather than transform()-over-split(): the optimizer inlines the
    * split into every lambda element access (CollapseProject into
    * the Generate input), turning O(tokens) into O(tokens²) —
    * measured 13× slower than this UDF on the sf0.1 bench. */
  /** The canonical ShingleK-word shingle string starting at word i —
    * the ONE definition every string-hashed shingle path shares
    * (shingleUdf, md5ShingleUdf), so changing ShingleK
    * can never silently desync a hashed path from the string-shingle
    * keys the DuckDB oracle recomputes. */
  private[ops] def shingleAt(w: Array[String], i: Int): String = {
    val sb = new java.lang.StringBuilder(w(i))
    var t = 1
    while (t < ShingleK) { sb.append(' ').append(w(i + t)); t += 1 }
    sb.toString
  }

  private val shingleUdf = udf { (text: String) =>
    val w = splitWords(text)
    if (w.length < ShingleK) Array.empty[String]
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + ShingleK <= w.length) {
        seen.add(shingleAt(w, i))
        i += 1
      }
      val out = new Array[String](seen.size)
      seen.toArray(out)
      out
    }
  }

  /** Per-doc distinct shingle array; doing the dedup inside the
    * array avoids the explode → global DISTINCT shuffle the naive
    * plan pays. */
  private[ops] def withShingleArray(d: DataFrame): DataFrame =
    d.select(col("doc_id"), shingleUdf(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Inverted-index form: one row per (doc, distinct shingle) —
    * map-only explode of the distinct array (no shuffle). Shared
    * with Curation.decontaminate (same 3-gram candidate stream). */
  private[graft] def shingles(d: DataFrame): DataFrame =
    withShingleArray(d)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Distinct shingles HASHED to 64-bit longs, one pass. Candidate
    * generation never needs the shingle text — only equality — so
    * the posting shuffle carries 8-byte longs instead of ~40-byte
    * strings (measured ~2× on the postings stage). The oracle keys
    * on the strings, so the hash function is free to be FAST: FNV-1a
    * built char-by-char across the shingle's words (no md5, no
    * intermediate string, no memo cache — soup shingles are nearly
    * all unique, so the md5 form re-hashed ~5M strings per sf0.1
    * pass and thrashed its cache). Collision risk p ≈ n²/2⁶⁵ and the
    * tri-scale hash-match gate would catch one. md5 stays where the
    * oracle must recompute the values (MinHash signatures, SimHash,
    * span hashes). */
  private val hashedShingleUdf = udf { (text: String) =>
    val w = splitWords(text)
    if (w.length < ShingleK) Array.empty[Long]
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i + ShingleK <= w.length) {
        var h = 0xCBF29CE484222325L
        var t = 0
        while (t < ShingleK) {
          if (t > 0) { h ^= ' '.toLong; h *= 0x100000001B3L }
          val s = w(i + t)
          var c = 0
          while (c < s.length) { h ^= s.charAt(c).toLong; h *= 0x100000001B3L; c += 1 }
          t += 1
        }
        seen.add(h)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
      out
    }
  }

  /** md5-60-bit variant — REQUIRED where the DuckDB oracle
    * recomputes the hash values themselves (the MinHash signature
    * family hashes `md5(shingle)`, Dedup.minhashLshSql). */
  private val md5ShingleUdf = udf { (text: String) =>
    val w = splitWords(text)
    if (w.length < ShingleK) Array.empty[Long]
    else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i + ShingleK <= w.length) {
        seen.add(Dedup.cachedHash60(shingleAt(w, i)))
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
      out
    }
  }

  /** (doc_id, n_sh, shingle-hash) posting stream in ONE scan+UDF
    * pass: the per-doc distinct count rides along on every posting
    * row, so no separate counts subplan (the old two-broadcast-join
    * form re-ran the scan+UDF three times — once per broadcast and
    * once for postings). */
  private def hashedPostings(d: DataFrame): DataFrame =
    d.select(col("doc_id"), hashedShingleUdf(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("shingle"))

  /** Posting lists longer than this are dropped before pair
    * generation — "stop-shingle" removal. Bounds the per-shingle
    * pair fan-out to MaxPosting²/2 (skew guard at corpus scale);
    * mirrored verbatim in the oracle SQL so semantics match. */
  val MaxPosting = 1000

  /** Hot-bucket pre-cap: count each bucket with a window over its
    * keys and drop out-of-range buckets BEFORE any member list
    * materializes. The window buffers each group in Spark's
    * spillable row array, so a mega-bucket (10⁶ boilerplate mirrors
    * landing in one band bucket at crawl scale) spills to disk and
    * is then filtered away — where the old `collect_list →
    * filter(size ≤ cap)` order built the full member list inside ONE
    * in-memory aggregation buffer first (≈0.5 GB for 10⁶ members ⇒
    * executor OOM). Measured, not assumed: DedupSpec plants a
    * 10⁶-row bucket with the window buffer thresholds forced to
    * 1024/4096 rows — it routes through the disk-spill path (task
    * metrics report the spills) and completes in ~7.5 s on
    * local[32]; a pathological bucket is a straggler task, never an
    * OOM. Keeping the group keys identical lets the
    * downstream groupBy reuse the window's hash exchange, so the
    * shuffle count is unchanged. Row-set semantics are exactly the
    * post-agg size filter's — grouping the surviving rows yields
    * precisely the in-range buckets — so the `HAVING COUNT(*)
    * BETWEEN` oracles are untouched. The persisted band index's
    * stored `bucket_n` column ([[writeBandIndex]]) is the same idea
    * paid once at write time. */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String],
      lo: Int = 2, hi: Int = MaxPosting): DataFrame =
    df.withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bucket_n").between(lo, hi))
      .drop("bucket_n")

  /** Word-shingle Jaccard near-dup pairs via inverted-index posting
    * lists: group by shingle hash, emit each posting list's pair
    * combinations map-side, count pair co-occurrences = |A∩B|;
    * |A∪B| from the n_sh values riding along on the posting rows.
    * Top-50 pairs by similarity.
    *
    * ONE scan+UDF pass and two shuffles total (postings groupBy,
    * pairs groupBy) — no self-join, no counts-broadcast subplans.
    * The pair key stays a packed BIGINT (doc_a << 32 | doc_b) with
    * the two doc sizes as narrow extra columns; the MaxPosting cap
    * bounds fan-out under shingle skew. */
  def dedupJaccard(s: SparkSession, dir: String): DataFrame = {
    // resplit measured NEUTRAL here (r16 A/B: the capped-bucket family
    // net +0.1 s) — the posting explode feeds a groupBy immediately,
    // so the UDF pass overlaps the shuffle either way; left bare.
    val d = t(s, dir, "documents")
    val buckets = capBuckets(hashedPostings(d), Seq("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("docs"))
    buckets
      .select(explode(expr(
        "flatten(transform(docs, (x, i) -> " +
          "transform(slice(docs, i + 2, size(docs)), " +
          "y -> struct(shiftleft(x.doc_id, 32) + y.doc_id AS pk, " +
          "x.n_sh AS na, y.n_sh AS nb))))"))
        .as("p"))
      .groupBy(col("p.pk").as("pk"))
      .agg(count(lit(1)).as("common"),
        first(col("p.na")).as("na"), first(col("p.nb")).as("nb"))
      .select(shiftright(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        col("common"), col("na"), col("nb"))
      .withColumn("jaccard",
        r6(col("common").cast("double") / (col("na") + col("nb") - col("common"))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val dedupJaccardSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxPosting),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 6) + 0 AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |ORDER BY jaccard DESC, doc_a, doc_b
       |LIMIT 50""".stripMargin

  // ---- MinHash + LSH banding (oracle-checked: the hash family is
  // md5-derived so DuckDB computes the IDENTICAL signatures) ----

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Mersenne prime modulus for the affine hash family: products
    * a·h stay < 2^62, exact in BIGINT arithmetic in BOTH engines. */
  val MinhashP = 2147483647L

  /** Cross-engine 60-bit md5 hash (graft.functions.CrossHash). */
  def md5Hash60(s: String): Long = graft.functions.CrossHash.md5Hash60(s)

  /** Affine-family coefficients, themselves md5-derived (no literal
    * tables to keep in sync with the oracle SQL): a_j ∈ [1, p−1],
    * b_j ∈ [0, p−1]. */
  def minhashA(j: Int): Long = md5Hash60("a" + j) % (MinhashP - 1) + 1
  def minhashB(j: Int): Long = md5Hash60("b" + j) % MinhashP

  /** The 64+64 coefficients memoized per JVM — they are constants,
    * and the per-row minhash UDF would redo 128 md5 digests per
    * document without this. */
  private lazy val minhashAs: Array[Long] = Array.tabulate(NumHashes)(minhashA)
  private lazy val minhashBs: Array[Long] = Array.tabulate(NumHashes)(minhashB)

  /** Signatures from the HASHED shingle array (shared with
    * dedupJaccard's candidate stream — the md5 runs once). */
  private val minhashUdf = udf { (hashed0: Seq[Long]) =>
    val hashed = if (hashed0 == null) Seq.empty[Long] else hashed0
    val as = minhashAs
    val bs = minhashBs
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    hashed.foreach { h0 =>
      val h = h0 % MinhashP
      var j = 0
      while (j < NumHashes) {
        val v = (as(j) * h + bs(j)) % MinhashP
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
    }
    sigs
  }

  /** MinHash signatures → banded LSH buckets → candidate pairs →
    * signature-agreement estimate of Jaccard, est ≥ 0.35 kept.
    *
    * Plan shape: signatures are computed map-only from the per-doc
    * shingle array; one explode (16 band rows/doc); ONE groupBy on
    * (band, band_key) collecting bucket members; pairs expand
    * map-side from each bucket (buckets are near-dup clusters, so
    * tiny; a size cap guards degenerate buckets). No self-join —
    * sub-quadratic candidate generation that survives corpus scale.
    *
    * The band key is the band's signature slice ITSELF (4 ints), not
    * an engine-private hash of it — hashing the group key is the
    * shuffle layer's job, and the raw slice is what DuckDB mirrors. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents", resplit = true)
    // checkpointed: the signature relation feeds the banding explode
    // AND both est-verification joins below
    val sig = d.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
      .localCheckpoint(true)
    // band rows carry ONLY (band, bkey, doc_id): the 64-hash payload
    // never rides the bucket exchange (~512 B × 16 band rows per doc
    // saved; guide §2.3 shuffle-keys-not-payloads). est is a pure
    // function of the pair's signatures, so candidates dedup FIRST on
    // the narrow pair key and est is computed once per candidate from
    // two doc-keyed signature joins — the exact shape the DuckDB
    // oracle below uses, so the row set is unchanged by construction
    // (distinct-then-score ≡ score-then-distinct: every copy of a
    // pair carries the identical deterministic est).
    val banded = sig.select(
      col("doc_id"),
      explode(expr(
        s"transform(sequence(0, ${Bands - 1}), " +
          s"b -> struct(b AS band, slice(sig, b * $RowsPerBand + 1, $RowsPerBand) AS bkey))"))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"), col("doc_id"))
    val buckets = capBuckets(banded, Seq("band", "bkey"))
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
    buckets
      .select(explode(expr(
        "flatten(transform(members, (m, i) -> " +
          "transform(slice(members, i + 2, size(members)), n -> " +
          "struct(m AS doc_a, n AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        r6(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.35)
      .orderBy(col("est_jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Oracle mirror of [[minhashLsh]]: identical md5-affine signature
    * family, banding, bucket cap, and estimate — DuckDB recomputes
    * the signatures bit-for-bit. */
  val minhashLshSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |coef AS (
       |  SELECT j,
       |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${MinhashP - 1} + 1 AS a,
       |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % $MinhashP AS b
       |  FROM UNNEST(range(0, $NumHashes)) AS t(j)),
       |hh AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinhashP AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, j, MIN((a * h + b) % $MinhashP) AS v
       |  FROM hh CROSS JOIN coef
       |  GROUP BY doc_id, j),
       |sigl AS (
       |  SELECT doc_id, list(v ORDER BY j) AS sig FROM sig GROUP BY doc_id),
       |band AS (
       |  SELECT doc_id, b, sig[b*$RowsPerBand+1 : b*$RowsPerBand+$RowsPerBand] AS bkey
       |  FROM sigl, UNNEST(range(0, $Bands)) AS t(b)),
       |bucketed AS (
       |  SELECT band.* FROM band
       |  JOIN (SELECT b, bkey FROM band GROUP BY b, bkey
       |        HAVING COUNT(*) BETWEEN 2 AND $MaxPosting) g
       |  USING (b, bkey)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bucketed x JOIN bucketed y
       |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
       |      / CAST($NumHashes AS DOUBLE), 6) + 0 AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.35
       |ORDER BY est_jaccard DESC, doc_a, doc_b""".stripMargin

  // ---- SimHash (oracle-checked: 60-bit md5 token hashes, DuckDB
  // recomputes the identical fingerprints) ----

  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands

  /** Per-doc token-majority fingerprint. Token hashes memoized in a
    * bounded executor-wide cache — the corpus vocabulary is tiny
    * next to the token stream, so md5 runs once per distinct word
    * per executor, not once per occurrence. */
  private val simhashUdf = udf { (tokens0: Seq[String]) =>
    val tokens = if (tokens0 == null) Seq.empty[String] else tokens0
    val acc = new Array[Int](SimhashBits)
    tokens.foreach { tok =>
      val h = Dedup.cachedHash60(tok)
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < SimhashBits) { if (acc(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** The token (SimHash), shingle (Jaccard/MinHash) and span hashers'
    * memo of [[md5Hash60]] — one key space, shared with TextOps'
    * lang-id grams. */
  private[graft] val cachedHash60 = new graft.functions.CrossHash.Memo60

  /** SimHash near-dups: 60-bit token-majority fingerprint, banded
    * into 4×15 bits; bucket-sharing pairs verified with
    * bit_count(xor) ≤ 3. Pigeonhole: Hamming ≤ 3 ⇒ at most 3 bands
    * touched ⇒ some band equal — banding is COMPLETE exactly up to
    * radius bands−1, so the output threshold matches that radius
    * (a looser threshold would silently drop qualifying pairs whose
    * differing bits spread across all four bands). */
  def simhashDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val fp = d.select(col("doc_id"), simhashUdf(split(col("text"), " ")).as("fp"))
    val banded = fp.select(col("doc_id"), col("fp"),
      explode(expr(
        s"transform(sequence(0, ${SimhashBands - 1}), " +
          s"b -> struct(b AS band, CAST(shiftright(fp, b * $SimhashBandBits) & ${(1 << SimhashBandBits) - 1} AS INT) AS bval))"))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bval").as("bval"),
        col("doc_id"), col("fp"))
    // same bucket-collect shape as minhashLsh: one shuffle, pairs
    // expand map-side inside each (band, value) bucket
    val buckets = capBuckets(banded, Seq("band", "bval"))
      .groupBy(col("band"), col("bval"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("members"))
    buckets
      .select(explode(expr(
        "flatten(transform(members, (m, i) -> " +
          "transform(slice(members, i + 2, size(members)), n -> " +
          "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, m.fp AS fp_a, n.fp AS fp_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Oracle mirror of [[simhashDedup]]: identical 60-bit md5 token
    * hashes, occurrence-weighted bit majority, banding, bucket cap,
    * and Hamming verify. */
  val simhashDedupSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
       |cnt AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk),
       |th AS (
       |  SELECT doc_id, ('0x' || substring(md5(tk), 1, 15))::BIGINT AS h, c
       |  FROM cnt),
       |bits AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN c ELSE -c END) AS acc
       |  FROM th, UNNEST(range(0, $SimhashBits)) AS t(b)
       |  GROUP BY doc_id, b),
       |fp AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN acc > 0 THEN 1::BIGINT << b ELSE 0 END) AS fp
       |  FROM bits GROUP BY doc_id),
       |band AS (
       |  SELECT doc_id, fp, b,
       |    (fp >> (b * $SimhashBandBits)) & ${(1 << SimhashBandBits) - 1} AS bval
       |  FROM fp, UNNEST(range(0, $SimhashBands)) AS t(b)),
       |bucketed AS (
       |  SELECT band.* FROM band
       |  JOIN (SELECT b, bval FROM band GROUP BY b, bval
       |        HAVING COUNT(*) BETWEEN 2 AND $MaxPosting) g
       |  USING (b, bval)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.fp AS fa, y.fp AS fb
       |  FROM bucketed x JOIN bucketed y
       |    ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY hamming, doc_a, doc_b""".stripMargin

  // ---- Duplicated-span detection (exact substring dedup) ----

  val SpanWords = 20
  val SpanStride = 10

  /** 60-bit md5 hashes of [[SpanWords]]-word windows at
    * [[SpanStride]]-word stride — the candidate stream for exact
    * substring dedup (boilerplate/license spans duplicated across
    * docs, the classic "dedup training data" signal). Ordinal i ↔
    * word offset i·stride. */
  private val spanHashUdf = udf { (text: String) =>
    val w = splitWords(text)
    if (w.length < SpanWords) Array.empty[Long]
    else {
      val n = (w.length - SpanWords) / SpanStride + 1
      Array.tabulate(n) { i =>
        val sb = new StringBuilder
        var j = i * SpanStride
        val end = j + SpanWords
        while (j < end) {
          if (j > i * SpanStride) sb.append(' ')
          sb.append(w(j))
          j += 1
        }
        Dedup.cachedHash60(sb.toString)
      }
    }
  }

  /** Cross-doc duplicated spans: doc pairs sharing ≥1 exact
    * [[SpanWords]]-word window, with the shared-window count and the
    * earliest offset on each side. Same inverted-index shape as
    * [[dedupJaccard]] — one scan+UDF pass, bucket by window hash,
    * pairs expand map-side, never a self-join of the corpus. */
  def spanDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val wins = d
      .select(col("doc_id"), posexplode(spanHashUdf(col("text"))).as(Seq("ord", "h")))
      .select(col("doc_id"), (col("ord") * SpanStride).cast("long").as("pos"), col("h"))
    val buckets = capBuckets(wins, Seq("h"))
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos")))).as("docs"))
    buckets
      .select(explode(expr(
        "flatten(transform(docs, (x, i) -> " +
          "transform(slice(docs, i + 2, size(docs)), " +
          "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, " +
          "x.pos AS pos_a, y.pos AS pos_b))))"))
        .as("p"))
      .filter(col("p.doc_a") =!= col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("p.pos_a")).as("first_pos_a"), min(col("p.pos_b")).as("first_pos_b"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** Oracle mirror of [[spanDedup]] — window text rebuilt with list
    * slicing, hashed with the shared md5 primitive. */
  val spanDedupSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SpanWords),
       |win AS (
       |  SELECT doc_id, i * $SpanStride AS pos,
       |    ${graft.functions.CrossHash.sqlHash60(
            s"array_to_string(w[i * $SpanStride + 1 : i * $SpanStride + $SpanWords], ' ')")} AS h
       |  FROM tok, UNNEST(range(0, (len(w) - $SpanWords) // $SpanStride + 1)) AS t(i)),
       |good AS (SELECT h FROM win GROUP BY h
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxPosting)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared,
       |  MIN(a.pos) AS first_pos_a, MIN(b.pos) AS first_pos_b
       |FROM win a
       |JOIN win b ON a.h = b.h AND a.doc_id < b.doc_id
       |JOIN good g ON g.h = a.h
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY n_shared DESC, doc_a, doc_b
       |LIMIT 50""".stripMargin

  /** TF·IDF-weighted SimHash (Charikar 2002 as productionized in
    * Manku et al. 2007): each distinct token votes on every
    * fingerprint bit with weight tf·ln(N/df) instead of raw
    * occurrence count — ubiquitous tokens (df = N) vote ln(1) = 0,
    * so the fingerprint concentrates on the DISCRIMINATIVE
    * vocabulary and boilerplate scaffolding shared by every page
    * stops dragging unrelated docs into Hamming range (the failure
    * mode of the unweighted [[simhashDedup]] on templated corpora).
    *
    * Plan: per-doc token counts (one map-side-combined groupBy), a
    * hint-free df join (the tfidf rule), then ONE doc-keyed shuffle
    * of (hash, weight) pairs folded into all 60 bit accumulators by
    * a single per-doc pass — weights are quantized to exact
    * micro-units (r6 × 10⁶ longs), so the fold is exact integer
    * arithmetic, order-free, and bit-identical to the decimal
    * bridge the oracle replays per (doc, bit). (The first cut
    * exploded the token stream ×60 to aggregate per (doc, bit)
    * directly — same numbers, 6× the bench time.) Banding and
    * Hamming verification are [[simhashDedup]]'s shapes verbatim. */
  private val weightedFpUdf = udf { (hw: Seq[org.apache.spark.sql.Row]) =>
    val acc = new Array[Long](SimhashBits)
    hw.foreach { r =>
      val h = r.getLong(0)
      // exact micro-units of the 6-decimal weight: ×1e6 is within
      // an ulp of the integer, rounding recovers it exactly
      val w = Math.round(r.getDouble(1) * 1e6)
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) acc(b) += w else acc(b) -= w
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < SimhashBits) { if (acc(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  def simhashWeighted(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val cnt = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
    val df = cnt.groupBy(col("tk")).agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val fp = cnt.join(df, Seq("tk"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        struct(graft.functions.CrossHash.md5Hash60Col(col("tk")).as("h"),
          r6(col("c") * log(col("n_docs").cast("double") / col("df"))).as("w"))
          .as("hw"))
      .groupBy(col("doc_id"))
      .agg(weightedFpUdf(collect_list(col("hw"))).as("fp"))
    val banded = fp.select(col("doc_id"), col("fp"),
      explode(expr(
        s"transform(sequence(0, ${SimhashBands - 1}), " +
          s"b -> struct(b AS band, CAST(shiftright(fp, b * $SimhashBandBits) & ${(1 << SimhashBandBits) - 1} AS INT) AS bval))"))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bval").as("bval"),
        col("doc_id"), col("fp"))
    val buckets = capBuckets(banded, Seq("band", "bval"))
      .groupBy(col("band"), col("bval"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("members"))
    buckets
      .select(explode(expr(
        "flatten(transform(members, (m, i) -> " +
          "transform(slice(members, i + 2, size(members)), n -> " +
          "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, m.fp AS fp_a, n.fp AS fp_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Oracle mirror: identical md5 hashes, r6+decimal-bridged signed
    * votes, banding, cap, Hamming verify. */
  val simhashWeightedSql: String =
    s"""WITH cnt AS (
       |  SELECT doc_id, tk, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
       |  GROUP BY doc_id, tk),
       |dfreq AS (SELECT tk, COUNT(*) AS df FROM cnt GROUP BY tk),
       |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(tk), 1, 15))::BIGINT AS h,
       |    c * ln(CAST(n_docs AS DOUBLE) / df) AS w
       |  FROM cnt JOIN dfreq USING (tk) CROSS JOIN nd),
       |bits AS (
       |  SELECT doc_id, b,
       |    CAST(SUM(CAST(round(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END, 6) + 0
       |                  AS DECIMAL(38,6))) AS DOUBLE) AS acc
       |  FROM th, UNNEST(range(0, $SimhashBits)) AS t(b)
       |  GROUP BY doc_id, b),
       |fp AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN acc > 0 THEN 1::BIGINT << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS fp
       |  FROM bits GROUP BY doc_id),
       |band AS (
       |  SELECT doc_id, fp, b,
       |    (fp >> (b * $SimhashBandBits)) & ${(1 << SimhashBandBits) - 1} AS bval
       |  FROM fp, UNNEST(range(0, $SimhashBands)) AS t(b)),
       |bucketed AS (
       |  SELECT band.* FROM band
       |  JOIN (SELECT b, bval FROM band GROUP BY b, bval
       |        HAVING COUNT(*) BETWEEN 2 AND $MaxPosting) g
       |  USING (b, bval)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.fp AS fa, y.fp AS fb
       |  FROM bucketed x JOIN bucketed y
       |    ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY hamming, doc_a, doc_b""".stripMargin

  /** Winnowing window (in shingles): every [[WinnowWindow]]
    * consecutive shingle hashes contribute their minimum (rightmost
    * on ties — Schleimer et al.'s robust winnowing rule). */
  val WinnowWindow = 4

  /** Winnowed fingerprint set of one text: positional ShingleK-word
    * shingle hashes → per-window minimum selection → distinct
    * selected hashes. The guarantee (the reason MOSS uses it over
    * plain 0-mod-p sampling): any shared substring of at least
    * WinnowWindow + ShingleK − 1 words is caught by at least one
    * shared fingerprint, while only ~2/(WinnowWindow+1) of hashes
    * are kept — density-bounded sampling with a matching guarantee,
    * which plain stride sampling ([[spanHashUdf]]) does not give
    * (spans only match when aligned to the stride). */
  private val winnowUdf = udf { (text: String) =>
    val w = splitWords(text)
    val n = w.length - ShingleK + 1
    if (n < WinnowWindow) Array.empty[Long]
    else {
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) { hs(i) = Dedup.cachedHash60(shingleAt(w, i)); i += 1 }
      val sel = scala.collection.mutable.SortedSet[Long]()
      var j = 0
      while (j + WinnowWindow <= n) {
        var best = j
        var k = j + 1
        while (k < j + WinnowWindow) {
          if (hs(k) <= hs(best)) best = k
          k += 1
        }
        sel += hs(best)
        j += 1
      }
      sel.toArray
    }
  }

  /** Cross-doc winnowing-fingerprint pairs (the MOSS plagiarism
    * plan): docs ranked by how many winnowed fingerprints they
    * share. Sits between [[spanDedup]] (aligned-stride exact spans)
    * and [[dedupJaccard]] (full shingle sets): guaranteed to catch
    * any ≥ WinnowWindow+ShingleK−1-word overlap like the full set
    * would, at a fraction of the postings. Same inverted-index
    * shape — one scan+UDF pass, bucket by fingerprint, pairs expand
    * map-side within capped buckets, never a corpus self-join. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val fp = d.select(col("doc_id"), explode(winnowUdf(col("text"))).as("h"))
    val buckets = capBuckets(fp, Seq("h"))
      .groupBy(col("h"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
    buckets
      .select(explode(expr(
        "flatten(transform(docs, (x, i) -> " +
          "transform(slice(docs, i + 2, size(docs)), " +
          "y -> struct(x AS doc_a, y AS doc_b))))"))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** Oracle mirror: positional shingle hashes, per-window argmin via
    * a (h ASC, i DESC) rank — exactly the engine's rightmost-min
    * scan — then the distinct-fingerprint threshold join. */
  val winnowPairsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= ${ShingleK + WinnowWindow - 1}),
       |ph AS MATERIALIZED (
       |  SELECT doc_id, i, ${graft.functions.CrossHash.sqlHash60(shingleSql)} AS h
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS t(i)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ph GROUP BY doc_id),
       |wins AS (
       |  SELECT p.doc_id, j.j, p.h,
       |    row_number() OVER (PARTITION BY p.doc_id, j.j ORDER BY p.h, p.i DESC) AS rn
       |  FROM ph p
       |  JOIN (SELECT doc_id, unnest(range(0, n - $WinnowWindow + 1)) AS j
       |        FROM cnt WHERE n >= $WinnowWindow) j
       |    ON j.doc_id = p.doc_id AND p.i BETWEEN j.j AND j.j + ${WinnowWindow - 1}),
       |fp AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1),
       |good AS (SELECT h FROM fp GROUP BY h
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxPosting)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |FROM fp a
       |JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
       |JOIN good g ON g.h = a.h
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY n_shared DESC, doc_a, doc_b
       |LIMIT 50""".stripMargin

  // ---- Exact-substring removal (sliding-window span cut + rebuild) ----

  /** Minimum duplicated run, in words, for [[substrDedup]] — the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr) threshold idea scaled to the
    * fixture's ~100-word docs (the paper uses 50 BPE tokens against
    * multi-KB web pages). */
  val ExactSubstrWords = 15

  /** One hash per WORD POSITION: the [[ExactSubstrWords]]-word
    * window starting at every offset, hashed in a single pass per
    * doc (the [[spanHashUdf]] shape at stride 1 — an HOF lambda
    * over `split(text)` would re-split per element once
    * CollapseProject inlines the alias, the boilerplate-rebuild
    * lesson, so the closure form IS the fast form). */
  /** Word array with DuckDB `string_split` semantics: split with
    * limit -1 KEEPS leading/trailing empty tokens (Java's default
    * limit 0 drops trailing empties, so a doc ending in a space
    * would stream one fewer window engine-side than oracle-side). */
  private[graft] def splitWords(text: String): Array[String] =
    if (text == null) Array.empty[String] else text.split(" ", -1)

  private[graft] def windowHashes(text: String, winLen: Int): Array[Long] = {
    val w = splitWords(text)
    if (w.length < winLen) Array.empty[Long]
    else Array.tabulate(w.length - winLen + 1) { i =>
      val sb = new StringBuilder
      var j = i
      val end = i + winLen
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(w(j))
        j += 1
      }
      md5Hash60(sb.toString)
    }
  }

  private[graft] val substrWinUdf = udf { (text: String) =>
    windowHashes(text, ExactSubstrWords)
  }

  /** Interval scrub: given the sorted 0-based start offsets of
    * removed [[ExactSubstrWords]]-word windows, drop every word
    * covered by any [start, start+L-1] interval (overlaps merge by
    * construction of the single left-to-right sweep) and re-join the
    * survivors byte-exactly. */
  private[graft] def scrubWords(text: String, starts: Seq[Int], winLen: Int): String = {
    val w = splitWords(text)
    val sb = new StringBuilder
    var si = 0
    var coverEnd = -1
    var i = 0
    // count of EMITTED words, not sb.nonEmpty: a kept leading empty
    // token leaves sb empty, and the next word must still get its
    // separator or a leading-space doc rebuilds off by one byte
    var emitted = 0
    while (i < w.length) {
      while (si < starts.length && starts(si) <= i) {
        val e = starts(si) + winLen - 1
        if (e > coverEnd) coverEnd = e
        si += 1
      }
      if (i > coverEnd) {
        if (emitted > 0) sb.append(' ')
        sb.append(w(i))
        emitted += 1
      }
      i += 1
    }
    sb.toString
  }

  private[graft] val substrScrubUdf = udf { (text: String, starts: Seq[Int]) =>
    scrubWords(text, starts, ExactSubstrWords)
  }

  /** Exact duplicated-substring REMOVAL with byte-exact rebuild —
    * the ExactSubstr complement of `line_dedup`: stride-1 sliding
    * windows catch a copied passage at ANY word alignment, where the
    * block dedup only sees copies that land on its fixed 10-word
    * grid (and [[spanDedup]] only REPORTS pairs, removing nothing).
    * Every occurrence of a duplicated [[ExactSubstrWords]]-word
    * window except the global first — min (doc_id, pos), the
    * line_dedup survivorship rule — has its span cut; overlapping
    * cuts merge, so a long copied passage (many overlapping
    * duplicated windows) is removed as one run while its canonical
    * copy survives untouched.
    *
    * Scale shape: ONE scan+UDF pass hashes all windows (single
    * split per doc), ONE min-struct aggregation per window hash (no
    * corpus window, no member lists — a 10⁶-occurrence boilerplate
    * window reduces to min+identity), one hint-free hash rejoin,
    * bounded per-doc start lists (≤ n_words), ONE doc-keyed rebuild
    * join. Same two-shuffle budget as line_dedup. */
  /** (doc_id, pos, h) window-hash rows of any (doc_id, text)
    * relation — the posting stream every substring-dedup variant
    * shares. */
  private def substrWindowRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      posexplode(substrWinUdf(col("text"))).as(Seq("pos", "h")))

  /** Shared tail of the substring-dedup family: per-doc removal
    * starts → interval scrub → byte-exact rebuild row.
    *
    * Counting convention (family-wide, oracle-mirrored): a rebuilt
    * `clean = ""` counts 0 surviving words, even when what survived
    * is a lone empty token of a leading/trailing-space doc — ""
    * contains no words. The byte-exact artifact is `clean_h`;
    * `n_removed` is a word-count under this convention. */
  private def rebuildScrubbed(docs: DataFrame, bad: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(bad, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("clean", substrScrubUdf(col("text"), col("starts")))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        (size(split(col("text"), " ")) -
          when(col("clean") === "", 0)
            .otherwise(size(split(col("clean"), " ")))).cast("long").as("n_removed"),
        length(col("clean")).cast("long").as("len_clean"),
        graft.functions.CrossHash.md5Hash60Col(col("clean")).as("clean_h"))
      .orderBy(col("doc_id"))

  def substrDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents", resplit = true)
    val wins = substrWindowRows(d)
    val first = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    // rows ≠ their hash's min are EXACTLY the occurrences of
    // duplicated windows (a count-1 hash's only row is its min)
    val bad = wins.join(first, Seq("h"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    rebuildScrubbed(d, bad)
  }

  /** Oracle mirror of [[substrDedup]]: stride-1 window hashes via
    * UNNEST-range + list slice, first occurrence as `row_number()
    * OVER (PARTITION BY h ORDER BY doc_id, pos) = 1` (≡ min-struct),
    * rebuild as a list comprehension keeping words no removed
    * interval covers — the 60-bit hash of the rebuilt string must
    * match byte-for-byte. */
  val substrDedupSql: String = {
    val L = ExactSubstrWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $L], ' ')")
    val hCt = graft.functions.CrossHash.sqlHash60("ct")
    s"""WITH es_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |es_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM es_w, UNNEST(range(0, len(w) - ${L - 1})) AS t(i)
       |  WHERE len(w) >= $L),
       |es_rk AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |  FROM es_win),
       |es_bad AS (
       |  SELECT doc_id, list(pos ORDER BY pos) AS starts
       |  FROM es_rk WHERE rk > 1
       |  GROUP BY doc_id),
       |es_clean AS (
       |  SELECT d.doc_id, len(d.w) AS n_words,
       |    -- COALESCE: an all-removed comprehension yields NULL, not
       |    -- '', in DuckDB (the line_dedup all-duplicate-doc lesson)
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(COALESCE(b.starts, CAST([] AS BIGINT[])),
       |             s -> s + 1 <= i AND i <= s + $L)) = 0], ' '), '') AS ct
       |  FROM es_w d LEFT JOIN es_bad b USING (doc_id))
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_words - CASE WHEN ct = '' THEN 0
       |                      ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_removed,
       |  CAST(length(ct) AS BIGINT) AS len_clean,
       |  $hCt AS clean_h
       |FROM es_clean
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus totals for [[substrDedup]] — the one-row audit a
    * substring-dedup run reports (the line_dedup_report twin): docs,
    * words, removed words, and bytes saved from the byte-exact
    * rebuilt lengths. Total on an empty corpus. */
  def substrDedupReport(s: SparkSession, dir: String): DataFrame = {
    val lens = t(s, dir, "documents", resplit = true)
      .select(col("doc_id"), length(col("text")).cast("long").as("len0"))
    substrDedup(s, dir).join(lens, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).as("n_words"),
        coalesce(sum(col("n_removed")), lit(0L)).as("n_removed_words"),
        coalesce(sum(col("len0") - col("len_clean")), lit(0L)).as("bytes_saved"))
  }

  lazy val substrDedupReportSql: String =
    s"""WITH sr AS MATERIALIZED (SELECT * FROM ($substrDedupSql))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(r.n_words), 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(SUM(r.n_removed), 0) AS BIGINT) AS n_removed_words,
       |  CAST(COALESCE(SUM(length(d.text) - r.len_clean), 0) AS BIGINT) AS bytes_saved
       |FROM sr r JOIN documents d USING (doc_id)""".stripMargin

  // ---- Variable-length exact-substring removal (maximal runs) ----

  /** Atomic window length for [[substrDedupMaximal]] — FINER than the
    * removable-span threshold, which is the whole point: with
    * [[ExactSubstrWords]]-word windows a 14-word verbatim copy is
    * invisible (no window fits inside it), so the window length is a
    * silent recall knob. Detection runs at this grain and the
    * REMOVAL decision at [[MaximalMinSpanWords]]. */
  val MaximalAtomWords = 8

  /** Minimum duplicated-run length, in words, that
    * [[substrDedupMaximal]] removes. Any duplicated span of s ≥ this
    * contains s − [[MaximalAtomWords]] + 1 consecutive duplicated
    * atomic windows, so its island measures exactly s words. */
  val MaximalMinSpanWords = 12

  private[graft] val maximalWinUdf = udf { (text: String) =>
    windowHashes(text, MaximalAtomWords)
  }

  /** [[scrubWords]] for explicit inclusive word intervals
    * [starts(k), ends(k)], sorted by start. Same emitted-count
    * separator rule (byte-exact on leading/trailing-space docs). */
  private[graft] def scrubIntervals(text: String, starts: Seq[Int], ends: Seq[Int]): String = {
    val w = splitWords(text)
    val sb = new StringBuilder
    var si = 0
    var coverEnd = -1
    var i = 0
    var emitted = 0
    while (i < w.length) {
      while (si < starts.length && starts(si) <= i) {
        if (ends(si) > coverEnd) coverEnd = ends(si)
        si += 1
      }
      if (i > coverEnd) {
        if (emitted > 0) sb.append(' ')
        sb.append(w(i))
        emitted += 1
      }
      i += 1
    }
    sb.toString
  }

  private[graft] val intervalScrubUdf = udf { (text: String, ss: Seq[Int], ee: Seq[Int]) =>
    scrubIntervals(text, ss, ee)
  }

  /** VARIABLE-LENGTH exact-substring removal — the actual Lee et
    * al. 2022 ExactSubstr semantics, suffix-array-free: duplicated
    * runs are cut at ANY length ≥ [[MaximalMinSpanWords]], not only
    * when a fixed [[ExactSubstrWords]]-word window fits. Detection
    * uses FINE [[MaximalAtomWords]]-word atomic windows; consecutive
    * duplicated window positions merge into maximal islands (the
    * [[memorizationSpans]] gaps-and-islands machinery composed into
    * the scrub path); an island of run r covers exactly r + atom − 1
    * words, and only islands of span ≥ the threshold are removed —
    * an isolated atomic-window coincidence (span 8 < 12) survives.
    * Survivorship stays first-occurrence at the window grain: a
    * window whose global min (doc_id, pos) lands in this doc is not
    * "bad" here, so the canonical copy of a passage keeps it.
    *
    * Over-approximation note (shared with every windowed ExactSubstr):
    * consecutive windows duplicated against DIFFERENT sources still
    * merge into one island — the removed run is a union of verbatim
    * duplications, not necessarily one contiguous copy of a single
    * source.
    *
    * Scale shape: the first-occurrence election is PERSISTED — the
    * bucketed [[MaximalIndex]] table, built once and probed by
    * all three maximal queries — so each query is one map-only
    * posting pass + one probe-side shuffle into the index's buckets
    * (the corpus side never re-shuffles), plus the DOC-keyed islands
    * window (bounded by doc length, never corpus-wide) and one
    * doc-keyed rebuild join. */
  /** Maximal duplicated-run intervals (doc_id, s, e) over the
    * atomic-window posting stream, UNFILTERED by span — shared by
    * [[substrDedupMaximal]] (which cuts spans ≥ the threshold) and
    * [[substrThresholdSweep]] (which audits the threshold knob over
    * the span distribution). */
  /** The atom-window posting stream: one (doc_id, pos, h) row per
    * [[MaximalAtomWords]]-word window position. */
  private def maximalWindowRows(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      posexplode(maximalWinUdf(col("text"))).as(Seq("pos", "h")))

  /** Gaps-and-islands over a (doc_id, pos) bad-position relation:
    * consecutive duplicated window positions merge into maximal
    * intervals [s, e] (inclusive word indices; an island of run r
    * covers r + atom − 1 words). DOC-keyed window — bounded by doc
    * length, never corpus-wide. */
  private def islandsFromBad(bad: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    bad
      .withColumn("island", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(MaximalAtomWords - 1)).as("e"))
  }

  /** INLINE maximal-islands build (no persisted index): per-hash
    * min-struct first occurrence over the posting stream, then
    * islands. Kept as the drift oracle for the INDEXED path —
    * MaximalIndexSpec asserts probe ≡ inline bit-for-bit. */
  private[graft] def maximalIslandsInline(d: DataFrame): DataFrame = {
    val wins = maximalWindowRows(d)
    val first = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    islandsFromBad(wins.join(first, Seq("h"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"), col("pos")))
  }

  /** Maximal islands against a PERSISTED first-occurrence relation
    * (h, f_doc, f_pos): the posting stream joins the bucketed index
    * — only the probe side shuffles — and a row is bad iff it is not
    * its hash's recorded global first. Bit-equal to
    * [[maximalIslandsInline]] when the index covers the same corpus. */
  private def maximalIslandsIndexed(d: DataFrame, firsts: DataFrame): DataFrame =
    islandsFromBad(maximalWindowRows(d).join(firsts, Seq("h"))
      .filter(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"), col("pos")))

  /** Byte-exact interval rebuild: drop every word covered by an
    * interval, keep everything else, single-space separators — the
    * shared tail of [[substrDedupMaximal]] and [[maximalScrubIndexed]]. */
  private def rebuildFromIslands(d: DataFrame, iv: DataFrame): DataFrame = {
    val ivl = iv.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
      .select(col("doc_id"),
        expr("transform(iv, x -> x.s)").as("ss"),
        expr("transform(iv, x -> x.e)").as("ee"))
    d.select(col("doc_id"), col("text"))
      .join(ivl, Seq("doc_id"), "left")
      .withColumn("ss", coalesce(col("ss"), array().cast("array<int>")))
      .withColumn("ee", coalesce(col("ee"), array().cast("array<int>")))
      .withColumn("clean", intervalScrubUdf(col("text"), col("ss"), col("ee")))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        (size(split(col("text"), " ")) -
          when(col("clean") === "", 0)
            .otherwise(size(split(col("clean"), " ")))).cast("long").as("n_removed"),
        length(col("clean")).cast("long").as("len_clean"),
        graft.functions.CrossHash.md5Hash60Col(col("clean")).as("clean_h"))
      .orderBy(col("doc_id"))
  }

  def substrDedupMaximal(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val iv = maximalIslandsIndexed(d, maximalIndexFirsts(s, MaximalIndex(s, dir)))
      .filter(col("e") - col("s") + 1 >= MaximalMinSpanWords)
    rebuildFromIslands(d, iv)
  }

  /** Oracle mirror of [[substrDedupMaximal]]: atomic window hashes,
    * rank-1 first occurrence, gaps-and-islands intervals with the
    * span HAVING filter, rebuild keeping words no interval covers
    * (list_zip pairs the parallel start/end lists). */
  val substrDedupMaximalSql: String = {
    val A = MaximalAtomWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $A], ' ')")
    val hCt = graft.functions.CrossHash.sqlHash60("ct")
    s"""WITH mx_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |mx_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM mx_w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |mx_rk AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |  FROM mx_win),
       |mx_isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM mx_rk WHERE rk > 1),
       |mx_iv AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${A - 1} AS e
       |  FROM mx_isl GROUP BY doc_id, island
       |  HAVING MAX(pos) + $A - MIN(pos) >= $MaximalMinSpanWords),
       |mx_ivl AS (
       |  SELECT doc_id, list(s ORDER BY s) AS ss, list(e ORDER BY s) AS ee
       |  FROM mx_iv GROUP BY doc_id),
       |mx_clean AS (
       |  SELECT d.doc_id, len(d.w) AS n_words,
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(list_zip(COALESCE(b.ss, CAST([] AS BIGINT[])),
       |                                  COALESCE(b.ee, CAST([] AS BIGINT[]))),
       |             v -> v[1] + 1 <= i AND i <= v[2] + 1)) = 0], ' '), '') AS ct
       |  FROM mx_w d LEFT JOIN mx_ivl b USING (doc_id))
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_words - CASE WHEN ct = '' THEN 0
       |                      ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_removed,
       |  CAST(length(ct) AS BIGINT) AS len_clean,
       |  $hCt AS clean_h
       |FROM mx_clean
       |ORDER BY doc_id""".stripMargin
  }

  /** Span thresholds audited by [[substrThresholdSweep]] — all ≥
    * [[MaximalAtomWords]] (a run shorter than the atom is
    * structurally undetectable, the sweep's floor). */
  val SubstrSweepThresholds: Seq[Int] = Seq(8, 10, 12, 15, 20)

  /** Removal-threshold SWEEP for the variable-length scrub — the
    * knob audit that makes the window length's recall cost VISIBLE
    * instead of silent: for each candidate threshold, how many
    * maximal duplicated runs clear it and how many words they would
    * remove. Reading the curve tells a release where the duplicated
    * mass lives (a cliff between 12 and 15 means the fixed 15-word
    * grid was leaving most of it in).
    *
    * Scale shape: ONE posting-stream + islands pass (shared with
    * [[substrDedupMaximal]]) reduced to per-island spans; the whole
    * grid is conditional sums in ONE 1-row aggregation stacked to
    * grid rows (the quality_threshold_sweep shape) — never
    * grid × corpus. Grid-total on an empty corpus. */
  def substrThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val spans = maximalIslandsIndexed(t(s, dir, "documents"),
        maximalIndexFirsts(s, MaximalIndex(s, dir)))
      .select((col("e") - col("s") + 1).as("span"))
    val aggs = SubstrSweepThresholds.flatMap(th => Seq(
      coalesce(sum(when(col("span") >= th, 1L).otherwise(0L)), lit(0L)).as(s"n$th"),
      coalesce(sum(when(col("span") >= th, col("span").cast("long")).otherwise(0L)),
        lit(0L)).as(s"w$th")))
    val stackExpr = SubstrSweepThresholds
      .map(th => s"$th, n$th, w$th").mkString(", ")
    spans.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${SubstrSweepThresholds.size}, $stackExpr) " +
        "AS (threshold, n_spans, removable_words)")
      .orderBy(col("threshold"))
  }

  /** Composes the maximal-islands SQL without the HAVING cut; per-
    * threshold cells as conditional sums over ONE pass, UNION ALL
    * rows. */
  val substrThresholdSweepSql: String = {
    val A = MaximalAtomWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $A], ' ')")
    val cells = SubstrSweepThresholds.map(th =>
      s"""COALESCE(SUM(CASE WHEN span >= $th THEN 1 ELSE 0 END), 0) AS n$th,
         |    COALESCE(SUM(CASE WHEN span >= $th THEN span ELSE 0 END), 0) AS w$th""".stripMargin)
      .mkString(",\n    ")
    val rows = SubstrSweepThresholds.map(th =>
      s"""SELECT $th AS threshold, CAST(n$th AS BIGINT) AS n_spans,
         |  CAST(w$th AS BIGINT) AS removable_words FROM ts_a""".stripMargin)
      .mkString("\nUNION ALL ")
    s"""WITH ts_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ts_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM ts_w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |ts_rk AS (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
       |  FROM ts_win),
       |ts_isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM ts_rk WHERE rk > 1),
       |ts_sp AS (
       |  SELECT MAX(pos) + $A - MIN(pos) AS span
       |  FROM ts_isl GROUP BY doc_id, island),
       |ts_a AS (
       |  SELECT $cells
       |  FROM ts_sp)
       |$rows
       |ORDER BY threshold""".stripMargin
  }

  /** Corpus totals for [[substrDedupMaximal]] — the
    * [[substrDedupReport]] twin for the variable-length scrub, and
    * the number a threshold review compares against the fixed-grid
    * report: the words the 15-word grid was leaving in. */
  def substrMaximalReport(s: SparkSession, dir: String): DataFrame = {
    val lens = t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len0"))
    substrDedupMaximal(s, dir).join(lens, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).as("n_words"),
        coalesce(sum(col("n_removed")), lit(0L)).as("n_removed_words"),
        coalesce(sum(col("len0") - col("len_clean")), lit(0L)).as("bytes_saved"))
  }

  lazy val substrMaximalReportSql: String =
    s"""WITH smr AS MATERIALIZED (SELECT * FROM ($substrDedupMaximalSql))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(r.n_words), 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(SUM(r.n_removed), 0) AS BIGINT) AS n_removed_words,
       |  CAST(COALESCE(SUM(length(d.text) - r.len_clean), 0) AS BIGINT) AS bytes_saved
       |FROM smr r JOIN documents d USING (doc_id)""".stripMargin

  /** Per-doc memorization risk — the Carlini-style signal a
    * regurgitation audit ranks on: the fraction of a doc's
    * [[ExactSubstrWords]]-word windows that occur more than once
    * corpus-wide (verbatim-duplicated text is what models emit
    * verbatim; Lee et al. 2022 §6, Carlini et al. 2022). Top-50 by
    * duplicated fraction, ties to the lower doc.
    *
    * Scale shape: the substring posting stream, ONE count per window
    * hash (no member lists), one hash rejoin, one per-doc
    * aggregation of two integers. */
  def memorizationReport(s: SparkSession, dir: String): DataFrame = {
    val wins = substrWindowRows(t(s, dir, "documents"))
    val counts = wins.groupBy(col("h")).agg(count(lit(1)).as("n"))
    wins.join(counts, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        r6(col("n_dup_windows").cast("double") / col("n_windows")))
      .orderBy(col("dup_frac").desc, col("doc_id"))
      .limit(50)
  }

  val memorizationReportSql: String = {
    val L = ExactSubstrWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $L], ' ')")
    s"""WITH mr_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |mr_win AS MATERIALIZED (
       |  SELECT doc_id, $hWin AS h
       |  FROM mr_w, UNNEST(range(0, len(w) - ${L - 1})) AS t(i)
       |  WHERE len(w) >= $L),
       |mr_cnt AS (SELECT h, COUNT(*) AS n FROM mr_win GROUP BY h)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |  CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       |  round(CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) + 0 AS dup_frac
       |FROM mr_win JOIN mr_cnt USING (h)
       |GROUP BY doc_id
       |ORDER BY dup_frac DESC, doc_id
       |LIMIT 50""".stripMargin
  }

  // ---- Incremental substring scrub against a persisted window index ----

  /** Scrub `batch` docs of every [[ExactSubstrWords]]-word window
    * PRESENT in `corpusHashes` (a relation with an `h` column) —
    * corpus occurrences are canonical by definition (they were there
    * first), so the probe is one LEFT SEMI join of the batch's
    * window stream against the hash set, never a pair expansion; a
    * boilerplate window shared by 10⁶ corpus docs is ONE index row
    * and needs no cap. */
  private def substrScrubAgainst(batch: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val bad = substrWindowRows(batch)
      .join(corpusHashes.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    rebuildScrubbed(batch, bad)
  }

  /** Inline incremental substring scrub over EXPLICIT batch/corpus
    * document relations — the ExactSubstr twin of
    * [[dedupIncrementalOf]]'s arrival regime: `batch` docs are
    * scrubbed of every window that occurs ANYWHERE in `corpus` — a
    * copied corpus passage is cut from the new doc at any alignment
    * while the corpus keeps its copy. Same byte-exact rebuild
    * contract as [[substrDedup]]. The at-scale story is
    * [[substrScrubIndexed]]: the corpus side becomes a persisted
    * DISTINCT-hash table bucketed on `h`, so only the batch
    * shuffles. */
  def substrScrubIncrementalOf(batch: DataFrame, corpus: DataFrame): DataFrame =
    substrScrubAgainst(batch,
      substrWindowRows(corpus).select(col("h")).distinct())

  /** The registered fixture form: docs with doc_id % 10 = 0 play the
    * arriving batch, the rest the standing corpus — the arrival
    * convention lives HERE, not in the operator. */
  def substrScrubIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    substrScrubIncrementalOf(
      d.filter(col("doc_id") % 10 === 0),
      d.filter(col("doc_id") % 10 =!= 0))
  }

  /** Oracle mirror of [[substrScrubIncremental]]: corpus-half
    * distinct window hashes, batch windows filtered by membership,
    * the shared comprehension rebuild. */
  val substrScrubIncrementalSql: String = {
    val L = ExactSubstrWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $L], ' ')")
    val hCt = graft.functions.CrossHash.sqlHash60("ct")
    s"""WITH si_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |si_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM si_w, UNNEST(range(0, len(w) - ${L - 1})) AS t(i)
       |  WHERE len(w) >= $L),
       |si_corpus AS MATERIALIZED (
       |  SELECT DISTINCT h FROM si_win WHERE doc_id % 10 <> 0),
       |si_bad AS (
       |  SELECT doc_id, list(pos ORDER BY pos) AS starts
       |  FROM si_win
       |  WHERE doc_id % 10 = 0 AND h IN (SELECT h FROM si_corpus)
       |  GROUP BY doc_id),
       |si_clean AS (
       |  SELECT d.doc_id, len(d.w) AS n_words,
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(COALESCE(b.starts, CAST([] AS BIGINT[])),
       |             s -> s + 1 <= i AND i <= s + $L)) = 0], ' '), '') AS ct
       |  FROM si_w d LEFT JOIN si_bad b USING (doc_id)
       |  WHERE d.doc_id % 10 = 0)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_words - CASE WHEN ct = '' THEN 0
       |                      ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_removed,
       |  CAST(length(ct) AS BIGINT) AS len_clean,
       |  $hCt AS clean_h
       |FROM si_clean
       |ORDER BY doc_id""".stripMargin
  }

  /** Format version stamped onto every persisted dedup-index table
    * (substring window index, band index, maximal atom-window
    * index) as the `graft.index.format` table property, and REQUIRED
    * by every probe/compaction that consumes one. Bump whenever a
    * key derivation changes the stored hash space — v2 records the
    * split-parity change (`split(text, " ", -1)`: leading/trailing/
    * double-space docs hash differently than v1 builds), which would
    * otherwise make a pre-change index MISS new duplicates silently.
    * A stale or unstamped generation now fails loudly at probe time;
    * the remedy is a rebuild (writeSubstrIndex / writeBandIndex /
    * writeMaximalIndex), not a quiet partial match. */
  val IndexFormatVersion = 2

  /** `saveAsTable(Overwrite)` on a name NOT in this session's catalog
    * is a CREATE, and a managed-table CREATE refuses a stale nonempty
    * location left by a PREVIOUS session's build (an in-memory
    * catalog forgets its tables at JVM exit, but the warehouse
    * directory survives). Overwrite semantics across sessions: if the
    * name is registered, the writer's own overwrite handles it; if
    * not, clear the stale managed location first. */
  private def prepareManagedOverwrite(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val ident = s.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, /* recursive = */ true)
    }

  /** The one writer of every bucketed dedup-index table (substring,
    * maximal, band; build and compaction alike): clear a stale
    * managed location, write `rows` bucketed and sorted on `key`, then
    * stamp the format version. The write parallelism is aligned with
    * the bucket count: repartition and bucketBy share Murmur3
    * HashPartitioning, so every task holds exactly one bucket and the
    * layout lands as ONE file per bucket at ANY cluster parallelism
    * (an unaligned shuffle count writes up to tasks x buckets files —
    * invisible at local[32], where 32 divides 64, but real
    * fragmentation on a cluster). With `withCounts` (the band index)
    * the `<table>_counts` sidecar is written from the rows just
    * written BEFORE the stamp: a stamped table without its sidecar
    * would probe through the pre-sidecar fallback. */
  private def writeBucketed(
      rows: DataFrame, key: String, table: String, withCounts: Boolean = false): Unit = {
    val s = rows.sparkSession
    prepareManagedOverwrite(s, table)
    if (withCounts) prepareManagedOverwrite(s, table + "_counts")
    rows.repartition(BandIndexBuckets, col(key))
      .write.mode("overwrite")
      .bucketBy(BandIndexBuckets, key).sortBy(key)
      .saveAsTable(table)
    // counting the persisted relation costs one index-table scan, where
    // re-deriving the band rows would re-run the md5 shingle + minhash
    // passes a second time — at 100 TB the signature pass IS the build
    if (withCounts)
      bandBucketCounts(s.table(table)).write.mode("overwrite").saveAsTable(table + "_counts")
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.index.format' = '$IndexFormatVersion')")
  }

  /** The bucketed tables' [[Maintenance.mergePolicy]]: one listing of
    * the catalog location (resolved through the catalog API — string-
    * parsing DESCRIBE EXTENDED output breaks silently across metastore
    * formats); past `maxFilesPerBucket` average files per bucket,
    * `compact`. */
  private def maintainBucketed(
      s: SparkSession, family: String, table: String, maxFilesPerBucket: Int)(
      compact: => Unit): Boolean =
    Maintenance.mergePolicy(s, family, Maintenance.tableMeta(s, table).location.toString)(
      (files, _) => files > maxFilesPerBucket.toLong * BandIndexBuckets)(compact)

  private[graft] def requireIndexFormat(s: SparkSession, table: String): Unit = {
    val props = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table)).properties
    val got = props.get("graft.index.format")
    require(got.contains(IndexFormatVersion.toString),
      s"index table $table is format ${got.getOrElse("<unstamped>")} but this engine " +
        s"writes/probes format $IndexFormatVersion — the hash derivation changed " +
        "(e.g. the split-parity fix), so probing it would mismatch quietly; " +
        "rebuild the index instead of probing a stale generation")
  }

  /** Materialize the corpus's DISTINCT window hashes as a bucketed
    * table — the substring analog of [[writeBandIndex]], and smaller
    * by construction: the scrub probe only needs set membership, so
    * the index stores one row per distinct hash (no postings, no
    * counts sidecar, no cap — a boilerplate window repeated 10⁶
    * times is one row). Bucketed on `h` so a probing batch shuffles
    * only itself (SubstrIndexSpec pins the single Exchange). */
  def writeSubstrIndexOf(docs: DataFrame, table: String): Unit =
    writeBucketed(substrWindowRows(docs).select(col("h")).distinct(), "h", table)

  /** Corpus-half (doc_id % 10 ≠ 0) substring index — the fixture's
    * arrival convention over [[writeSubstrIndexOf]]. */
  def writeSubstrIndex(s: SparkSession, dir: String, table: String): Unit =
    writeSubstrIndexOf(
      t(s, dir, "documents", resplit = true).filter(col("doc_id") % 10 =!= 0), table)

  /** Append a new corpus segment's distinct window hashes. Appends
    * may re-insert hashes already present — membership semantics are
    * unaffected (the probe is a semi join) and
    * [[compactSubstrIndex]] folds duplicates away. Format-checked:
    * appending v2 hashes into a v1 generation would mix hash spaces
    * inside one table, the quietest corruption of all. */
  def appendSubstrIndex(batch: DataFrame, table: String): Unit = {
    requireIndexFormat(batch.sparkSession, table)
    substrWindowRows(batch)
      .select(col("h")).distinct()
      .repartition(BandIndexBuckets, col("h"))
      .write.mode("append").insertInto(table)
  }

  /** [[substrScrubIncremental]] against the PERSISTED index: the
    * arriving batch computes its own window stream and semi-joins
    * the bucketed hash table — the corpus side never shuffles.
    * Bit-equal to the inline form (SubstrIndexSpec asserts it). */
  def substrScrubIndexedOf(batch: DataFrame, table: String): DataFrame = {
    requireIndexFormat(batch.sparkSession, table)
    substrScrubAgainst(batch, batch.sparkSession.table(table))
  }

  def substrScrubIndexed(s: SparkSession, dir: String, table: String): DataFrame =
    substrScrubIndexedOf(
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0), table)

  /** Rewrite an appended-to substring index into a fresh generation:
    * distinct-fold the hash rows into clean bucketed files. A NEW
    * table, never in place — the generation-swap rule. */
  def compactSubstrIndex(s: SparkSession, table: String, outTable: String): Unit = {
    requireIndexFormat(s, table)
    writeBucketed(s.table(table).select(col("h")).distinct(), "h", outTable)
  }

  /** The substring index's merge policy ([[maintainBucketed]]).
    * Returns true when [[compactSubstrIndex]] ran into `outTable`. */
  def maintainSubstrIndex(
      s: SparkSession, table: String, outTable: String,
      maxFilesPerBucket: Int = DefaultMaxFilesPerBucket): Boolean =
    maintainBucketed(s, "substring", table, maxFilesPerBucket)(compactSubstrIndex(s, table, outTable))

  // ---- Persisted maximal atom-window index ----

  /** Per-hash GLOBAL first occurrence of every [[MaximalAtomWords]]-
    * word window in `docs` — the maximal-substr family's persisted
    * form. One row per distinct hash (h, f_doc, f_pos): survivorship
    * needs the min-struct, not postings, so a boilerplate window
    * repeated 10⁶ times is still ONE row. */
  private def maximalFirstRows(docs: DataFrame): DataFrame =
    maximalWindowRows(docs).groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("h"), col("f.doc_id").as("f_doc"), col("f.pos").as("f_pos"))

  /** Materialize the atom-window first-occurrence index for an
    * arbitrary corpus relation, bucketed on `h` so probes shuffle
    * only themselves — [[writeSubstrIndex]]'s pattern extended to
    * the [[MaximalAtomWords]] grid (the 15-word index stores bare
    * membership; the maximal family also needs WHO was first, so
    * the canonical copy of a passage keeps it). */
  def writeMaximalIndexOf(docs: DataFrame, table: String): Unit =
    writeBucketed(maximalFirstRows(docs), "h", table)

  /** Corpus-half (doc_id % 10 ≠ 0) maximal index — the incremental
    * arrival convention shared with [[writeSubstrIndex]]. */
  def writeMaximalIndex(s: SparkSession, dir: String, table: String): Unit =
    writeMaximalIndexOf(t(s, dir, "documents", resplit = true).filter(col("doc_id") % 10 =!= 0), table)

  /** Append a new corpus segment's per-hash firsts. A hash already
    * present gains a second row; probes min-fold across segments
    * ([[maximalIndexFirsts]]), so the GLOBAL first is the min of
    * per-segment firsts — append order cannot change an answer.
    * [[compactMaximalIndex]] folds the duplicates away. */
  def appendMaximalIndex(batch: DataFrame, table: String): Unit = {
    requireIndexFormat(batch.sparkSession, table)
    maximalFirstRows(batch)
      .repartition(BandIndexBuckets, col("h"))
      .write.mode("append").insertInto(table)
  }

  /** Probe-side view of a maximal index: per-hash min across
    * appended segments. GroupBy on the bucketing key — the fold
    * never shuffles the index (MaximalIndexSpec pins the single
    * Exchange, the probe's own). */
  private[graft] def maximalIndexFirsts(s: SparkSession, table: String): DataFrame = {
    requireIndexFormat(s, table)
    s.table(table)
      .groupBy(col("h"))
      .agg(min(struct(col("f_doc").as("doc_id"), col("f_pos").as("pos"))).as("f"))
      .select(col("h"), col("f.doc_id").as("f_doc"), col("f.pos").as("f_pos"))
  }

  /** Rewrite an appended-to maximal index into a fresh generation:
    * min-fold the per-segment firsts into clean bucketed files. A
    * NEW table, never in place — the generation-swap rule. */
  def compactMaximalIndex(s: SparkSession, table: String, outTable: String): Unit =
    writeBucketed(maximalIndexFirsts(s, table), "h", outTable)

  /** Build-once-probe-many for the registered maximal queries: the
    * FULL-corpus first-occurrence index materializes lazily (once
    * per session + fixture fingerprint — an overwritten fixture dir
    * rebuilds) and `substr_dedup_maximal`, `substr_threshold_sweep`,
    * and `substr_maximal_report` all PROBE it instead of each
    * re-electing firsts over the posting stream twice. In a
    * production pipeline this table is the standing artifact the
    * nightly scrub maintains (append + compact + vacuum, above); the
    * bench protocol times the build as `substr_dedup_maximal`'s cold
    * cost and the other two as consumers (the PCA fitter/consumer
    * convention). The value is the table name, suffixed by the fit's
    * key so an overwritten fixture builds a new table. */
  private[graft] val MaximalIndex: Fits.Fit[String] =
    Fits("dedup.maximal_index", "documents") { (s, dir) =>
      val table = "graft_mx_idx_" + OpsShared.tableSuffix(MaximalIndex.key(dir))
      writeMaximalIndexOf(t(s, dir, "documents", resplit = true), table)
      table
    }

  /** The indexed islands relation over the FULL corpus — what the
    * three registered maximal queries share; exposed for the spec
    * that pins probe ≡ inline election. */
  private[graft] def maximalIslandsProbed(s: SparkSession, dir: String): DataFrame =
    maximalIslandsIndexed(t(s, dir, "documents"),
      maximalIndexFirsts(s, MaximalIndex(s, dir)))

  /** Shared probe body of the incremental maximal scrub: batch
    * windows semi-join a corpus hash-set relation (membership
    * suffices — an arriving doc is never the corpus first, so every
    * hit is a duplicated position), islands merge per doc, and only
    * runs ≥ [[MaximalMinSpanWords]] are cut (the sub-threshold-
    * coincidence survival rule, preserved from the batch op). */
  private def maximalScrubAgainst(batch: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val iv = islandsFromBad(
        maximalWindowRows(batch).join(corpusHashes.select(col("h")), Seq("h"), "left_semi"))
      .filter(col("e") - col("s") + 1 >= MaximalMinSpanWords)
    rebuildFromIslands(batch, iv)
  }

  /** Inline incremental maximal scrub — the variable-length twin of
    * [[substrScrubIncremental]]: arriving docs (doc_id % 10 = 0) are
    * cut of every maximal duplicated run ≥ [[MaximalMinSpanWords]]
    * against the standing corpus (% 10 ≠ 0), detected at the
    * [[MaximalAtomWords]] grain — a 14-word copied passage the
    * fixed-grid incremental scrub is blind to is cut here at any
    * alignment. The at-scale story is [[maximalScrubIndexed]]: the
    * corpus side becomes the persisted bucketed index. */
  def maximalScrubIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val corpus = maximalWindowRows(d.filter(col("doc_id") % 10 =!= 0))
      .select(col("h")).distinct()
    maximalScrubAgainst(d.filter(col("doc_id") % 10 === 0), corpus)
  }

  /** Oracle mirror of [[maximalScrubIncremental]]: corpus-half
    * distinct atom-window hashes, batch windows filtered by
    * membership, per-doc islands with the span HAVING cut, the
    * shared interval-comprehension rebuild. */
  val maximalScrubIncrementalSql: String = {
    val A = MaximalAtomWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $A], ' ')")
    val hCt = graft.functions.CrossHash.sqlHash60("ct")
    s"""WITH mi_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |mi_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM mi_w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |mi_corpus AS MATERIALIZED (
       |  SELECT DISTINCT h FROM mi_win WHERE doc_id % 10 <> 0),
       |mi_isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM mi_win
       |  WHERE doc_id % 10 = 0 AND h IN (SELECT h FROM mi_corpus)),
       |mi_iv AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${A - 1} AS e
       |  FROM mi_isl GROUP BY doc_id, island
       |  HAVING MAX(pos) + $A - MIN(pos) >= $MaximalMinSpanWords),
       |mi_ivl AS (
       |  SELECT doc_id, list(s ORDER BY s) AS ss, list(e ORDER BY s) AS ee
       |  FROM mi_iv GROUP BY doc_id),
       |mi_clean AS (
       |  SELECT d.doc_id, len(d.w) AS n_words,
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(list_zip(COALESCE(b.ss, CAST([] AS BIGINT[])),
       |                                  COALESCE(b.ee, CAST([] AS BIGINT[]))),
       |             v -> v[1] + 1 <= i AND i <= v[2] + 1)) = 0], ' '), '') AS ct
       |  FROM mi_w d LEFT JOIN mi_ivl b USING (doc_id)
       |  WHERE d.doc_id % 10 = 0)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_words - CASE WHEN ct = '' THEN 0
       |                      ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_removed,
       |  CAST(length(ct) AS BIGINT) AS len_clean,
       |  $hCt AS clean_h
       |FROM mi_clean
       |ORDER BY doc_id""".stripMargin
  }

  // ---- Post-scrub residual-contamination audit ----

  /** What the maximal scrub's min-span policy LEAVES BEHIND: scrub
    * `batch` against `corpus` (the [[maximalScrubIncremental]]
    * chain, verbatim), then re-derive the CLEANED docs'
    * [[MaximalAtomWords]]-gram windows and count how many still hit
    * the corpus hash set. Residuals are structural, not bugs: (a)
    * duplicated runs shorter than [[MaximalMinSpanWords]] are
    * flagged-but-not-cut by design, and (b) a cut can splice two
    * survivors into a NEW window that happens to hit. The report is
    * the release decision between scrubbing at 8/12 and tightening
    * the span (or going to the fixed-grid full cut): one row —
    * batch docs, windows and corpus hits before, windows and hits
    * after, and the residual fraction (hits_after / hits_before).
    *
    * Scale shape: corpus hashes derive ONCE and are used three
    * times (probe, before-count, after-count — at 100 TB this side
    * is the persisted bucketed index, [[maximalScrubIndexedOf]]'s
    * convention); hit counting is a LEFT join against the DISTINCT
    * hash set (no row multiplication) folded straight into a 1-row
    * aggregate per side, joined by the broadcast-scalar
    * convention. */
  private def maximalScrubResidualAgainst(
      batch: DataFrame, corpusHashes: DataFrame): DataFrame = {
    val iv = islandsFromBad(
        maximalWindowRows(batch).join(corpusHashes, Seq("h"), "left_semi"))
      .filter(col("e") - col("s") + 1 >= MaximalMinSpanWords)
    val ivl = iv.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
      .select(col("doc_id"),
        expr("transform(iv, x -> x.s)").as("ss"),
        expr("transform(iv, x -> x.e)").as("ee"))
    val cleaned = batch.select(col("doc_id"), col("text"))
      .join(ivl, Seq("doc_id"), "left")
      .withColumn("ss", coalesce(col("ss"), array().cast("array<int>")))
      .withColumn("ee", coalesce(col("ee"), array().cast("array<int>")))
      .select(col("doc_id"),
        intervalScrubUdf(col("text"), col("ss"), col("ee")).as("text"))
    // hit counting: LEFT join against the DISTINCT hash set (no row
    // multiplication) folded straight into a 1-row aggregate
    def winStats(docs: DataFrame, suffix: String): DataFrame =
      maximalWindowRows(docs)
        .join(corpusHashes.withColumn("one", lit(1L)), Seq("h"), "left")
        .agg(count(lit(1)).as(s"n_windows_$suffix"),
          coalesce(sum(col("one")), lit(0L)).as(s"n_hits_$suffix"))
    batch.agg(count(lit(1)).as("n_batch_docs"))
      .crossJoin(winStats(batch, "before"))
      .crossJoin(winStats(cleaned, "after"))
      .select(col("n_batch_docs"),
        col("n_windows_before"), col("n_hits_before"),
        col("n_windows_after"), col("n_hits_after"),
        r6(when(col("n_hits_before") === 0, 0.0)
          .otherwise(col("n_hits_after").cast("double") / col("n_hits_before")))
          .as("residual_frac"))
  }

  def maximalScrubResidualOf(batch: DataFrame, corpus: DataFrame): DataFrame =
    maximalScrubResidualAgainst(batch,
      maximalWindowRows(corpus).select(col("h")).distinct())

  /** The registered fixture form — the %10 arrival split, like its
    * scrub ([[maximalScrubIncremental]]). */
  def maximalScrubResidual(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    maximalScrubResidualOf(
      d.filter(col("doc_id") % 10 === 0),
      d.filter(col("doc_id") % 10 =!= 0))
  }

  /** [[maximalScrubResidualOf]] against the PERSISTED corpus index —
    * the at-scale form ([[maximalScrubIndexedOf]]'s convention): the
    * bucketed hash table serves the probe and both hit counts, so
    * the corpus is never re-derived (nor shuffled) per audit.
    * Format-gated like every index consumer. */
  def maximalScrubResidualIndexedOf(batch: DataFrame, table: String): DataFrame = {
    requireIndexFormat(batch.sparkSession, table)
    // DISTINCT because appended (uncompacted) generations re-insert
    // hashes — a duplicate h must not double-count hits; on the
    // bucketed table the distinct is bucket-local, no exchange
    maximalScrubResidualAgainst(batch,
      batch.sparkSession.table(table).select(col("h")).distinct())
  }

  /** Oracle mirror of [[maximalScrubResidual]]: the incremental
    * scrub's own CTE chain (`msr_` prefixes) extended with the
    * cleaned docs' re-derived window stream; hits count by
    * membership in the SAME corpus hash CTE. */
  val maximalScrubResidualSql: String = {
    val A = MaximalAtomWords
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $A], ' ')")
    val hCw = graft.functions.CrossHash.sqlHash60(s"array_to_string(cw[i + 1 : i + $A], ' ')")
    s"""WITH msr_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |msr_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM msr_w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |msr_corpus AS MATERIALIZED (
       |  SELECT DISTINCT h FROM msr_win WHERE doc_id % 10 <> 0),
       |msr_isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM msr_win
       |  WHERE doc_id % 10 = 0 AND h IN (SELECT h FROM msr_corpus)),
       |msr_iv AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${A - 1} AS e
       |  FROM msr_isl GROUP BY doc_id, island
       |  HAVING MAX(pos) + $A - MIN(pos) >= $MaximalMinSpanWords),
       |msr_ivl AS (
       |  SELECT doc_id, list(s ORDER BY s) AS ss, list(e ORDER BY s) AS ee
       |  FROM msr_iv GROUP BY doc_id),
       |msr_clean AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(list_zip(COALESCE(b.ss, CAST([] AS BIGINT[])),
       |                                  COALESCE(b.ee, CAST([] AS BIGINT[]))),
       |             v -> v[1] + 1 <= i AND i <= v[2] + 1)) = 0], ' '), '') AS ct
       |  FROM msr_w d LEFT JOIN msr_ivl b USING (doc_id)
       |  WHERE d.doc_id % 10 = 0),
       |msr_awin AS MATERIALIZED (
       |  SELECT doc_id, $hCw AS h
       |  FROM (SELECT doc_id, string_split(ct, ' ') AS cw FROM msr_clean),
       |    UNNEST(range(0, len(cw) - ${A - 1})) AS t(i)
       |  WHERE len(cw) >= $A),
       |msr_before AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_windows_before,
       |    CAST(COALESCE(SUM(CASE WHEN h IN (SELECT h FROM msr_corpus)
       |                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits_before
       |  FROM msr_win WHERE doc_id % 10 = 0),
       |msr_after AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_windows_after,
       |    CAST(COALESCE(SUM(CASE WHEN h IN (SELECT h FROM msr_corpus)
       |                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits_after
       |  FROM msr_awin),
       |msr_docs AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_batch_docs
       |  FROM documents WHERE doc_id % 10 = 0)
       |SELECT n_batch_docs, n_windows_before, n_hits_before,
       |  n_windows_after, n_hits_after,
       |  round(CASE WHEN n_hits_before = 0 THEN 0.0
       |             ELSE CAST(n_hits_after AS DOUBLE) / n_hits_before END, 6) + 0
       |    AS residual_frac
       |FROM msr_docs, msr_before, msr_after""".stripMargin
  }

  /** Variable-length scrub of an ARRIVING batch (doc_id % 10 = 0)
    * against the persisted corpus-half index — the maximal twin of
    * [[substrScrubIndexed]]: same probe as the inline form but the
    * corpus side is the bucketed table, so it never shuffles
    * (MaximalIndexSpec pins the single Exchange and indexed ≡
    * inline). */
  def maximalScrubIndexedOf(batch: DataFrame, table: String): DataFrame = {
    requireIndexFormat(batch.sparkSession, table)
    maximalScrubAgainst(batch, batch.sparkSession.table(table))
  }

  def maximalScrubIndexed(s: SparkSession, dir: String, table: String): DataFrame =
    maximalScrubIndexedOf(
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0), table)

  /** Per-doc island assembly from a sorted duplicated-position list
    * — the row-local rebuild kernel: consecutive positions merge to
    * runs, a run [p₀, pₖ] covers words [p₀, pₖ + atom − 1], and only
    * spans ≥ `minSpan` scrub. Exactly [[islandsFromBad]] + the
    * HAVING cut collapsed to one doc. */
  private[graft] def cleanFromPositions(
      text: String, badPos: Seq[Int], atom: Int, minSpan: Int): String = {
    if (badPos.isEmpty) return scrubIntervals(text, Nil, Nil)
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var runStart = badPos.head
    var prev = badPos.head
    def close(last: Int): Unit = {
      val e = last + atom - 1
      if (e - runStart + 1 >= minSpan) {
        starts += runStart; ends += e
      }
    }
    badPos.tail.foreach { p =>
      // tolerate a duplicated position (defense in depth)
      if (p != prev && p != prev + 1) { close(prev); runStart = p }
      if (p != prev) prev = p
    }
    close(prev)
    scrubIntervals(text, starts.toSeq, ends.toSeq)
  }

  private[graft] def maximalCleanOf(text: String, badPos: Seq[Int]): String =
    cleanFromPositions(text, badPos, MaximalAtomWords, MaximalMinSpanWords)

  // ---- Intra-doc repetition scrub ----

  /** Atom grain of [[repetitionScrub]] — FINER than the cross-doc
    * [[MaximalAtomWords]] on purpose: intra-document repetition is
    * short-period by nature (repeated lines, chorus-style boiler-
    * plate), which is why the Gopher/RefinedWeb repetition SIGNALS
    * live in the 2–4-gram band while cross-doc dedup uses long
    * windows. 3-word atoms detect at that band. */
  val RepetitionAtomWords = 3

  /** Minimum repeated-run length, in words, that [[repetitionScrub]]
    * removes: one atom longer than the atom itself, so an isolated
    * trigram coincidence (span 3) is COUNTED as repetition signal
    * but never cut — only runs the atom grain confirms twice over
    * are removed. */
  val RepetitionMinSpanWords = 4

  /** One-doc repetition scan at an arbitrary grain: (repeated-window
    * count, rebuilt text). First-seen survivorship at the window
    * grain INSIDE the doc — the head copy of a repeated block stays,
    * every later copy's window positions mark, islands merge, and
    * runs ≥ `minSpan` words cut. */
  private[graft] def repetitionScanAt(
      text: String, atom: Int, minSpan: Int): (Int, String) = {
    val hs = windowHashes(text, atom)
    val seen = new java.util.HashSet[java.lang.Long]()
    val bad = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < hs.length) {
      if (!seen.add(hs(i))) bad += i
      i += 1
    }
    (bad.length, cleanFromPositions(text, bad.toSeq, atom, minSpan))
  }

  /** [[repetitionScanAt]] at the registered fine grain. */
  private[graft] def repetitionScan(text: String): (Int, String) =
    repetitionScanAt(text, RepetitionAtomWords, RepetitionMinSpanWords)

  private def repetitionUdfAt(atom: Int, minSpan: Int) =
    udf { (text: String) => repetitionScanAt(text, atom, minSpan) }

  private val repetitionUdf =
    repetitionUdfAt(RepetitionAtomWords, RepetitionMinSpanWords)

  private val repetitionCoarseUdf =
    repetitionUdfAt(MaximalAtomWords, MaximalMinSpanWords)

  /** WITHIN-document repeated-block removal, keep-first — the
    * RefinedWeb repetition-removal STEP where [[Curation.gopherScore]]
    * only flags: a doc whose tail repeats its head trains the repeat
    * twice even after perfect cross-doc dedup (no other doc is
    * involved, so [[substrDedupMaximal]] is structurally blind to
    * it). Detection, islands, the span cut, and the byte-exact
    * rebuild all run INSIDE one row — the operator is corpus-
    * independent by construction.
    *
    * `n_rep_windows` (repeated atom-windows before the span cut) is
    * the Gopher-style duplicate-n-gram signal preserved alongside
    * the removal: a doc can carry repetition signal yet lose nothing
    * (isolated coincidences below [[RepetitionMinSpanWords]]).
    *
    * Scale shape: ONE map-only pass — no shuffle, no join, no index;
    * the cheapest scrub in the suite and embarrassingly parallel at
    * 100 TB. Per-doc state is bounded by doc length. */
  /** The repetition scrub applied to ANY document relation — ONE
    * row-local projection (no shuffle). `scan` is the per-grain
    * kernel UDF. */
  private def repetitionScoredWith(
      docs: DataFrame,
      scan: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    docs
      .select(col("doc_id"), col("text"), scan(col("text")).as("r"))
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        col("r._1").cast("long").as("n_rep_windows"),
        (size(split(col("text"), " ")) -
          when(col("r._2") === "", 0)
            .otherwise(size(split(col("r._2"), " ")))).cast("long").as("n_removed"),
        length(col("r._2")).cast("long").as("len_clean"),
        graft.functions.CrossHash.md5Hash60Col(col("r._2")).as("clean_h"))

  private[graft] def repetitionScored(docs: DataFrame): DataFrame =
    repetitionScoredWith(docs, repetitionUdf)

  /** [[repetitionScored]] at the CROSS-DOC grain
    * ([[MaximalAtomWords]]/[[MaximalMinSpanWords]] = 8/12). */
  private[graft] def repetitionScoredCoarse(docs: DataFrame): DataFrame =
    repetitionScoredWith(docs, repetitionCoarseUdf)

  def repetitionScrub(s: SparkSession, dir: String): DataFrame =
    repetitionScored(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** [[repetitionScrub]] at the coarse grain — the long-block twin:
    * the 3/4 fine grain catches chorus-style short-period repetition
    * but ALSO cuts every long self-copy down to its repeated
    * trigrams, while this grain (the SAME 8-word atom / 12-word
    * span the cross-doc [[substrDedupMaximal]] family uses) reacts
    * ONLY to genuinely long intra-doc self-copies — a doc whose tail
    * replays a ≥ 10-word head carries coarse signal
    * (`n_rep_windows > 0`), and only replays spanning ≥ 12 words are
    * cut. Release pipelines run the two grains as separate knobs:
    * fine for degenerate-text scrubbing, coarse for self-plagiarized
    * boilerplate where short-period cutting is too aggressive. Same
    * map-only, shuffle-free shape as the fine grain. */
  def repetitionScrubCoarse(s: SparkSession, dir: String): DataFrame =
    repetitionScoredCoarse(t(s, dir, "documents")).orderBy(col("doc_id"))

  /** Oracle mirror, templated per grain: per-(doc, hash) rank for
    * first-seen, per-doc gaps-and-islands, the span HAVING cut, the
    * shared comprehension rebuild — the [[substrDedupMaximalSql]]
    * template with the rank partitioned INSIDE the doc. `prefix`
    * keeps CTE names globally unique across the oracle suite. */
  private def repetitionScrubSqlAt(
      atom: Int, minSpan: Int, prefix: String): String = {
    val A = atom
    val p = prefix
    val hWin = graft.functions.CrossHash.sqlHash60(s"array_to_string(w[i + 1 : i + $A], ' ')")
    val hCt = graft.functions.CrossHash.sqlHash60("ct")
    s"""WITH ${p}w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |${p}win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM ${p}w, UNNEST(range(0, len(w) - ${A - 1})) AS t(i)
       |  WHERE len(w) >= $A),
       |${p}rk AS MATERIALIZED (
       |  SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY doc_id, h ORDER BY pos) AS rk
       |  FROM ${p}win),
       |${p}cnt AS (
       |  SELECT doc_id, COUNT(*) AS n_rep FROM ${p}rk WHERE rk > 1 GROUP BY doc_id),
       |${p}isl AS (
       |  SELECT doc_id, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM ${p}rk WHERE rk > 1),
       |${p}iv AS (
       |  SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${A - 1} AS e
       |  FROM ${p}isl GROUP BY doc_id, island
       |  HAVING MAX(pos) + $A - MIN(pos) >= $minSpan),
       |${p}ivl AS (
       |  SELECT doc_id, list(s ORDER BY s) AS ss, list(e ORDER BY s) AS ee
       |  FROM ${p}iv GROUP BY doc_id),
       |${p}clean AS (
       |  SELECT d.doc_id, len(d.w) AS n_words,
       |    COALESCE(array_to_string([d.w[i] FOR i IN generate_series(1, len(d.w))
       |      IF len(list_filter(list_zip(COALESCE(b.ss, CAST([] AS BIGINT[])),
       |                                  COALESCE(b.ee, CAST([] AS BIGINT[]))),
       |             v -> v[1] + 1 <= i AND i <= v[2] + 1)) = 0], ' '), '') AS ct
       |  FROM ${p}w d LEFT JOIN ${p}ivl b USING (doc_id))
       |SELECT c.doc_id, CAST(c.n_words AS BIGINT) AS n_words,
       |  CAST(COALESCE(k.n_rep, 0) AS BIGINT) AS n_rep_windows,
       |  CAST(c.n_words - CASE WHEN ct = '' THEN 0
       |                        ELSE len(string_split(ct, ' ')) END AS BIGINT) AS n_removed,
       |  CAST(length(ct) AS BIGINT) AS len_clean,
       |  $hCt AS clean_h
       |FROM ${p}clean c LEFT JOIN ${p}cnt k USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  val repetitionScrubSql: String =
    repetitionScrubSqlAt(RepetitionAtomWords, RepetitionMinSpanWords, "rp_")

  val repetitionScrubCoarseSql: String =
    repetitionScrubSqlAt(MaximalAtomWords, MaximalMinSpanWords, "rpc_")

  /** Corpus totals for [[repetitionScrub]] — the release-review twin
    * of [[substrMaximalReport]] for the intra-doc step: how much
    * repetition SIGNAL the corpus carries and how much text the
    * keep-first cut actually reclaims. */
  def repetitionReport(s: SparkSession, dir: String): DataFrame = {
    val lens = t(s, dir, "documents", resplit = true)
      .select(col("doc_id"), length(col("text")).cast("long").as("len0"))
    repetitionScrub(s, dir).join(lens, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).as("n_words"),
        coalesce(sum(col("n_rep_windows")), lit(0L)).as("n_rep_windows"),
        coalesce(sum(col("n_removed")), lit(0L)).as("n_removed_words"),
        coalesce(sum(col("len0") - col("len_clean")), lit(0L)).as("bytes_saved"))
  }

  lazy val repetitionReportSql: String =
    s"""WITH rr AS MATERIALIZED (SELECT * FROM ($repetitionScrubSql))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COALESCE(SUM(r.n_words), 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(SUM(r.n_rep_windows), 0) AS BIGINT) AS n_rep_windows,
       |  CAST(COALESCE(SUM(r.n_removed), 0) AS BIGINT) AS n_removed_words,
       |  CAST(COALESCE(SUM(length(d.text) - r.len_clean), 0) AS BIGINT) AS bytes_saved
       |FROM rr r JOIN documents d USING (doc_id)""".stripMargin

  // ---- Repetition grain sweep ----

  /** The sweep grid: (atom words, min removable span words) — the
    * fine registered grain (3/4) with its neighbors under the
    * one-atom-longer span rule, plus the cross-doc grain (8/12) the
    * coarse scrub runs at. The grid is the operator's DECLARED knob
    * range, not a cap (the sweep-convention rule). */
  val RepetitionSweepGrid: Seq[(Int, Int)] =
    Seq((2, 3), (3, 4), (4, 5), (8, 12))

  /** One pass over a doc scoring EVERY grid grain: per grain,
    * (repeated windows, words a scrub at that grain would remove) —
    * the [[repetitionScanAt]] kernel per cell, word accounting
    * identical to [[repetitionScored]]'s column algebra. */
  private val repSweepUdf = udf { (text: String) =>
    val nw = text.split(" ", -1).length
    RepetitionSweepGrid.map { case (atom, minSpan) =>
      val (nRep, clean) = repetitionScanAt(text, atom, minSpan)
      val kept = if (clean == "") 0 else clean.split(" ", -1).length
      (nRep, nw - kept)
    }
  }

  /** Knob audit for the intra-doc repetition scrubs
    * ([[repetitionScrub]] / [[repetitionScrubCoarse]]): per grid
    * grain — docs carrying repetition signal, total repeated
    * windows, docs a scrub at that grain would actually cut, and
    * the words it would remove. The curve is the knob decision: the
    * 2/3-gram rows over-fire on natural phrase reuse, 8/12 reacts
    * only to long self-copies. Coarser atoms are provably a SUBSET
    * signal (every repeated k-gram contains a repeated j-gram for
    * j < k at the same position), so n_docs_signal / n_rep_windows
    * are non-increasing down the grid — spec-pinned.
    *
    * Scale shape: ONE map-only kernel pass scores all grains per
    * doc (no shuffle until the 4-group agg of narrow int rows);
    * explicit-grid totality via a left join from the 4-row grid
    * relation, so an empty corpus reports the full zeroed grid. */
  def repetitionGrainSweepOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val perGrain = docs
      .select(posexplode(repSweepUdf(col("text"))).as(Seq("gi", "r")))
      .groupBy(col("gi"))
      .agg(
        sum(when(col("r._1") > 0, 1L).otherwise(0L)).as("n_docs_signal"),
        sum(col("r._1").cast("long")).as("n_rep_windows"),
        sum(when(col("r._2") > 0, 1L).otherwise(0L)).as("n_docs_cut"),
        sum(col("r._2").cast("long")).as("n_removed_words"))
    val grid = RepetitionSweepGrid.zipWithIndex
      .map { case ((a, m), i) => (i, a, m) }
      .toDF("gi", "atom_words", "min_span_words")
    grid.join(perGrain, Seq("gi"), "left")
      .select(col("atom_words").cast("int"),
        col("min_span_words").cast("int"),
        coalesce(col("n_docs_signal"), lit(0L)).as("n_docs_signal"),
        coalesce(col("n_rep_windows"), lit(0L)).as("n_rep_windows"),
        coalesce(col("n_docs_cut"), lit(0L)).as("n_docs_cut"),
        coalesce(col("n_removed_words"), lit(0L)).as("n_removed_words"))
      .orderBy(col("atom_words"))
  }

  def repetitionGrainSweep(s: SparkSession, dir: String): DataFrame =
    repetitionGrainSweepOf(t(s, dir, "documents", resplit = true))

  /** Oracle mirror: one instantiation of the per-grain scrub
    * template per grid cell (unique `rgs<atom>_` CTE prefixes — the
    * shadowing rule), each folded to its totals row, UNION ALL. */
  lazy val repetitionGrainSweepSql: String = {
    val rows = RepetitionSweepGrid.map { case (atom, minSpan) =>
      val inner = repetitionScrubSqlAt(atom, minSpan, s"rgs${atom}_")
      s"""SELECT CAST($atom AS INTEGER) AS atom_words,
         |  CAST($minSpan AS INTEGER) AS min_span_words,
         |  CAST(COALESCE(SUM(CASE WHEN n_rep_windows > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_signal,
         |  CAST(COALESCE(SUM(n_rep_windows), 0) AS BIGINT) AS n_rep_windows,
         |  CAST(COALESCE(SUM(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_cut,
         |  CAST(COALESCE(SUM(n_removed), 0) AS BIGINT) AS n_removed_words
         |FROM (
         |$inner
         |)""".stripMargin
    }
    rows.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n)\nORDER BY atom_words")
  }

  /** Cap observability — the "no silent caps" audit: every inline
    * detector bounds hot buckets with [[MaxPosting]], and THIS
    * reports what those caps actually dropped on the corpus: per
    * detector family, total buckets, buckets over the cap, and the
    * rows living inside them. A 100 TB run reads this BEFORE
    * trusting near-dup output — a nonzero capped share means
    * boilerplate mega-buckets were skipped by design, and the
    * remedy is the indexed path's global counts + compaction or a
    * raised cap, not silence. One COUNT-ONLY aggregation per family
    * — no member list is ever built (this query IS the pre-cap's
    * size pass, promoted to a report). Global aggregates make every
    * family row total even on an empty corpus. */
  def dedupCapReport(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def bucketStats(family: String, keyed: DataFrame, keys: Seq[String]): DataFrame =
      keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("n") > MaxPosting, 1L).otherwise(0L)), lit(0L))
            .as("n_capped"),
          coalesce(sum(when(col("n") > MaxPosting, col("n")).otherwise(0L)), lit(0L))
            .as("rows_in_capped"))
        .select(lit(family).as("family"), col("n_buckets"), col("n_capped"),
          col("rows_in_capped"))
    val sig = d.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
    val mhBanded = sig.select(
      explode(expr(
        s"transform(sequence(0, ${Bands - 1}), " +
          s"b -> struct(b AS band, slice(sig, b * $RowsPerBand + 1, $RowsPerBand) AS bkey))"))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val shBanded = d
      .select(simhashUdf(split(col("text"), " ")).as("fp"))
      .select(explode(expr(
        s"transform(sequence(0, ${SimhashBands - 1}), " +
          s"b -> struct(b AS band, CAST(shiftright(fp, b * $SimhashBandBits) & ${(1 << SimhashBandBits) - 1} AS INT) AS bval))"))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bval").as("bval"))
    val wins = d.select(posexplode(spanHashUdf(col("text"))).as(Seq("ord", "h")))
    val winnowed = d.select(explode(winnowUdf(col("text"))).as("h"))
    Seq(
      bucketStats("minhash_band", mhBanded, Seq("band", "bkey")),
      bucketStats("shingle", hashedPostings(d), Seq("shingle")),
      bucketStats("simhash_band", shBanded, Seq("band", "bval")),
      bucketStats("span", wins, Seq("h")),
      bucketStats("winnow", winnowed, Seq("h")))
      .reduce(_ union _)
      .withColumn("capped_frac",
        when(col("n_buckets") === 0, lit(0.0))
          .otherwise(r6(col("n_capped").cast("double") / col("n_buckets"))))
      .orderBy(col("family"))
  }

  /** Oracle: five independent nested-WITH branches, each reusing its
    * detector's proven bucket CTE chain with a count-only tail. */
  lazy val dedupCapReportSql: String = {
    def tail(grouped: String): String =
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(COALESCE(SUM(CASE WHEN n > $MaxPosting THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_capped,
         |  CAST(COALESCE(SUM(CASE WHEN n > $MaxPosting THEN n ELSE 0 END), 0) AS BIGINT) AS rows_in_capped
         |FROM ($grouped)""".stripMargin
    val shingleBranch =
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= $ShingleK),
         |sh AS (
         |  SELECT DISTINCT doc_id, $shingleSql AS shingle
         |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i))
         |${tail("SELECT COUNT(*) AS n FROM sh GROUP BY shingle")}""".stripMargin
    val minhashBranch =
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= $ShingleK),
         |sh AS (
         |  SELECT DISTINCT doc_id, $shingleSql AS shingle
         |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
         |coef AS (
         |  SELECT j,
         |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${MinhashP - 1} + 1 AS a,
         |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % $MinhashP AS b
         |  FROM UNNEST(range(0, $NumHashes)) AS t(j)),
         |hh AS (
         |  SELECT doc_id,
         |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinhashP AS h
         |  FROM sh),
         |sig AS (
         |  SELECT doc_id, j, MIN((a * h + b) % $MinhashP) AS v
         |  FROM hh CROSS JOIN coef GROUP BY doc_id, j),
         |sigl AS (
         |  SELECT doc_id, list(v ORDER BY j) AS sig FROM sig GROUP BY doc_id),
         |band AS (
         |  SELECT doc_id, b, sig[b*$RowsPerBand+1 : b*$RowsPerBand+$RowsPerBand] AS bkey
         |  FROM sigl, UNNEST(range(0, $Bands)) AS t(b))
         |${tail("SELECT COUNT(*) AS n FROM band GROUP BY b, bkey")}""".stripMargin
    val simhashBranch =
      s"""WITH cnt AS (
         |  SELECT doc_id, tk, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
         |  GROUP BY doc_id, tk),
         |th AS (
         |  SELECT doc_id, ('0x' || substring(md5(tk), 1, 15))::BIGINT AS h, c
         |  FROM cnt),
         |bits AS (
         |  SELECT doc_id, b,
         |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN c ELSE -c END) AS acc
         |  FROM th, UNNEST(range(0, $SimhashBits)) AS t(b)
         |  GROUP BY doc_id, b),
         |fp AS (
         |  SELECT doc_id,
         |    SUM(CASE WHEN acc > 0 THEN 1::BIGINT << b ELSE 0 END) AS fp
         |  FROM bits GROUP BY doc_id),
         |band AS (
         |  SELECT doc_id, b,
         |    (fp >> (b * $SimhashBandBits)) & ${(1 << SimhashBandBits) - 1} AS bval
         |  FROM fp, UNNEST(range(0, $SimhashBands)) AS t(b))
         |${tail("SELECT COUNT(*) AS n FROM band GROUP BY b, bval")}""".stripMargin
    val spanBranch =
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= $SpanWords),
         |win AS (
         |  SELECT doc_id,
         |    ${graft.functions.CrossHash.sqlHash60(
              s"array_to_string(w[i * $SpanStride + 1 : i * $SpanStride + $SpanWords], ' ')")} AS h
         |  FROM tok, UNNEST(range(0, (len(w) - $SpanWords) // $SpanStride + 1)) AS t(i))
         |${tail("SELECT COUNT(*) AS n FROM win GROUP BY h")}""".stripMargin
    val winnowBranch =
      s"""WITH tok AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE len(string_split(text, ' ')) >= ${ShingleK + WinnowWindow - 1}),
         |ph AS MATERIALIZED (
         |  SELECT doc_id, i, ${graft.functions.CrossHash.sqlHash60(shingleSql)} AS h
         |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS t(i)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ph GROUP BY doc_id),
         |wins AS (
         |  SELECT p.doc_id, j.j, p.h,
         |    row_number() OVER (PARTITION BY p.doc_id, j.j ORDER BY p.h, p.i DESC) AS rn
         |  FROM ph p
         |  JOIN (SELECT doc_id, unnest(range(0, n - $WinnowWindow + 1)) AS j
         |        FROM cnt WHERE n >= $WinnowWindow) j
         |    ON j.doc_id = p.doc_id AND p.i BETWEEN j.j AND j.j + ${WinnowWindow - 1}),
         |fp AS (SELECT DISTINCT doc_id, h FROM wins WHERE rn = 1)
         |${tail("SELECT COUNT(*) AS n FROM fp GROUP BY h")}""".stripMargin
    def branch(name: String, body: String): String =
      s"SELECT '$name' AS family, n_buckets, n_capped, rows_in_capped FROM (\n$body\n)"
    s"""SELECT family, n_buckets, n_capped, rows_in_capped,
       |  CASE WHEN n_buckets = 0 THEN 0.0
       |       ELSE round(CAST(n_capped AS DOUBLE) / n_buckets, 6) + 0 END AS capped_frac
       |FROM (
       |${branch("minhash_band", minhashBranch)}
       |UNION ALL
       |${branch("shingle", shingleBranch)}
       |UNION ALL
       |${branch("simhash_band", simhashBranch)}
       |UNION ALL
       |${branch("span", spanBranch)}
       |UNION ALL
       |${branch("winnow", winnowBranch)}
       |)
       |ORDER BY family""".stripMargin
  }

  /** Near-dup CLUSTERING — the step after pair generation that an
    * actual dedup pipeline needs: the Jaccard pair list is an
    * undirected graph, connected components collapse transitive
    * duplicates (a~b, b~c ⇒ one cluster), and min(doc_id) per
    * component is the canonical survivor.
    *
    * Components via iterative min-label propagation: each round
    * every node takes the min label among itself and its neighbors;
    * converges in ≤ diameter rounds (near-dup components are tiny,
    * so 2-3 rounds in practice; capped + early-stopped). Each round
    * is one join + one groupBy on the EDGE list only — the corpus is
    * never touched — and `localCheckpoint` cuts the growing lineage.
    * At 100 TB-corpus scale the same loop runs on the pair output of
    * the LSH candidate generators; the alternating small-star/
    * large-star variant bounds skew if a component is huge. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    componentsOf(dedupJaccard(s, dir).select(col("doc_a"), col("doc_b")))

  /** Size-gated hybrid: the candidate-pair graph out of LSH is
    * orders of magnitude smaller than the corpus, so when it fits on
    * the driver (≤ [[DriverEdgeCap]] edges) union-find there beats a
    * multi-job distributed loop by the full per-round scheduling
    * cost; above the cap the min-label-propagation loop runs — same
    * results, asserted equal in DedupSpec. */
  val DriverEdgeCap = 200000

  def componentsOf(edges: DataFrame): DataFrame = {
    val cached = edges.localCheckpoint()
    val out =
      if (cached.count() <= DriverEdgeCap) componentsDriver(cached)
      else componentsDistributed(cached)
    // both paths have fully materialized away from the edge blocks
    // (driver collect / eager result checkpoint) — free them now
    // instead of waiting for a driver GC (VERDICT r6 §wrong-3)
    OpsShared.releaseCheckpoint(cached)
    out
  }

  /** Driver-side union-find over a collected edge list. */
  private def componentsDriver(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val rows = parent.keys.toSeq.sorted.map { n =>
      val c = find(n)
      (n, c, if (n == c) 1 else 0)
    }
    spark.createDataset(rows)
      .toDF("doc_id", "component", "is_survivor")
      .orderBy(col("doc_id"))
  }

  /** Distributed min-label propagation (the above-cap path).
    * Checkpoint hygiene: every superseded label checkpoint is freed
    * the moment its successor materializes, and the edge/und blocks
    * are freed once the RESULT is eagerly materialized — so a full
    * run retains exactly one small frame (the result), however many
    * propagation rounds it took. */
  private[graft] def componentsDistributed(edges: DataFrame): DataFrame = {
    val und = edges
      .union(edges.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // the checkpoint currently backing `labels` — released when the
    // next one lands (its data is then fully superseded)
    var liveCkpt = labels
    // labels only ever decrease, so the label-sum strictly decreases
    // iff anything changed — one tiny agg per round instead of a
    // join-based diff; checkpoint every 3rd round (lineage stays
    // shallow, materialization jobs drop 3×). sum() over an empty
    // frame is NULL, so coalesce — an empty pair list must converge
    // immediately, not NPE.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < 60) {
      val prop = und.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      var next = labels.join(prop, col("node") === col("src"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      if (iter % 3 == 2) {
        next = next.localCheckpoint() // materialized by labelSum below
      }
      val s = labelSum(next)
      if (iter % 3 == 2) {
        OpsShared.releaseCheckpoint(liveCkpt)
        liveCkpt = next
      }
      converged = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("component"))
      .withColumn("is_survivor",
        (col("doc_id") === col("component")).cast("int"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    // result is materialized: everything upstream is dead weight
    OpsShared.releaseCheckpoint(liveCkpt)
    OpsShared.releaseCheckpoint(und)
    out
  }

  /** Oracle: the Jaccard pipeline as CTEs (mirrors
    * [[dedupJaccardSql]] verbatim), then a recursive CTE computing
    * every label reachable from each node; MIN over the reachable
    * set = the component id (identical to converged min-label
    * propagation). */
  val dedupComponentsSql: String =
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxPosting),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.doc_id, b.doc_id),
       |top AS (
       |  SELECT doc_a, doc_b
       |  FROM (SELECT doc_a, doc_b,
       |          round(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 6) + 0 AS jaccard
       |        FROM pairs
       |        JOIN counts ca ON ca.doc_id = doc_a
       |        JOIN counts cb ON cb.doc_id = doc_b
       |        ORDER BY jaccard DESC, doc_a, doc_b
       |        LIMIT 50)),
       |und AS (SELECT doc_a AS src, doc_b AS dst FROM top
       |        UNION SELECT doc_b, doc_a FROM top),
       |reach(node, lab) AS (
       |  SELECT src, src FROM und
       |  UNION
       |  SELECT u.src, r.lab FROM und u JOIN reach r ON r.node = u.dst)
       |SELECT node AS doc_id, MIN(lab) AS component,
       |  CASE WHEN node = MIN(lab) THEN 1 ELSE 0 END AS is_survivor
       |FROM reach
       |GROUP BY node
       |ORDER BY doc_id""".stripMargin

  /** Quality-aware survivor selection — the survivor rule a real
    * pipeline uses instead of min(doc_id): within each near-dup
    * component, keep the member that passes the most quality gates
    * (gopher `keep` first, then the longer document, doc_id as the
    * deterministic tiebreak). min-id survival can systematically
    * keep the WORSE copy (a truncated mirror crawled first); this op
    * re-elects per cluster. One doc_id-keyed join of the component
    * relation with the map-only gopher signals + one component-keyed
    * window over near-dup clusters (tiny by construction) — cost is
    * the component build it already shares. */
  def dedupSurvivorQuality(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
    val q = Curation.gopherScore(t(s, dir, "documents", resplit = true))
      .select(col("doc_id"), col("keep"), col("n_words"))
    val wElect = Window.partitionBy(col("component"))
      .orderBy(col("keep").desc, col("n_words").desc, col("doc_id"))
    val wSize = Window.partitionBy(col("component"))
    comp.join(q, "doc_id")
      .withColumn("rn", row_number().over(wElect))
      .withColumn("n_members", count(lit(1)).over(wSize))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("survivor_id"),
        col("n_members"), col("keep"))
      .orderBy(col("component"))
  }

  /** Composes the proven component + gopher oracles; the election is
    * one window. */
  lazy val dedupSurvivorQualitySql: String =
    s"""WITH comp AS MATERIALIZED (
       |  SELECT doc_id, component FROM ($dedupComponentsSql)),
       |q AS MATERIALIZED (
       |  SELECT doc_id, keep, n_words FROM (${Curation.gopherQualitySql})),
       |j AS (SELECT c.component, c.doc_id, q.keep, q.n_words
       |      FROM comp c JOIN q USING (doc_id))
       |SELECT component, doc_id AS survivor_id, n_members, keep
       |FROM (SELECT *,
       |        row_number() OVER (PARTITION BY component
       |                           ORDER BY keep DESC, n_words DESC, doc_id) AS rn,
       |        COUNT(*) OVER (PARTITION BY component) AS n_members
       |      FROM j)
       |WHERE rn = 1
       |ORDER BY component""".stripMargin

  /** Normalized exact dedup — the "fuzzy-exact" tier every corpus
    * pipeline runs before near-dup: lowercase, collapse every
    * non-alphanumeric run to one space, trim, then group on the
    * md5 of the normal form. Catches whitespace/punctuation/case
    * variants that byte-exact [[dedupExact]] misses at the SAME
    * cost profile: one map-only normalization pass + one hash
    * shuffle on the 16-byte key (never the text itself — at 100 TB
    * the shuffled bytes are keys + ids, not documents). */
  def normDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val w = Window.partitionBy(col("norm_key"))
    d.select(col("doc_id"), md5(norm.cast("binary")).as("norm_key"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(
        col("doc_id"), col("norm_key"), col("canonical_id"),
        count(lit(1)).over(w).as("n_copies"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  val normDedupSql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_key
      |  FROM documents)
      |SELECT doc_id, norm_key,
      |  MIN(doc_id) OVER (PARTITION BY norm_key) AS canonical_id,
      |  COUNT(*) OVER (PARTITION BY norm_key) AS n_copies,
      |  CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY norm_key)
      |       THEN 1 ELSE 0 END AS is_dup
      |FROM n ORDER BY doc_id""".stripMargin

  /** Incremental near-dedup over EXPLICIT batch/corpus document
    * relations: an INCOMING `batch` checked against the EXISTING
    * `corpus` — the production shape for continuously-ingested
    * training data, where re-deduping the whole corpus per batch is
    * unaffordable.
    *
    * Same md5-affine MinHash signatures and banding as
    * [[minhashLsh]], but candidate generation is an ASYMMETRIC
    * equi-join on (band, band-key): the corpus side never
    * self-pairs, so cost is linear in corpus postings and, at real
    * scale, the small batch side broadcasts (AQE picks this up from
    * the post-filter size estimate; at 100 TB the corpus band table
    * is a materialized index you bucket BY (band, bkey) so arriving
    * batches join with zero corpus shuffle). A per-bucket cap on
    * the corpus side bounds degenerate hot buckets exactly like
    * MaxPosting does for [[dedupJaccard]].
    *
    * Output: one row per incoming doc with ≥1 verified match —
    * lowest matching corpus doc, match count, best signature-
    * agreement estimate. */
  def dedupIncrementalOf(batch: DataFrame, corpus: DataFrame): DataFrame = {
    def bandedOf(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
        .select(
          col("doc_id"), col("sig"),
          explode(expr(
            s"transform(sequence(0, ${Bands - 1}), " +
              s"b -> struct(b AS band, slice(sig, b * $RowsPerBand + 1, $RowsPerBand) AS bkey))"))
            .as("bb"))
        .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
          col("doc_id"), col("sig"))
    val incoming = bandedOf(batch)
      .select(col("band"), col("bkey"),
        col("doc_id").as("doc_new"), col("sig").as("sig_new"))
    val wb = Window.partitionBy(col("band"), col("bkey"))
    val existing = bandedOf(corpus)
      .withColumn("bucket_n", count(lit(1)).over(wb))
      .filter(col("bucket_n") <= MaxPosting)
      .select(col("band"), col("bkey"),
        col("doc_id").as("doc_old"), col("sig").as("sig_old"))
    incoming.join(existing, Seq("band", "bkey"))
      // est scored right at the join output (exact integer ratio
      // #agreeing/64 — bit-identical in both engines, so the
      // unrounded threshold compare is safe) and thresholded BEFORE
      // the distinct, so only narrow sub-threshold-free (id, id,
      // est) rows ride the dedup shuffle — the signatures never do
      .select(col("doc_new"), col("doc_old"),
        (size(filter(zip_with(col("sig_new"), col("sig_old"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est"))
      .filter(col("est") >= 0.35)
      .dropDuplicates("doc_new", "doc_old")
      .groupBy(col("doc_new"))
      .agg(min(col("doc_old")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        r6(max(col("est"))).as("best_est"))
      .orderBy(col("doc_new"))
  }

  /** The registered fixture form of [[dedupIncrementalOf]]: docs
    * with doc_id % 10 = 0 play the arriving batch, the rest the
    * standing corpus — the arrival convention lives HERE, not in
    * the operator (the [[dedupIncrementalIndexedOf]] convention). */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    dedupIncrementalOf(
      d.filter(col("doc_id") % 10 === 0),
      d.filter(col("doc_id") % 10 =!= 0))
  }

  /** Oracle mirror of [[dedupIncremental]] — identical signature
    * family, banding, corpus-side bucket cap, and estimate. */
  val dedupIncrementalSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |coef AS (
       |  SELECT j,
       |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${MinhashP - 1} + 1 AS a,
       |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % $MinhashP AS b
       |  FROM UNNEST(range(0, $NumHashes)) AS t(j)),
       |hh AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinhashP AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, j, MIN((a * h + b) % $MinhashP) AS v
       |  FROM hh CROSS JOIN coef
       |  GROUP BY doc_id, j),
       |sigl AS (
       |  SELECT doc_id, list(v ORDER BY j) AS sig FROM sig GROUP BY doc_id),
       |band AS (
       |  SELECT doc_id, b, sig[b*$RowsPerBand+1 : b*$RowsPerBand+$RowsPerBand] AS bkey
       |  FROM sigl, UNNEST(range(0, $Bands)) AS t(b)),
       |newb AS (SELECT * FROM band WHERE doc_id % 10 = 0),
       |oldb AS (
       |  SELECT * FROM band WHERE doc_id % 10 <> 0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $MaxPosting),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
       |  FROM newb n JOIN oldb o ON n.b = o.b AND n.bkey = o.bkey),
       |est AS (
       |  SELECT c.doc_new, c.doc_old,
       |    SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
       |      / CAST($NumHashes AS DOUBLE) AS est
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_new
       |  JOIN sig sb ON sb.doc_id = c.doc_old AND sb.j = sa.j
       |  GROUP BY c.doc_new, c.doc_old)
       |SELECT doc_new, MIN(doc_old) AS dup_of, COUNT(*) AS n_dups,
       |  round(MAX(est), 6) + 0 AS best_est
       |FROM est WHERE est >= 0.35
       |GROUP BY doc_new ORDER BY doc_new""".stripMargin

  /** Asymmetric shingle-containment pairs — the near-SUBSET detector
    * symmetric Jaccard structurally misses: a 100-word quote inside a
    * 10k-word article scores J = |A∩B|/|A∪B| ≈ 0.01 (diluted by the
    * big doc's size) but containment C(A,B) = |A∩B|/|A| ≈ 1.0. The
    * standard second dedup pass of web-corpus pipelines (quotes,
    * boilerplate inclusions, partial mirrors).
    *
    * Same inverted-index plan as [[dedupJaccard]] — ONE scan pass,
    * two shuffles, packed-BIGINT pair keys, MaxPosting skew cap; only
    * the final scoring differs: both direction ratios common/n_a,
    * common/n_b plus their max as the ranking key. */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val buckets = capBuckets(hashedPostings(d), Seq("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh")))).as("docs"))
    buckets
      .select(explode(expr(
        "flatten(transform(docs, (x, i) -> " +
          "transform(slice(docs, i + 2, size(docs)), " +
          "y -> struct(shiftleft(x.doc_id, 32) + y.doc_id AS pk, " +
          "x.n_sh AS na, y.n_sh AS nb))))"))
        .as("p"))
      .groupBy(col("p.pk").as("pk"))
      .agg(count(lit(1)).as("common"),
        first(col("p.na")).as("na"), first(col("p.nb")).as("nb"))
      .select(shiftright(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        col("common"), col("na"), col("nb"))
      .withColumn("cont_a", r6(col("common").cast("double") / col("na")))
      .withColumn("cont_b", r6(col("common").cast("double") / col("nb")))
      .withColumn("cmax", greatest(col("cont_a"), col("cont_b")))
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"), col("cmax"))
      .orderBy(col("cmax").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val containmentDedupSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |good AS (SELECT shingle FROM sh GROUP BY shingle
       |         HAVING COUNT(*) BETWEEN 2 AND $MaxPosting),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN good g ON g.shingle = a.shingle
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / ca.n_sh, 6) + 0 AS cont_a,
       |  round(CAST(common AS DOUBLE) / cb.n_sh, 6) + 0 AS cont_b,
       |  greatest(round(CAST(common AS DOUBLE) / ca.n_sh, 6) + 0,
       |           round(CAST(common AS DOUBLE) / cb.n_sh, 6) + 0) AS cmax
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |ORDER BY cmax DESC, doc_a, doc_b
       |LIMIT 50""".stripMargin

  /** Jaccard threshold for [[dedupJaccardPrefix]]: pairs at or above
    * it are reported EXACTLY (no posting cap, no top-k cut). */
  val PrefixTau = 0.5

  /** Threshold self-join with AllPairs/PPJoin prefix filtering
    * (Bayardo et al. 2007; Xiao et al. 2008) — the EXACT scale path
    * beside [[dedupJaccard]]'s capped top-k: report every pair with
    * J ≥ [[PrefixTau]], generating candidates only from each
    * document's PREFIX under a global rarity order.
    *
    * The principle: fix ANY total order on the shingle universe and
    * sort each document's shingle set by it; if J(A,B) ≥ τ, then A
    * and B must share at least one shingle among each one's first
    * |X| − ⌈τ·|X|⌉ + 1 shingles — so indexing only those prefixes
    * loses NO qualifying pair, for any order. Ordering by ascending
    * global document frequency makes the surviving inverted index
    * concentrate on RARE shingles: the frequent shingles that
    * produce the O(df²) pair blow-ups sort to the suffixes and never
    * enter the index at all — which is why this needs no
    * [[MaxPosting]] cap to stay bounded, and hence stays exact.
    * (The order is an engine-internal choice with no oracle
    * footprint: candidates are verified against FULL shingle sets,
    * so the oracle is the plain threshold join.)
    *
    * Shape at 100 TB: one scan+UDF pass (shared shingle machinery);
    * the frequency join keys on the shingle hash (vocab-sized →
    * hint-free, the tfidf rule); candidate pairs carry only ids; the
    * size filter τ·|A| ≤ |B| ≤ |A|/τ prunes before verification; and
    * verification joins the candidates back to the per-doc hashed
    * arrays on doc_id — pair count ~ planted-dup count, not corpus². */
  def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents", resplit = true)
    // the hashed-shingle relation feeds the posting/frequency chain
    // AND both verification joins — four references, and each one
    // re-ran the scan + split + FNV shingle UDF (8 parquet scans in
    // the r15-measured initial plan, for every consumer of this
    // truth: the audit, both sweeps, the overlap matrix). The eager
    // checkpoint runs the UDF pass ONCE; at corpus scale this
    // materializes exactly the per-doc shingle-hash arrays the
    // verification step must hold anyway.
    val docs = d.select(col("doc_id"), hashedShingleUdf(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(true)
    val postings = docs.select(col("doc_id"),
      size(col("hs")).cast("long").as("n_sh"), explode(col("hs")).as("sh"))
    val freq = postings.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefLen = (col("n_sh") - ceil(lit(PrefixTau) * col("n_sh")) + 1).cast("int")
    // each prefix posting carries its RANK in the doc's global
    // rarity-order sort (posexplode index + 1): the same total order
    // in every doc, so ranks feed PPJoin's positional filter below
    val pref = postings.join(freq, Seq("sh"))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ord"))
      .select(col("doc_id"), col("n_sh"),
        slice(col("ord"), lit(1), prefLen).as("pfx"))
      .select(col("doc_id"), col("n_sh"),
        posexplode(expr("transform(pfx, x -> x.sh)")).as(Seq("rk0", "sh")))
      .select(col("doc_id"), col("n_sh"), (col("rk0") + 1).as("rk"), col("sh"))
    // candidate pairs, aggregated per pair WITH the positional filter
    // (Xiao et al. 2008 §4): let cnt = |common prefix entries| and
    // (ia, jb) = the ranks of the LAST common prefix entry in each
    // doc's sort. Every common shingle ordered before that entry is
    // itself a common prefix entry (both ranks below (ia, jb) put it
    // inside both prefixes), and every one after it occupies ranks
    // > ia in A and > jb in B — so the TRUE overlap is at most
    // cnt + min(na − ia, nb − jb). J ≥ τ needs overlap ≥
    // τ/(1+τ)·(na+nb); with τ = num/den the test is exact in Longs:
    // (den+num)·ubound ≥ num·(na+nb). Prunes candidates the size
    // filter alone keeps (2.6× on the sf0.1 fixture) BEFORE the
    // verification join — at 100 TB verification is the dominant
    // cost, and the filter is provably lossless, so the op stays
    // exact (the boundary-pair spec pins the τ-exact case).
    val tauNum = 1L; val tauDen = 2L // PrefixTau = 1/2, exactly
    require(PrefixTau == tauNum.toDouble / tauDen, "positional filter rational must equal PrefixTau")
    val cand = pref
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh"), col("rk")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        "flatten(transform(ds, (x, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), " +
          "y -> struct(x.doc_id AS da, y.doc_id AS db, " +
          "x.n_sh AS na, y.n_sh AS nb, x.rk AS ia, y.rk AS jb))))")).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"),
        col("p.na").as("na"), col("p.nb").as("nb"),
        col("p.ia").as("ia"), col("p.jb").as("jb"))
      .filter(col("nb") * lit(PrefixTau) <= col("na") &&
        col("na") * lit(PrefixTau) <= col("nb"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("cnt"), max(col("na")).as("na"),
        max(col("nb")).as("nb"), max(col("ia")).as("ia"), max(col("jb")).as("jb"))
      .filter(lit(tauDen + tauNum) *
        (col("cnt") + least(col("na") - col("ia"), col("nb") - col("jb"))) >=
        lit(tauNum) * (col("na") + col("nb")))
      .select(col("da"), col("db"))
    cand
      .join(docs.select(col("doc_id").as("da"), col("hs").as("ha")), Seq("da"))
      .join(docs.select(col("doc_id").as("db"), col("hs").as("hb")), Seq("db"))
      .withColumn("common", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jraw", col("common").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("common")))
      .filter(col("jraw") >= PrefixTau)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), r6(col("jraw")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
  }

  /** Precision/recall audit of the MinHash-LSH detector against the
    * EXACT threshold join at τ = [[PrefixTau]] — the dedup twin of
    * AnnEval.annRecallReport: before trusting an approximate
    * detector on a 100 TB corpus, measure it against exact ground
    * truth on a slice. Truth = every pair with true J ≥ τ
    * ([[dedupJaccardPrefix]], exact by the prefix-filter argument);
    * predicted = LSH candidate pairs whose signature estimate ≥ τ
    * ([[minhashLsh]] re-thresholded). One full-outer join of two
    * id-pair relations + one aggregation — the audit costs the sum
    * of the two detectors it compares, nothing more; at production
    * scale it runs on a hash-sampled document slice while the
    * detector under audit runs the same plan on everything. */
  def dedupLshAudit(s: SparkSession, dir: String): DataFrame = {
    // the two detectors are fully independent chains over documents,
    // but each one eagerly checkpoints its corpus UDF pass during
    // construction (truth: the FNV shingle arrays; pred: the MinHash
    // signatures) — built inline those two jobs serialize. Concurrent
    // construction overlaps them (guide §2.6); both results and the
    // audit join are unchanged.
    val (truthRaw, predRaw) = OpsShared.concurrently(
      dedupJaccardPrefix(s, dir), minhashLsh(s, dir))
    val truth = truthRaw
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val pred = predRaw
      .filter(col("est_jaccard") >= PrefixTau)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("p"))
    truth.join(pred, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("p"), lit(0L))).as("n_pred"),
        sum(when(col("t").isNotNull && col("p").isNotNull, 1L).otherwise(0L)).as("tp"))
      .select(col("n_true"), col("n_pred"), col("tp"),
        r6(when(col("n_pred") === 0, 0.0)
          .otherwise(col("tp").cast("double") / col("n_pred"))).as("prec"),
        r6(when(col("n_true") === 0, 0.0)
          .otherwise(col("tp").cast("double") / col("n_true"))).as("rec"))
  }

  /** Composes the two detectors' own proven SQL (the recall-report
    * convention): truth = the exact threshold join, pred = the LSH
    * pipeline re-thresholded at τ. */
  lazy val dedupLshAuditSql: String =
    s"""WITH truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ($dedupJaccardPrefixSql)),
       |pred AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ($minhashLshSql)
       |  WHERE est_jaccard >= $PrefixTau),
       |m AS (
       |  SELECT
       |    CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       |    CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred,
       |    CAST((SELECT COUNT(*) FROM truth JOIN pred USING (doc_a, doc_b)) AS BIGINT) AS tp)
       |SELECT n_true, n_pred, tp,
       |  round(CASE WHEN n_pred = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / n_pred END, 6) + 0 AS prec,
       |  round(CASE WHEN n_true = 0 THEN 0.0
       |             ELSE CAST(tp AS DOUBLE) / n_true END, 6) + 0 AS rec
       |FROM m""".stripMargin

  // ------------------------------------------ materialized band index

  /** Bucket count of the persisted band index (the bucketed-table
    * no-shuffle contract: incoming batches shuffle to 64 partitions,
    * the corpus side reads its buckets in place). */
  val BandIndexBuckets = 64

  /** (doc_id, sig, bkey60) band rows of `docs` — the scalar 60-bit
    * hash of (band, key-slice) IS the index key: a single BIGINT
    * bucketable on disk, where the raw (band, array) pair is not.
    * Hash collisions only ADD candidate pairs, and every candidate
    * is verified against the full 64-hash signature agreement before
    * it can surface — the same verify-after-candidates contract the
    * in-memory detector already relies on. */
  private def bandRows(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
    sig.select(col("doc_id"), col("sig"),
        explode(expr(
          s"transform(sequence(0, ${Bands - 1}), " +
            s"b -> struct(b AS band, slice(sig, b * $RowsPerBand + 1, $RowsPerBand) AS bkey))"))
          .as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").cast("int").as("band"),
        graft.functions.CrossHash.md5Hash60Col(expr(
          "concat(cast(bb.band AS string), ':', " +
            "concat_ws(',', transform(bb.bkey, x -> cast(x AS string))))"))
          .as("bkey60"))
  }

  /** The TRUE band key a row belongs to — (band, its signature
    * slice), recomputable from stored columns. The hot-bucket cap
    * counts over THIS, not bkey60: a 60-bit collision merging two
    * real buckets must never push their combined count over the cap
    * and silently drop rows the inline detector keeps (collisions
    * may only ADD candidates — the probe-side contract). */
  private def trueBandKeyCols: Seq[Column] =
    Seq(col("band"), expr(s"slice(sig, band * $RowsPerBand + 1, $RowsPerBand)"))

  private def withBucketN(rows: DataFrame): DataFrame =
    rows.withColumn("bucket_n",
      count(lit(1)).over(Window.partitionBy(trueBandKeyCols: _*)))

  /** Per-(TRUE band key) row counts of one segment — the sidecar
    * unit every writer persists to `<table>_counts` so a probe can
    * reconstruct GLOBAL bucket sizes across segments with one cheap
    * aggregation of the counts relation (bucket-level, orders of
    * magnitude smaller than the posting rows) instead of re-counting
    * the index. Keyed by the true (band, signature-slice) pair, not
    * bkey60 — the same collision-safety contract as [[withBucketN]]. */
  private def bandBucketCounts(rows: DataFrame): DataFrame =
    rows.select(col("band"),
        expr(s"slice(sig, band * $RowsPerBand + 1, $RowsPerBand)").as("key"))
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))

  /** Materialize the corpus's MinHash band rows as a BUCKETED table —
    * the missing half of [[dedupIncremental]]'s at-scale story: with
    * the corpus band table bucketed by the band key ON DISK, an
    * arriving batch shuffles only ITSELF; the 100 TB corpus side
    * reads its buckets in place (zero corpus shuffle, the Exchange
    * provably absent — BandIndexSpec pins it). `bucket_n` is counted
    * at write time so the hot-bucket cap is a stored-column filter at
    * query time, not a window over the corpus. The ANN analog is
    * [[graft.ops.GraphAnn.writeGraphIndex]]; continuous ingest
    * appends via [[appendBandIndex]], and the `_counts` sidecar
    * gives probes GLOBAL cap semantics across segments
    * ([[maintainBandIndex]] handles file growth). */
  def writeBandIndexOf(corpus: DataFrame, table: String): Unit =
    writeBucketed(withBucketN(bandRows(corpus)), "bkey60", table, withCounts = true)

  /** Corpus-half (doc_id % 10 ≠ 0) band index — the fixture's
    * arrival convention over [[writeBandIndexOf]]. */
  def writeBandIndex(s: SparkSession, dir: String, table: String): Unit =
    writeBandIndexOf(
      t(s, dir, "documents", resplit = true).filter(col("doc_id") % 10 =!= 0), table)

  /** Append a new segment of corpus band rows into the existing
    * index (bucketed insertInto preserves the layout) plus the
    * segment's bucket counts into the `_counts` sidecar. The stored
    * per-row `bucket_n` stays per-segment (exact for the segment),
    * but probes no longer read it for the cap — they aggregate the
    * sidecar to GLOBAL counts, so a hot bucket straddling segments
    * is suppressed exactly like the inline detector's global window
    * (the formerly-documented cross-segment undercount is gone). */
  def appendBandIndex(batch: DataFrame, table: String): Unit = {
    requireIndexFormat(batch.sparkSession, table)
    // one signature pass serves both writes: the posting rows and
    // the segment's sidecar counts (an arriving segment is ≪ the
    // corpus, so materializing its band rows is cheap; re-deriving
    // them would double the segment's md5+minhash cost)
    val rows = bandRows(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      withBucketN(rows)
        .repartition(BandIndexBuckets, col("bkey60"))
        .write.mode("append").insertInto(table)
      bandBucketCounts(rows)
        .write.mode("append").insertInto(table + "_counts")
    } finally rows.unpersist()
  }

  /** [[dedupIncremental]] against the PERSISTED band index: the
    * incoming batch computes its own band rows and equi-joins the
    * bucketed table on the scalar key — the corpus side never
    * shuffles (BandIndexSpec asserts exactly one Exchange, the
    * batch's). Same verification and output as the inline op;
    * results bit-equal on the fixtures (asserted). */
  /** [[dedupIncrementalIndexed]] for an ARBITRARY arriving batch —
    * the production entry point (the fixture's % 10 split lives in
    * the dir-based wrapper below, the `Against` convention). */
  def dedupIncrementalIndexedOf(batch: DataFrame, table: String): DataFrame = {
    val s = batch.sparkSession
    requireIndexFormat(s, table)
    val inc = bandRows(batch)
      .select(col("bkey60"), col("doc_id").as("doc_new"), col("sig").as("sig_new"))
    // GLOBAL hot-bucket cap from the `_counts` sidecar: per-segment
    // counts aggregate to the true cross-segment bucket size, so a
    // bucket straddling appends is suppressed exactly like the
    // inline detector's global window — no per-row bucket_n read,
    // no re-count of the posting rows. The oversized set is hot
    // buckets only (each stands for > MaxPosting rows), so it
    // broadcasts below the gate; above it (a pathologically
    // boilerplate-heavy corpus) the anti join runs un-hinted and
    // AQE picks the strategy — correct either way.
    //
    // An index written BEFORE the sidecar contract has no `_counts`
    // table; probing falls back to the stored per-row `bucket_n`
    // filter (the previous contract — exact per segment, with the
    // documented cross-segment undercount) instead of failing with
    // table-not-found. A compaction ([[compactBandIndex]]) upgrades
    // such an index to the sidecar contract.
    val capped =
      if (!s.catalog.tableExists(table + "_counts")) {
        s.table(table).filter(col("bucket_n") <= MaxPosting)
      } else {
        val oversized = s.table(table + "_counts")
          .groupBy(col("band"), col("key")).agg(sum(col("n")).as("gn"))
          .filter(col("gn") > MaxPosting)
          .select(col("band").as("ob"), col("key").as("okey"))
          .localCheckpoint(true)
        val overSide =
          if (oversized.count() <= OversizedBroadcastCap) broadcast(oversized) else oversized
        s.table(table)
          .join(overSide,
            col("band") === col("ob") &&
              expr(s"slice(sig, band * $RowsPerBand + 1, $RowsPerBand)") === col("okey"),
            "left_anti")
      }
    val idx = capped
      .select(col("bkey60"), col("doc_id").as("doc_old"), col("sig").as("sig_old"))
    inc.join(idx, "bkey60")
      // same est-at-the-join + threshold-before-distinct shape as
      // the inline detector — signatures never ride the dedup shuffle
      .select(col("doc_new"), col("doc_old"),
        (size(filter(zip_with(col("sig_new"), col("sig_old"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est"))
      .filter(col("est") >= 0.35)
      .dropDuplicates("doc_new", "doc_old")
      .groupBy(col("doc_new"))
      .agg(min(col("doc_old")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        r6(max(col("est"))).as("best_est"))
      .orderBy(col("doc_new"))
  }

  def dedupIncrementalIndexed(s: SparkSession, dir: String, table: String): DataFrame =
    dedupIncrementalIndexedOf(
      t(s, dir, "documents").filter(col("doc_id") % 10 === 0), table)

  /** Rewrite an appended-to band index into a fresh generation at
    * `outTable`: one pass over the persisted rows recomputing GLOBAL
    * `bucket_n` (appends count per segment — see [[appendBandIndex]])
    * and re-bucketing into clean files. A NEW table, never in place
    * (the [[Maintenance.mergePolicy]] generation swap). No text is
    * re-hashed — the band rows already carry everything. */
  def compactBandIndex(s: SparkSession, table: String, outTable: String): Unit = {
    requireIndexFormat(s, table)
    // the sidecar re-counts the rewritten rows: one row per bucket
    writeBucketed(withBucketN(s.table(table)
        .select(col("doc_id"), col("sig"), col("band"), col("bkey60"))),
      "bkey60", outTable, withCounts = true)
  }

  /** Broadcast gate for the oversized-bucket anti join in
    * [[dedupIncrementalIndexed]] — hot buckets are few by definition
    * (each represents > [[MaxPosting]] posting rows), but the set is
    * data-dependent, so it only carries a hint when counted small
    * (the batch-ANN BatchBroadcastCap rule). */
  val OversizedBroadcastCap = 65536L

  /** Files per bucket before compaction triggers: every append adds
    * one file per bucket it touches, and probe cost grows with the
    * per-bucket file count (each is opened and merge-read). */
  val DefaultMaxFilesPerBucket = 16

  /** The band index's merge policy ([[maintainBucketed]]) —
    * [[appendBandIndex]] grows file segments without bound. Returns
    * true when [[compactBandIndex]] ran into `outTable`. */
  def maintainBandIndex(
      s: SparkSession, table: String, outTable: String,
      maxFilesPerBucket: Int = DefaultMaxFilesPerBucket): Boolean =
    maintainBucketed(s, "band", table, maxFilesPerBucket)(compactBandIndex(s, table, outTable))

  /** Band counts the sweep evaluates (NumHashes = 64 fixed, so
    * rows-per-band = 64/b): more bands → looser match requirement →
    * higher recall, lower precision — the LSH S-curve. */
  val SweepBandings: Seq[Int] = Seq(8, 16, 32)

  /** The LSH banding operating curve — how (b, r) is actually chosen
    * before a 100 TB dedup run: for each banding in [[SweepBandings]]
    * over the SAME 64-hash signatures, candidate pairs are generated,
    * re-thresholded at τ = [[PrefixTau]], and audited against the
    * exact threshold join ([[dedupJaccardPrefix]]) — precision and
    * recall per banding, the measured S-curve beside the registered
    * detector's single point ([[dedupLshAudit]]).
    *
    * Scale shape: ONE signature pass and ONE bucket shuffle for ALL
    * bandings — each doc explodes its (banding, band, key-slice)
    * rows (8+16+32 = 56/doc) into a single groupBy keyed by
    * (banding, band, key); pairs expand map-side per bucket with the
    * same [[MaxPosting]] skew cap; the audit is one full-outer join
    * per banding against the truth pairs (a bandings×truth grid —
    * truth is near-dup-sized, not corpus-sized). */
  def lshBandSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents", resplit = true)
    // checkpointed: the signature relation feeds the banding explode
    // AND both est-verification joins below. Built CONCURRENTLY with
    // the truth chain (guide §2.6): the signature checkpoint (md5
    // shingle + minhash UDF pass) and the truth's own shingle-array
    // checkpoint are independent corpus passes that would otherwise
    // serialize during query construction.
    val (sig, truthRaw) = OpsShared.concurrently(
      d.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
        .localCheckpoint(true),
      dedupJaccardPrefix(s, dir))
    val bandingList = SweepBandings.mkString(", ")
    // band rows carry ONLY (nb, band, bkey, doc_id) — the 64-hash
    // signature never rides the bucket exchange (it did: ~512 B × 56
    // band rows per doc, the heaviest shuffle in the registry; guide
    // §2.3 "shuffle keys and metadata instead of payloads"). est is a
    // pure function of the pair's signatures, so candidates dedup
    // FIRST on the narrow (nb, doc_a, doc_b) key and the est is
    // computed once per candidate from two doc-keyed signature joins
    // — the exact shape the DuckDB oracle below already uses, so the
    // row set is unchanged by construction.
    val banded = sig.select(
      col("doc_id"),
      explode(expr(
        s"""flatten(transform(array($bandingList), nb ->
           |  transform(sequence(0, nb - 1), b ->
           |    struct(nb AS nb, b AS band,
           |      slice(sig, b * ($NumHashes div nb) + 1, $NumHashes div nb) AS bkey))))"""
          .stripMargin)).as("bb"))
      .select(col("bb.nb").as("nb"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"), col("doc_id"))
    val buckets = capBuckets(banded, Seq("nb", "band", "bkey"))
      .groupBy(col("nb"), col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
    val cand = buckets
      .select(col("nb"), explode(expr(
        "flatten(transform(members, (m, i) -> " +
          "transform(slice(members, i + 2, size(members)), n -> " +
          "struct(m AS doc_a, n AS doc_b))))"))
        .as("p"))
      .select(col("nb"), col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .dropDuplicates("nb", "doc_a", "doc_b")
    val pred = cand
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("nb"), col("doc_a"), col("doc_b"),
        r6(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
          .cast("double") / NumHashes).as("est"))
      .filter(col("est") >= PrefixTau)
      .select(col("nb"), col("doc_a"), col("doc_b"), lit(1L).as("p"))
    val truth = truthRaw
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
      .crossJoin(SweepBandings.toDF("nb"))
    // report totality: every banding in the grid emits a row even on
    // a corpus where truth AND predictions are both empty (the
    // ivf_probe_sweep / vocab_coverage explicit-grid convention).
    val metrics = truth.join(pred, Seq("nb", "doc_a", "doc_b"), "full_outer")
      .groupBy(col("nb"))
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("p"), lit(0L))).as("n_pred"),
        sum(when(col("t").isNotNull && col("p").isNotNull, 1L).otherwise(0L)).as("tp"))
    SweepBandings.toDF("nb").join(metrics, Seq("nb"), "left")
      .select(col("nb").cast("long").as("bands"),
        expr(s"CAST($NumHashes div nb AS BIGINT)").as("rows_per_band"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("prec", r6(when(col("n_pred") === 0, 0.0)
        .otherwise(col("tp").cast("double") / col("n_pred"))))
      .withColumn("rec", r6(when(col("n_true") === 0, 0.0)
        .otherwise(col("tp").cast("double") / col("n_true"))))
      .orderBy(col("bands"))
  }

  /** Shared signature CTEs computed once (MATERIALIZED), per-banding
    * band/bucket/pair relations keyed by the banding tag — the same
    * one-shuffle-for-all-bandings shape as the engine. Truth = the
    * proven exact-join SQL, nested. */
  lazy val lshBandSweepSql: String = {
    val bandingList = SweepBandings.mkString(", ")
    s"""WITH s_tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |s_sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM s_tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |s_coef AS (
       |  SELECT j,
       |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${MinhashP - 1} + 1 AS a,
       |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % $MinhashP AS b
       |  FROM UNNEST(range(0, $NumHashes)) AS t(j)),
       |s_hh AS MATERIALIZED (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinhashP AS h
       |  FROM s_sh),
       |s_sig AS MATERIALIZED (
       |  SELECT doc_id, j, MIN((a * h + b) % $MinhashP) AS v
       |  FROM s_hh CROSS JOIN s_coef
       |  GROUP BY doc_id, j),
       |s_sigl AS MATERIALIZED (
       |  SELECT doc_id, list(v ORDER BY j) AS sig FROM s_sig GROUP BY doc_id),
       |s_bandings AS (SELECT unnest([$bandingList]) AS nb),
       |s_band AS MATERIALIZED (
       |  SELECT doc_id, nb, b,
       |    sig[b*($NumHashes // nb)+1 : b*($NumHashes // nb)+($NumHashes // nb)] AS bkey
       |  FROM s_sigl CROSS JOIN s_bandings, UNNEST(range(0, nb)) AS t(b)),
       |s_bucketed AS MATERIALIZED (
       |  SELECT s_band.* FROM s_band
       |  JOIN (SELECT nb, b, bkey FROM s_band GROUP BY nb, b, bkey
       |        HAVING COUNT(*) BETWEEN 2 AND $MaxPosting) g
       |  USING (nb, b, bkey)),
       |s_cand AS MATERIALIZED (
       |  SELECT DISTINCT x.nb, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM s_bucketed x JOIN s_bucketed y
       |    ON x.nb = y.nb AND x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |s_pred AS MATERIALIZED (
       |  SELECT nb, doc_a, doc_b FROM (
       |    SELECT c.nb, c.doc_a, c.doc_b,
       |      round(SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
       |        / CAST($NumHashes AS DOUBLE), 6) + 0 AS est
       |    FROM s_cand c
       |    JOIN s_sig sa ON sa.doc_id = c.doc_a
       |    JOIN s_sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
       |    GROUP BY c.nb, c.doc_a, c.doc_b)
       |  WHERE est >= $PrefixTau),
       |truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ($dedupJaccardPrefixSql)),
       |s_grid AS (SELECT nb, doc_a, doc_b FROM truth CROSS JOIN s_bandings),
       |s_joined AS (
       |  SELECT coalesce(g.nb, p.nb) AS nb,
       |    CASE WHEN g.doc_a IS NOT NULL THEN 1 ELSE 0 END AS t,
       |    CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS p
       |  FROM s_grid g FULL OUTER JOIN s_pred p
       |    ON p.nb = g.nb AND p.doc_a = g.doc_a AND p.doc_b = g.doc_b),
       |s_metrics AS (
       |  SELECT nb, SUM(t) AS n_true, SUM(p) AS n_pred,
       |    SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS tp
       |  FROM s_joined GROUP BY nb)
       |SELECT CAST(b.nb AS BIGINT) AS bands,
       |  CAST($NumHashes // b.nb AS BIGINT) AS rows_per_band,
       |  CAST(COALESCE(m.n_true, 0) AS BIGINT) AS n_true,
       |  CAST(COALESCE(m.n_pred, 0) AS BIGINT) AS n_pred,
       |  CAST(COALESCE(m.tp, 0) AS BIGINT) AS tp,
       |  round(CASE WHEN COALESCE(m.n_pred, 0) = 0 THEN 0.0
       |             ELSE CAST(m.tp AS DOUBLE) / m.n_pred END, 6) + 0 AS prec,
       |  round(CASE WHEN COALESCE(m.n_true, 0) = 0 THEN 0.0
       |             ELSE CAST(m.tp AS DOUBLE) / m.n_true END, 6) + 0 AS rec
       |FROM s_bandings b LEFT JOIN s_metrics m ON m.nb = b.nb
       |ORDER BY bands""".stripMargin
  }

  /** The oracle never sees the prefix machinery: exactness of the
    * filter means the plain threshold join IS the specification. */
  val dedupJaccardPrefixSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 6) + 0 AS jaccard
       |FROM pairs
       |JOIN counts ca ON ca.doc_id = doc_a
       |JOIN counts cb ON cb.doc_id = doc_b
       |WHERE CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common) >= $PrefixTau
       |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin

  /** Signature-size grid for [[minhashPermSweep]] — each entry is a
    * PREFIX of the committed [[NumHashes]]-hash signature (the first
    * k min-hashes of a longer signature ARE a valid k-permutation
    * MinHash, so one signature pass serves every grid point). All
    * grid values divide 10⁶ evenly (1/64 = 0.015625), so every
    * estimate is an EXACT 6-decimal — no r6 half-boundary exists. */
  val PermGrid: Seq[Int] = Seq(16, 32, 64)

  /** MinHash estimation-accuracy sweep — the OTHER tuning knob next
    * to [[lshBandSweep]]'s banding grid: how many permutations must a
    * 100 TB run pay for? For each k in [[PermGrid]], estimate Jaccard
    * from the first k signature positions on the exact-truth pairs
    * ([[dedupJaccardPrefix]], provably complete at τ) and report the
    * mean/max absolute estimation error. E[est] = J with variance
    * J(1−J)/k, so the report should show MAE shrinking ~1/√k — a
    * corpus whose MAE at k=64 still exceeds the banding margin needs
    * a longer signature, one that converges by k=16 can halve its
    * signature storage.
    *
    * Scale shape: ONE signature pass; the truth relation is
    * near-dup-sized and joins the corpus-sized signature relation on
    * doc_id twice, hint-free (AQE broadcasts the small side); the
    * grid expands map-side per pair; per-pair errors are exact
    * 6-decimals folded with the micro-unit integer mean (the
    * kn_logprob remedy), so no float bridge risk anywhere. */
  def minhashPermSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = t(s, dir, "documents", resplit = true)
    // the signature relation joins the truth pairs TWICE (sig_a and
    // sig_b sides) — unchecked, the md5-shingle + minhash UDF pass
    // runs twice. One eager checkpoint of the doc-keyed signatures
    // (64 longs/doc — the relation any sweep must hold) halves the
    // signature cost. Built CONCURRENTLY with the independent truth
    // chain so the two corpus UDF checkpoints overlap (guide §2.6).
    val (sig, truthRaw) = OpsShared.concurrently(
      d.select(col("doc_id"), md5ShingleUdf(col("text")).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), minhashUdf(col("hs")).as("sig"))
        .localCheckpoint(true),
      dedupJaccardPrefix(s, dir))
    val gridList = PermGrid.mkString(", ")
    val errs = truthRaw
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("jaccard"), explode(expr(
        s"""transform(array($gridList), k ->
           |  struct(k AS k,
           |    size(filter(zip_with(slice(sig_a, 1, k), slice(sig_b, 1, k),
           |      (x, y) -> x = y), b -> b)) AS m))""".stripMargin)).as("e"))
      .select(col("e.k").as("k"),
        r6(col("e.m").cast("double") / col("e.k")).as("est"), col("jaccard"))
      .withColumn("err", r6(abs(col("est") - col("jaccard"))))
    val metrics = errs.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("err") * 1e6).cast("long")).as("q"),
        max(col("err")).as("mx"))
    PermGrid.toDF("k").join(metrics, Seq("k"), "left")
      .select(col("k").cast("long").as("perms"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("q"), col("mx"))
      .withColumn("mae", when(col("n_pairs") === 0, lit(0.0))
        .otherwise(expr("CAST((2 * q + n_pairs) div (2 * n_pairs) AS DOUBLE) / 1e6")))
      .select(col("perms"), col("n_pairs"), col("mae"),
        coalesce(col("mx"), lit(0.0)).as("max_err"))
      .orderBy(col("perms"))
  }

  /** Oracle mirror of [[minhashPermSweep]]: the coefficient-replay
    * signature chain (the lsh_band_sweep CTEs, p_-prefixed against
    * nested-WITH shadowing), truth nested verbatim, per-(pair, k)
    * estimates from positions j < k, micro-unit integer mean. */
  lazy val minhashPermSweepSql: String = {
    val gridList = PermGrid.mkString(", ")
    s"""WITH p_tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= $ShingleK),
       |p_sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    $shingleSql AS shingle
       |  FROM p_tok, UNNEST(range(0, len(w) - ${ShingleK - 1})) AS u(i)),
       |p_coef AS (
       |  SELECT j,
       |    ('0x' || substring(md5('a' || j), 1, 15))::BIGINT % ${MinhashP - 1} + 1 AS a,
       |    ('0x' || substring(md5('b' || j), 1, 15))::BIGINT % $MinhashP AS b
       |  FROM UNNEST(range(0, $NumHashes)) AS t(j)),
       |p_hh AS MATERIALIZED (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinhashP AS h
       |  FROM p_sh),
       |p_sig AS MATERIALIZED (
       |  SELECT doc_id, j, MIN((a * h + b) % $MinhashP) AS v
       |  FROM p_hh CROSS JOIN p_coef
       |  GROUP BY doc_id, j),
       |p_truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b, jaccard FROM ($dedupJaccardPrefixSql)),
       |p_grid AS (SELECT unnest([$gridList]) AS k),
       |p_err AS MATERIALIZED (
       |  SELECT g.k, t.doc_a, t.doc_b,
       |    round(abs(
       |      round(SUM(CASE WHEN sa.j < g.k AND sa.v = sb.v THEN 1 ELSE 0 END)
       |            / CAST(g.k AS DOUBLE), 6) + 0
       |      - t.jaccard), 6) + 0 AS err
       |  FROM p_truth t
       |  JOIN p_sig sa ON sa.doc_id = t.doc_a
       |  JOIN p_sig sb ON sb.doc_id = t.doc_b AND sb.j = sa.j
       |  CROSS JOIN p_grid g
       |  GROUP BY g.k, t.doc_a, t.doc_b, t.jaccard),
       |p_metrics AS (
       |  SELECT k, COUNT(*) AS n_pairs,
       |    SUM(CAST(round(err * 1e6) AS BIGINT)) AS q,
       |    MAX(err) AS mx
       |  FROM p_err GROUP BY k)
       |SELECT CAST(g.k AS BIGINT) AS perms,
       |  CAST(COALESCE(m.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CASE WHEN COALESCE(m.n_pairs, 0) = 0 THEN 0.0
       |       ELSE CAST((2 * m.q + m.n_pairs) // (2 * m.n_pairs) AS DOUBLE) / 1000000.0
       |  END AS mae,
       |  COALESCE(m.mx, 0.0) AS max_err
       |FROM p_grid g LEFT JOIN p_metrics m ON m.k = g.k
       |ORDER BY perms""".stripMargin
  }

  /** Cross-source duplication matrix — the "which dumps copy each
    * other" audit a multi-crawl corpus runs before mixing sources
    * (two mirrors of one site should be dropped at the SOURCE level,
    * not pair-by-pair): near-duplicate pairs from the exact
    * prefix-join truth, attributed to their (unordered) source pair,
    * with the pair count and the mean/max similarity per cell.
    * Within-source cells (s1 = s2) expose self-duplication. Sparse
    * by design — a cell with zero pairs carries no information, and
    * the full S² grid of a many-source corpus would dwarf the data.
    *
    * Scale shape: the pair relation is near-dup-sized and joins the
    * (doc_id, source) projection twice on doc_id, hint-free; the
    * matrix aggregation is at most S² rows. Means fold with the
    * micro-unit integer form (jaccard is an exact 6-decimal). */
  def sourceOverlapReport(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
    dedupJaccardPrefix(s, dir)
      .join(d.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_1"),
        greatest(col("sa"), col("sb")).as("source_2"), col("jaccard"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1e6).cast("long")).as("q"),
        max(col("jaccard")).as("max_j"))
      .withColumn("mean_j",
        expr("CAST((2 * q + n_pairs) div (2 * n_pairs) AS DOUBLE) / 1e6"))
      .select(col("source_1"), col("source_2"), col("n_pairs"),
        col("mean_j"), col("max_j"))
      .orderBy(col("source_1"), col("source_2"))
  }

  /** Oracle mirror of [[sourceOverlapReport]] — nested exact truth,
    * unordered source attribution, micro-unit mean. */
  lazy val sourceOverlapReportSql: String =
    s"""WITH o_truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b, jaccard FROM ($dedupJaccardPrefixSql)),
       |o_cells AS (
       |  SELECT least(da.source, db.source) AS source_1,
       |    greatest(da.source, db.source) AS source_2, t.jaccard
       |  FROM o_truth t
       |  JOIN documents da ON da.doc_id = t.doc_a
       |  JOIN documents db ON db.doc_id = t.doc_b)
       |SELECT source_1, source_2, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST((2 * SUM(CAST(round(jaccard * 1e6) AS BIGINT)) + COUNT(*))
       |       // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS mean_j,
       |  MAX(jaccard) AS max_j
       |FROM o_cells GROUP BY source_1, source_2
       |ORDER BY source_1, source_2""".stripMargin

  // ------------------------------------------------ confusable dedup

  /** Zero-width characters an adversarial duplicate hides behind —
    * ZWSP, ZWNJ, ZWJ, and the BOM/ZWNBSP (literal code points; they
    * are not regex metacharacters, so the class reads identically to
    * Java regex and RE2). */
  private val ZeroWidthClass = "[​‌‍﻿]"

  /** Whitespace-run class, EXPLICIT on purpose: Java's `\s` includes
    * `\x0B` (vertical tab) where RE2's does not — the one hidden
    * divergence an implicit `\s+` would smuggle into the bridge. NBSP
    * added because confusable text routinely swaps it for space. */
  private val WsRunClass = "[ \\t\\n\\r\\f ]+"

  /** High-frequency Latin-lookalike confusables (lowercase only —
    * the skeleton casefolds first): Cyrillic а е о р с х у і ј ѕ and
    * Greek ο α ν mapped to the Latin letters they render as. Unicode
    * TR39's confusable-skeleton idea cut down to the spam alphabet;
    * extend the two strings in lockstep to widen coverage. */
  private val ConfusablesFrom =
    "аеорсхуіјѕοαν"
  private val ConfusablesTo = "aeopcxyijsoav"

  /** Confusable-skeleton dedup — the adversarial tier ABOVE
    * [[normDedup]]: a spam duplicate that swaps Latin letters for
    * Cyrillic/Greek lookalikes or hides zero-width characters inside
    * words defeats both byte-exact and punctuation-normalized
    * hashing (norm's `[^a-z0-9]` rule turns a Cyrillic 'а' into a
    * SPACE, so the normal forms differ). The skeleton — casefold,
    * strip zero-width, map confusables to their Latin base, collapse
    * whitespace runs — is invariant to exactly those edits, and
    * grouping on its md5 costs the same one map pass + one 16-byte
    * key shuffle as norm_dedup (documents never shuffle).
    *
    * Same output contract as [[normDedup]]: per doc, its skeleton
    * key, the cluster's canonical min doc, cluster size, dup flag. */
  def homoglyphDedup(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val skel = trim(regexp_replace(
      translate(regexp_replace(lower(col("text")), ZeroWidthClass, ""),
        ConfusablesFrom, ConfusablesTo),
      WsRunClass, " "))
    val w = Window.partitionBy(col("skel_key"))
    d.select(col("doc_id"), md5(skel.cast("binary")).as("skel_key"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(
        col("doc_id"), col("skel_key"), col("canonical_id"),
        count(lit(1)).over(w).as("n_copies"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Oracle mirror of [[homoglyphDedup]] — the identical skeleton
    * chain (lower → strip zero-width → translate confusables →
    * collapse whitespace); the regex classes carry literal code
    * points and escaped ASCII controls, which Java regex and RE2
    * read identically. */
  val homoglyphDedupSql: String =
    s"""WITH hg AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(
       |      translate(regexp_replace(lower(text), '$ZeroWidthClass', '', 'g'),
       |        '$ConfusablesFrom', '$ConfusablesTo'),
       |      '$WsRunClass', ' ', 'g'))) AS skel_key
       |  FROM documents)
       |SELECT doc_id, skel_key,
       |  MIN(doc_id) OVER (PARTITION BY skel_key) AS canonical_id,
       |  COUNT(*) OVER (PARTITION BY skel_key) AS n_copies,
       |  CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY skel_key)
       |       THEN 1 ELSE 0 END AS is_dup
       |FROM hg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ soft dedup weights

  /** Duplicate-aware soft weights — the "keep everything, count it
    * once" alternative to hard removal (data-constrained scaling:
    * repeated data has sharply diminishing returns, so n near-copies
    * should contribute ~one copy's worth of gradient, not n). Each
    * near-dup component (the [[dedupComponents]] clusters) spreads
    * unit weight across its members — weight = 1/n_copies — and docs
    * in no component keep weight 1. TOTAL (one row per doc) with the
    * effective word count the weighted corpus contributes.
    *
    * Scale shape: the component relation is ≪ corpus (only docs that
    * appear in near-dup pairs); its sizes are one tiny aggregation,
    * and the corpus pays ONE left join against that narrow relation
    * — the weights themselves are map-only arithmetic. 1/n and
    * n_words/n are IEEE-identical ratios of exact integers in both
    * engines, r6-rounded (the established bridge). */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
    val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("nc"))
    val mult = comp.join(sizes, "component").select(col("doc_id"), col("nc"))
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(mult, Seq("doc_id"), "left")
      .withColumn("n_copies", coalesce(col("nc"), lit(1L)))
      .select(col("doc_id"), col("n_words"), col("n_copies"),
        r6(lit(1.0) / col("n_copies")).as("weight"),
        r6(col("n_words").cast("double") / col("n_copies")).as("eff_words"))
      .orderBy(col("doc_id"))
  }

  /** Composes the proven component oracle; CAST-to-DOUBLE before
    * dividing (DuckDB's bare `1.0` is DECIMAL and would divide in
    * decimal, not IEEE). */
  lazy val softDedupWeightsSql: String =
    s"""WITH sw_c AS MATERIALIZED (
       |  SELECT doc_id, component FROM ($dedupComponentsSql)),
       |sw_sz AS (SELECT component, COUNT(*) AS nc FROM sw_c GROUP BY component),
       |sw_m AS (SELECT c.doc_id, s.nc FROM sw_c c JOIN sw_sz s USING (component))
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       |  CAST(COALESCE(m.nc, 1) AS BIGINT) AS n_copies,
       |  round(CAST(1 AS DOUBLE) / COALESCE(m.nc, 1), 6) + 0 AS weight,
       |  round(CAST(len(string_split(d.text, ' ')) AS DOUBLE)
       |        / COALESCE(m.nc, 1), 6) + 0 AS eff_words
       |FROM documents d LEFT JOIN sw_m m USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ memorization spans

  /** Longest verbatim-duplicated span per document — the companion
    * to [[memorizationReport]]'s dup-window FRACTION: consecutive
    * duplicated windows merge into spans (a run of r overlapping
    * duplicated [[ExactSubstrWords]]-word windows is ONE duplicated
    * passage of r + L − 1 words), and the per-doc max is the
    * worst-case regurgitation length — extraction attacks emit the
    * longest memorized run, not an average (Carlini et al. 2021's
    * extractable-length framing). Top-50 by span, ties to the lower
    * doc.
    *
    * Scale shape: the shared posting stream + ONE count per window
    * hash + one rejoin (exactly memorization_report's cost), then
    * gaps-and-islands per doc: pos − row_number() over the DOC-KEYED
    * window (bounded by doc length, never corpus-wide), one
    * (doc, island) aggregation, one per-doc max. */
  def memorizationSpans(s: SparkSession, dir: String): DataFrame = {
    val wins = substrWindowRows(t(s, dir, "documents"))
    val counts = wins.groupBy(col("h")).agg(count(lit(1)).as("n"))
    val dup = wins.join(counts, "h").filter(col("n") >= 2)
      .select(col("doc_id"), col("pos"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("island", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("run")).as("longest_run"))
      .withColumn("span_words", col("longest_run") + lit(ExactSubstrWords - 1))
      .select(col("doc_id"), col("n_spans"), col("longest_run"), col("span_words"))
      .orderBy(col("span_words").desc, col("doc_id"))
      .limit(50)
  }

  val memorizationSpansSql: String = {
    val L = ExactSubstrWords
    val hWin = graft.functions.CrossHash.sqlHash60(
      s"array_to_string(w[i + 1 : i + $L], ' ')")
    s"""WITH ms_w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ms_win AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, $hWin AS h
       |  FROM ms_w, UNNEST(range(0, len(w) - ${L - 1})) AS t(i)
       |  WHERE len(w) >= $L),
       |ms_cnt AS (SELECT h, COUNT(*) AS n FROM ms_win GROUP BY h),
       |ms_dup AS (
       |  SELECT doc_id, pos FROM ms_win JOIN ms_cnt USING (h) WHERE n >= 2),
       |ms_isl AS (
       |  SELECT doc_id,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM ms_dup),
       |ms_run AS (
       |  SELECT doc_id, island, COUNT(*) AS run FROM ms_isl
       |  GROUP BY doc_id, island)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(MAX(run) AS BIGINT) AS longest_run,
       |  CAST(MAX(run) + ${L - 1} AS BIGINT) AS span_words
       |FROM ms_run GROUP BY doc_id
       |ORDER BY span_words DESC, doc_id
       |LIMIT 50""".stripMargin
  }

  // ------------------------------------------------ dedup funnel

  /** The dedup FUNNEL — the tier-by-tier survivorship table a corpus
    * release publishes: documents and words surviving each
    * successively fuzzier tier applied IN SEQUENCE — byte-exact →
    * normalized ([[normDedup]]'s casefold/punctuation skeleton) →
    * near-dup ([[dedupComponents]] clusters). Sequencing composes
    * exactly without re-running anything: a norm-cluster min is
    * always an exact-cluster min (every exact cluster is a subset of
    * its norm cluster and shares its min), so the norm keep set is a
    * subset of the exact keep set by construction; the near-dup tier
    * then re-elects min(doc_id) among each component's STILL-ALIVE
    * members (a component whose global min was already removed by a
    * finer tier must not lose its surviving copy too).
    *
    * Scale shape: two key-partitioned windows, BOTH on 16-byte md5
    * keys (raw text as a partition key would ship the full document
    * through the exchange and land a 10⁶-copy mega-duplicate class
    * on one task — the skewed-hot-key shape capBuckets exists to
    * prevent), tag exact/norm survivors; the component relation is
    * ≪ corpus and its still-alive minima are one tiny aggregation
    * joined back; the funnel itself is ONE 1-row aggregation stacked
    * to 4 tier rows. Total on an empty corpus (zero counts, never
    * null). */
  def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val wT = Window.partitionBy(col("tkey"))
    val wN = Window.partitionBy(col("nkey"))
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val flags = d
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"),
        md5(col("text").cast("binary")).as("tkey"), md5(norm.cast("binary")).as("nkey"))
      .withColumn("keep_exact",
        (col("doc_id") === min(col("doc_id")).over(wT)).cast("int"))
      .withColumn("keep_norm",
        (col("doc_id") === min(col("doc_id")).over(wN)).cast("int"))
      .select(col("doc_id"), col("nw"), col("keep_exact"), col("keep_norm"))
    // NOT checkpointed (r15 A/B 2.28 -> 2.37 s): the flag windows
    // overlap the component union-find as concurrent work, so the
    // barrier costs more than the duplicate scan+window it saves.
    val comp = dedupComponents(s, dir).select(col("doc_id"), col("component"))
    val alive = comp
      .join(flags.filter(col("keep_norm") === 1).select(col("doc_id")), "doc_id")
      .groupBy(col("component")).agg(min(col("doc_id")).as("min_alive"))
    val tagged = flags.join(comp, Seq("doc_id"), "left")
      .join(alive, Seq("component"), "left")
      .withColumn("keep_nd",
        (col("keep_norm") === 1 &&
          (col("component").isNull || col("doc_id") === col("min_alive"))).cast("int"))
    tagged.agg(
        count(lit(1)).as("d0"),
        coalesce(sum(col("nw")), lit(0L)).as("w0"),
        coalesce(sum(col("keep_exact").cast("long")), lit(0L)).as("d1"),
        coalesce(sum(when(col("keep_exact") === 1, col("nw")).otherwise(0L)), lit(0L)).as("w1"),
        coalesce(sum(col("keep_norm").cast("long")), lit(0L)).as("d2"),
        coalesce(sum(when(col("keep_norm") === 1, col("nw")).otherwise(0L)), lit(0L)).as("w2"),
        coalesce(sum(col("keep_nd").cast("long")), lit(0L)).as("d3"),
        coalesce(sum(when(col("keep_nd") === 1, col("nw")).otherwise(0L)), lit(0L)).as("w3"))
      .selectExpr(
        """stack(4,
          |  0, 'raw',        d0, w0, CAST(0 AS BIGINT),
          |  1, 'exact',      d1, w1, d0 - d1,
          |  2, 'normalized', d2, w2, d1 - d2,
          |  3, 'neardup',    d3, w3, d2 - d3
          |) AS (stage, tier, n_docs, n_words, docs_removed)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** Composes the proven component oracle; the two survivor windows
    * mirror dedup_exact/norm_dedup's keys verbatim. */
  lazy val dedupFunnelSql: String =
    s"""WITH df_f AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS nw,
       |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
       |         THEN 1 ELSE 0 END AS keep_exact,
       |    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY
       |           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
       |         THEN 1 ELSE 0 END AS keep_norm
       |  FROM documents),
       |df_c AS MATERIALIZED (
       |  SELECT doc_id, component FROM ($dedupComponentsSql)),
       |df_a AS (
       |  SELECT c.component, MIN(c.doc_id) AS min_alive
       |  FROM df_c c JOIN df_f f USING (doc_id)
       |  WHERE f.keep_norm = 1
       |  GROUP BY c.component),
       |df_t AS (
       |  SELECT f.*,
       |    CASE WHEN f.keep_norm = 1
       |          AND (c.component IS NULL OR f.doc_id = a.min_alive)
       |         THEN 1 ELSE 0 END AS keep_nd
       |  FROM df_f f
       |  LEFT JOIN df_c c USING (doc_id)
       |  LEFT JOIN df_a a USING (component)),
       |df_s AS (
       |  SELECT COUNT(*) AS d0, COALESCE(SUM(nw), 0) AS w0,
       |    COALESCE(SUM(keep_exact), 0) AS d1,
       |    COALESCE(SUM(CASE WHEN keep_exact = 1 THEN nw ELSE 0 END), 0) AS w1,
       |    COALESCE(SUM(keep_norm), 0) AS d2,
       |    COALESCE(SUM(CASE WHEN keep_norm = 1 THEN nw ELSE 0 END), 0) AS w2,
       |    COALESCE(SUM(keep_nd), 0) AS d3,
       |    COALESCE(SUM(CASE WHEN keep_nd = 1 THEN nw ELSE 0 END), 0) AS w3
       |  FROM df_t)
       |SELECT 0 AS stage, 'raw' AS tier, CAST(d0 AS BIGINT) AS n_docs,
       |  CAST(w0 AS BIGINT) AS n_words, CAST(0 AS BIGINT) AS docs_removed
       |FROM df_s
       |UNION ALL SELECT 1, 'exact', CAST(d1 AS BIGINT), CAST(w1 AS BIGINT),
       |  CAST(d0 - d1 AS BIGINT) FROM df_s
       |UNION ALL SELECT 2, 'normalized', CAST(d2 AS BIGINT), CAST(w2 AS BIGINT),
       |  CAST(d1 - d2 AS BIGINT) FROM df_s
       |UNION ALL SELECT 3, 'neardup', CAST(d3 AS BIGINT), CAST(w3 AS BIGINT),
       |  CAST(d2 - d3 AS BIGINT) FROM df_s
       |ORDER BY stage""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cap_report" -> (dedupCapReport _),
    "homoglyph_dedup" -> (homoglyphDedup _),
    "soft_dedup_weights" -> (softDedupWeights _),
    "memorization_spans" -> (memorizationSpans _),
    "dedup_funnel" -> (dedupFunnel _),
    "source_overlap_report" -> (sourceOverlapReport _),
    "dedup_exact" -> (dedupExact _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_jaccard_prefix" -> (dedupJaccardPrefix _),
    "dedup_lsh_audit" -> (dedupLshAudit _),
    "containment_dedup" -> (containmentDedup _),
    "dedup_components" -> (dedupComponents _),
    "dedup_survivor_quality" -> (dedupSurvivorQuality _),
    "minhash_lsh" -> (minhashLsh _),
    "simhash_dedup" -> (simhashDedup _),
    "simhash_weighted" -> (simhashWeighted _),
    "span_dedup" -> (spanDedup _),
    "substr_dedup" -> (substrDedup _),
    "repetition_scrub" -> (repetitionScrub _),
    "repetition_scrub_coarse" -> (repetitionScrubCoarse _),
    "repetition_grain_sweep" -> (repetitionGrainSweep _),
    "repetition_report" -> (repetitionReport _),
    "substr_dedup_maximal" -> (substrDedupMaximal _),
    "maximal_scrub_incremental" -> (maximalScrubIncremental _),
    "maximal_scrub_residual" -> (maximalScrubResidual _),
    "substr_maximal_report" -> (substrMaximalReport _),
    "substr_threshold_sweep" -> (substrThresholdSweep _),
    "substr_dedup_report" -> (substrDedupReport _),
    "substr_scrub_incremental" -> (substrScrubIncremental _),
    "memorization_report" -> (memorizationReport _),
    "winnow_pairs" -> (winnowPairs _),
    "norm_dedup" -> (normDedup _),
    "lsh_band_sweep" -> (lshBandSweep _),
    "minhash_perm_sweep" -> (minhashPermSweep _),
    "dedup_incremental" -> (dedupIncremental _))

  val oracles: Map[String, String] = Map(
    "dedup_cap_report" -> dedupCapReportSql,
    "homoglyph_dedup" -> homoglyphDedupSql,
    "soft_dedup_weights" -> softDedupWeightsSql,
    "memorization_spans" -> memorizationSpansSql,
    "dedup_funnel" -> dedupFunnelSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_jaccard_prefix" -> dedupJaccardPrefixSql,
    "dedup_lsh_audit" -> dedupLshAuditSql,
    "containment_dedup" -> containmentDedupSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_survivor_quality" -> dedupSurvivorQualitySql,
    "minhash_lsh" -> minhashLshSql,
    "simhash_dedup" -> simhashDedupSql,
    "simhash_weighted" -> simhashWeightedSql,
    "span_dedup" -> spanDedupSql,
    "substr_dedup" -> substrDedupSql,
    "repetition_scrub" -> repetitionScrubSql,
    "repetition_scrub_coarse" -> repetitionScrubCoarseSql,
    "repetition_grain_sweep" -> repetitionGrainSweepSql,
    "repetition_report" -> repetitionReportSql,
    "substr_dedup_maximal" -> substrDedupMaximalSql,
    "maximal_scrub_incremental" -> maximalScrubIncrementalSql,
    "maximal_scrub_residual" -> maximalScrubResidualSql,
    "substr_maximal_report" -> substrMaximalReportSql,
    "substr_threshold_sweep" -> substrThresholdSweepSql,
    "substr_dedup_report" -> substrDedupReportSql,
    "substr_scrub_incremental" -> substrScrubIncrementalSql,
    "memorization_report" -> memorizationReportSql,
    "winnow_pairs" -> winnowPairsSql,
    "norm_dedup" -> normDedupSql,
    "lsh_band_sweep" -> lshBandSweepSql,
    "minhash_perm_sweep" -> minhashPermSweepSql,
    "source_overlap_report" -> sourceOverlapReportSql,
    "dedup_incremental" -> dedupIncrementalSql)
}
