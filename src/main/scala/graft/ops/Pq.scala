package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.{cosineDist, r6}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with ADC search — the vector-compression
  * tier between scalar int8 ([[Quantize]]) and coarse IVF
  * ([[KMeansVec]]), and the workhorse of billion-scale ANN systems:
  * split each vector into [[SubSpaces]] subvectors, learn a tiny
  * per-subspace codebook, store each vector as [[SubSpaces]] byte
  * codes (64× smaller than float32 here), and answer queries with an
  * Asymmetric Distance Computation — a per-query [[SubSpaces]]×
  * [[CodeK]] lookup table built once on the driver, so scanning a
  * vector costs 8 table lookups instead of 64 multiplies.
  *
  * Scale shape: training touches only the deterministic [[CodeK]]-row
  * prefix (driver-side, like [[KMeansVec.fit]] init); encoding is one
  * map-only pass; the ADC scan is a map-only pass + bounded
  * TakeOrderedAndProject shortlist; exact rescoring touches
  * [[Shortlist]] rows. Nothing corpus-sized shuffles, and at 100 TB
  * the codes column (8 bytes/vector) is the only thing the scan
  * phase reads — the [[Quantize.writeSqIndex]] materialization story
  * applies verbatim.
  *
  * Determinism/oracle: codebooks initialize from the [[CodeK]] lowest
  * vec_ids' subvectors (the [[KMeansVec]] init convention, one
  * assignment pass); the assignment distance is the same fused
  * x·x − 2·x·float(c) + Σc² form with lowest-code tie-breaks; ADC
  * sums run in ascending subspace order; per-label means go through
  * the §8.5 r6+DECIMAL bridge. DuckDB replays codebooks, codes,
  * tables, and distances bit-for-bit.
  */
object Pq extends QueryModule {
  import Tables.t

  /** Number of subvectors (fixture dim 64 → 8 dims each). */
  val SubSpaces = 8

  /** Codebook size per subspace (codes fit a nibble ×2 = one byte). */
  val CodeK = 16

  /** ADC shortlist rescored exactly (the [[Quantize.SqShortlist]]
    * two-phase convention, deeper here: the fixture vectors are
    * near-uniform unit directions — the information-theoretic worst
    * case for PQ — and the measured ADC rank of the true top-5 peaks
    * at 88 across scales, so 100 keeps exact-top-5 recall with
    * margin; structured real-embedding corpora need far less). */
  val Shortlist = 100

  private def subDim(dim: Int): Int = dim / SubSpaces

  /** Full-vector L2 normalization in doubles (cosine-PQ: on unit
    * vectors, euclidean ADC ranking ≡ cosine ranking — the standard
    * way PQ serves a cosine index). Sequential fold, mirrored by the
    * oracle's ne CTE; zero-norm rows are EXCLUDED upstream. */
  private[graft] def normalize(x: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < x.length) { n += x(i) * x(i); i += 1 }
    val s = math.sqrt(n)
    val out = new Array[Double](x.length)
    i = 0
    while (i < x.length) { out(i) = x(i) / s; i += 1 }
    out
  }

  /** The normalized-corpus view every training/error path starts
    * from: one row per NONZERO vector, `nx` = unit doubles. The
    * rotation family ([[Opq]]) swaps in a different nx — everything
    * downstream (init, Lloyd update, encode, error) is identical. */
  private[graft] def nxView(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .select(col("vec_id"), col("label"), normUdf(col("embedding")).as("nx"))

  /** Codebooks as [subspace][code][subdim] doubles: the [[CodeK]]
    * lowest NONZERO vec_ids' normalized subvectors, the KMeansVec
    * init convention — deterministic, replayed verbatim by the
    * oracle's cb CTE. */
  private[graft] def codebooksNx(
      nxDf: DataFrame, m: Int = SubSpaces): Array[Array[Array[Double]]] = {
    val prefix = nxDf.orderBy(col("vec_id")).limit(CodeK)
      .select(col("nx")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(prefix.nonEmpty, "empty embeddings table")
    val dim = prefix(0).length
    val sd = dim / m
    Array.tabulate(m)(sp =>
      prefix.map(v => java.util.Arrays.copyOfRange(v, sp * sd, (sp + 1) * sd)))
  }

  /** Fused per-subspace squared distance ‖x−c‖²-style assignment
    * metric: x·x − 2·x·float(c) + Σc², sequential folds, the exact
    * KMeansVec arithmetic. */
  private def subD2(x: Array[Double], xoff: Int, cf: Array[Float], c: Array[Double]): Double = {
    var xx = 0.0
    var xc = 0.0
    var cc = 0.0
    var i = 0
    while (i < c.length) {
      val xv = x(xoff + i)
      xx += xv * xv
      xc += xv * cf(i).toDouble
      cc += c(i) * c(i)
      i += 1
    }
    xx - 2.0 * xc + cc
  }

  /** Normalized vector as a double array column (for the training
    * update's per-dimension sums). */
  private val normUdf = udf { (emb: Seq[Float]) =>
    val raw = new Array[Double](emb.length)
    var i = 0
    while (i < raw.length) { raw(i) = emb(i); i += 1 }
    normalize(raw)
  }

  /** The trained codebooks: training is an index-BUILD-time cost —
    * pq_error pays it cold (Bench clears the fit first), ann_pq_topk
    * consumes the shared fit, the deployed split. */
  private[graft] val Codebooks = Fits("pq.codebooks")((s, dir) => trainCodebooksNx(nxView(s, dir)))

  /** ONE distributed Lloyd update of the prefix-initialized
    * codebooks — real PQ training, the [[KMeansVec.fit]] update at
    * subspace granularity: assign every (nonzero) corpus subvector to
    * its init code, then per (subspace, code, dim) take the
    * r6+DECIMAL-bridged mean (deterministic, order-free, mirrored by
    * the oracle's u/cb CTEs). Codes with no members keep their init
    * centroid. Only SubSpaces·CodeK·subDim = 1,024 doubles reach the
    * driver. Takes the nx view so the rotated family trains through
    * the IDENTICAL update. */
  private[graft] def trainCodebooksNx(
      nxDf: DataFrame, m: Int = SubSpaces): Array[Array[Array[Double]]] = {
    val init = codebooksNx(nxDf, m)
    val enc = encodeNxUdf(init)
    val sd = init(0)(0).length
    val sums = nxDf
      .withColumn("codes", enc(col("nx")).getField("_1"))
      .select(posexplode(col("codes")).as(Seq("s", "code")), col("nx"))
      .select(col("s"), col("code"),
        expr(s"slice(nx, s * $sd + 1, $sd)").as("sub"))
      .select(col("s"), col("code"), posexplode(col("sub")).as(Seq("d", "v")))
      .groupBy(col("s"), col("code"), col("d"))
      .agg(OracleMath.dsum(r6(col("v"))).as("sum"), count(lit(1)).as("n"))
      .collect()
    val out = init.map(_.map(_.clone()))
    sums.foreach { r =>
      val sp = r.getInt(0); val code = r.getInt(1); val d = r.getInt(2)
      out(sp)(code)(d) = r.getDouble(3) / r.getLong(4)
    }
    out
  }

  /** codes + assignment error per vector: (codes[SubSpaces], err =
    * Σ_s d2 of the chosen code, ascending s). */
  private def encodeUdf(cb: Array[Array[Array[Double]]]) = {
    val cf = cb.map(_.map(_.map(_.toFloat)))
    udf { (emb: Seq[Float]) =>
      val raw = new Array[Double](emb.length)
      var i = 0
      while (i < raw.length) { raw(i) = emb(i); i += 1 }
      val x = normalize(raw)
      val sd = x.length / SubSpaces
      val codes = new Array[Int](SubSpaces)
      var err = 0.0
      var sp = 0
      while (sp < SubSpaces) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var k = 0
        // actual codebook size, not CodeK: a corpus with fewer than
        // CodeK nonzero rows yields a shorter prefix — scan what exists
        while (k < cb(sp).length) {
          val d2 = subD2(x, sp * sd, cf(sp)(k), cb(sp)(k))
          if (d2 < bestD) { bestD = d2; best = k } // strict < = lowest-code ties
          k += 1
        }
        codes(sp) = best
        err += bestD
        sp += 1
      }
      (codes, err)
    }
  }

  /** [[encodeUdf]] for an ALREADY-normalized double vector (the nx
    * view) — the same fused-d2 argmin loop minus the normalize. */
  private[graft] def encodeNxUdf(cb: Array[Array[Array[Double]]]) = {
    val cf = cb.map(_.map(_.map(_.toFloat)))
    val m = cb.length // subspace count follows the codebook shape
    udf { (nx: Seq[Double]) =>
      val x = nx.toArray
      val sd = x.length / m
      val codes = new Array[Int](m)
      var err = 0.0
      var sp = 0
      while (sp < m) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var k = 0
        while (k < cb(sp).length) {
          val d2 = subD2(x, sp * sd, cf(sp)(k), cb(sp)(k))
          if (d2 < bestD) { bestD = d2; best = k } // strict < = lowest-code ties
          k += 1
        }
        codes(sp) = best
        err += bestD
        sp += 1
      }
      (codes, err)
    }
  }

  /** Per-label reconstruction error over an arbitrary nx view with
    * the given codebooks — shared by [[pqError]] and [[Opq]]. */
  private[graft] def pqErrorNx(
      nxDf: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    val enc = encodeNxUdf(cb)
    nxDf
      .withColumn("enc", enc(col("nx")))
      .withColumn("err", r6(col("enc._2") / lit(SubSpaces * subDim(64))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        r6(OracleMath.davg(col("err"))).as("avg_err"))
      .orderBy(col("label"))
  }

  /** Per-label PQ reconstruction-error profile — the report that
    * decides whether 8-byte codes are safe for a corpus before the
    * compressed index is built (the [[Quantize.sqError]] twin). */
  def pqError(s: SparkSession, dir: String): DataFrame =
    pqErrorNx(nxView(s, dir), Codebooks(s, dir))

  /** ADC top-k: build the query's [[SubSpaces]]×[[CodeK]] distance
    * table on the driver, scan the corpus codes summing 8 lookups
    * per vector (ascending subspace — the oracle's ordered list_sum),
    * shortlist [[Shortlist]] by (approx, vec_id), exact-rescore with
    * the shared cosine kernel. */
  def annPqTopk(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qOpt = OpsShared.queryVec(s, dir)
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val cb = Codebooks(s, dir)
    // query ADC table: qtab(sp)(code) = fused d2 of the query's
    // NORMALIZED subvector against that centroid
    val qd = normalize(qVec.map(_.toDouble))
    val sd = qd.length / SubSpaces
    val qtab = Array.tabulate(SubSpaces)(sp => Array.tabulate(cb(sp).length)(k0 =>
      subD2(qd, sp * sd, cb(sp)(k0).map(_.toFloat), cb(sp)(k0))))
    val enc = encodeUdf(cb)
    val approxUdf = udf { (codes: Seq[Int]) =>
      var a = 0.0
      var sp = 0
      while (sp < SubSpaces) { a += qtab(sp)(codes(sp)); sp += 1 }
      a
    }
    val shortlist = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("codes", enc(col("embedding")).getField("_1"))
      .withColumn("approx", approxUdf(col("codes")))
      .select(col("vec_id"), col("label"), col("embedding"), col("approx"))
      .orderBy(col("approx"), col("vec_id"))
      .limit(Shortlist)
    shortlist
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(qVec))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  // --------------------------------------------------------- oracles

  private def sd = 8 // fixture: 64 / SubSpaces

  /** Codebook + per-vector code CTEs shared by both oracles:
    * cb = (s, code, emb[8] doubles) from the CodeK-row vec_id prefix;
    * codes = per (vec, s) the argmin-d2 code with the fused distance
    * and lowest-code ties. */
  /** Shared oracle CTE chain replaying the full train+encode path:
    * ne = nonzero rows normalized; cb0 = prefix-init codebooks;
    * codes0 = init assignment (argmin fused d2, lowest-code ties);
    * u/cb = the ONE bridged Lloyd update (codes with no members keep
    * init); codes = final assignment against the trained codebooks.
    * Training always sees ALL nonzero rows (query row included), the
    * engine's convention; per-query row filters apply downstream. */
  /** The standard ne body: normalized nonzero corpus rows. */
  private[graft] val neStandardSql: String =
    s"""  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)
       |      / sqrt(list_sum(list_transform(embedding,
       |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nx
       |  FROM embeddings
       |  WHERE list_sum(list_transform(embedding,
       |          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0""".stripMargin

  /** The chain from an arbitrary ne body — [[Opq]] swaps in a rotated
    * nx and replays the IDENTICAL train+encode downstream. */
  private[graft] def pqCtesFrom(neSql: String, m: Int = SubSpaces,
      sdm: Int = subDim(64)): String =
    s"""ne AS (
       |$neSql),
       |cb0 AS (
       |  SELECT sp.s AS s,
       |    CAST(row_number() OVER (PARTITION BY sp.s ORDER BY p.vec_id) - 1 AS INT) AS code,
       |    list_transform(range(1, $sdm + 1), i -> p.nx[sp.s * $sdm + i]) AS emb
       |  FROM (SELECT * FROM ne ORDER BY vec_id LIMIT $CodeK) p,
       |    UNNEST(range(0, $m)) AS sp(s)),
       |sub AS (
       |  SELECT e.vec_id, e.label, sp.s AS s,
       |    list_transform(range(1, $sdm + 1), i -> e.nx[sp.s * $sdm + i]) AS x
       |  FROM ne e, UNNEST(range(0, $m)) AS sp(s)),
       |d20 AS (
       |  SELECT sub.vec_id, sub.label, sub.s, sub.x, cb0.code,
       |    list_sum(list_transform(sub.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, $sdm + 1),
       |        i -> sub.x[i] * CAST(CAST(cb0.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(cb0.emb, v -> v * v)) AS d2
       |  FROM sub JOIN cb0 ON cb0.s = sub.s),
       |codes0 AS (
       |  SELECT vec_id, label, s, x, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM d20)
       |  WHERE rn = 1),
       |u AS (
       |  SELECT c.s, c.code, t.d,
       |    CAST(SUM(CAST(round(c.x[t.d], 6) + 0 AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*) AS cd
       |  FROM codes0 c, UNNEST(range(1, $sdm + 1)) AS t(d)
       |  GROUP BY c.s, c.code, t.d),
       |cb AS (
       |  SELECT c0.s, c0.code, coalesce(n.emb, c0.emb) AS emb
       |  FROM cb0 c0
       |  LEFT JOIN (SELECT s, code, list(cd ORDER BY d) AS emb FROM u GROUP BY s, code) n
       |  USING (s, code)),
       |d2 AS (
       |  SELECT sub.vec_id, sub.label, sub.s, cb.code,
       |    list_sum(list_transform(sub.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, $sdm + 1),
       |        i -> sub.x[i] * CAST(CAST(cb.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(cb.emb, v -> v * v)) AS d2
       |  FROM sub JOIN cb ON cb.s = sub.s),
       |codes AS (
       |  SELECT vec_id, label, s, code, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM d2)
       |  WHERE rn = 1)""".stripMargin

  private def pqCtes: String = pqCtesFrom(neStandardSql)

  /** The per-label error tail shared with the [[Opq]] oracle. */
  private[graft] val pqErrorTailSql: String =
    s"""per_vec AS (
       |  SELECT vec_id, label,
       |    round(list_sum(list(d2 ORDER BY s)) / 64, 6) + 0 AS err
       |  FROM codes GROUP BY vec_id, label)
       |SELECT label, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(err AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_err
       |FROM per_vec
       |GROUP BY label
       |ORDER BY label""".stripMargin

  /** Oracle mirror of [[pqError]]. */
  val pqErrorSql: String =
    s"""WITH $pqCtes,
       |$pqErrorTailSql""".stripMargin

  /** Oracle mirror of [[annPqTopk]]: the query is NORMALIZED exactly
    * like the engine's (qn CTE — the engine builds qtab from
    * normalize(qVec), so an un-unit query row must not rank
    * differently), approx = ordered per-subspace sum of the chosen
    * codes' query-table entries, shortlist → exact cosine rescore. */
  val annPqTopkSql: String =
    s"""WITH $pqCtes,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${VectorQueries.QueryVecId}),
       |qn AS (SELECT list_transform(qe, x -> CAST(x AS DOUBLE)
       |    / sqrt(list_sum(list_transform(qe, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nx FROM q),
       |qsub AS (
       |  SELECT sp.s AS s,
       |    list_transform(range(1, $sd + 1), i -> qn.nx[sp.s * $sd + i]) AS x
       |  FROM qn, UNNEST(range(0, $SubSpaces)) AS sp(s)),
       |qtab AS (
       |  SELECT qsub.s, cb.code,
       |    list_sum(list_transform(qsub.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, $sd + 1),
       |        i -> qsub.x[i] * CAST(CAST(cb.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(cb.emb, v -> v * v)) AS d2
       |  FROM qsub JOIN cb ON cb.s = qsub.s),
       |approx AS (
       |  SELECT c.vec_id, c.label,
       |    list_sum(list(qt.d2 ORDER BY c.s)) AS approx
       |  FROM codes c JOIN qtab qt ON qt.s = c.s AND qt.code = c.code
       |  WHERE c.vec_id <> ${VectorQueries.QueryVecId}
       |  GROUP BY c.vec_id, c.label),
       |short AS (
       |  SELECT vec_id, label FROM approx
       |  ORDER BY approx, vec_id LIMIT $Shortlist),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e JOIN short sh ON sh.vec_id = e.vec_id, q)
       |SELECT vec_id, label, dist FROM scored
       |WHERE NOT isnan(dist) AND dist IS NOT NULL
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  // ------------------------------------------- materialized PQ index

  /** Materialize the PQ index: 8 byte codes per vector beside
    * vec_id/label (ARRAY<TINYINT> — 8 bytes vs 256 for the float
    * column), plus the trained codebooks as a tiny sidecar table.
    * At 100 TB the ADC phase scans ONLY this table; floats surface
    * for the [[Shortlist]]-row rescore — the [[Quantize.writeSqIndex]]
    * split, at 32× instead of 4× compression. */
  /** `trainDir` decouples WHERE codebooks are trained from WHAT is
    * encoded — the production shape at scale: train on a stable
    * representative sample, encode the whole corpus (and later
    * appends) with those frozen books. Defaults to `dir`. */
  def writePqIndex(
      s: SparkSession, dir: String, outDir: String,
      trainDir: Option[String] = None): Unit = {
    import s.implicits._
    val cb = Codebooks(s, trainDir.getOrElse(dir))
    val enc = encodeUdf(cb)
    t(s, dir, "embeddings")
      // the query sentinel row is not corpus: persisting it would make
      // an indexed search over its own corpus return the query itself
      // as the top hit (the writeGraphIndex convention)
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("c", enc(col("embedding")).getField("_1"))
      .select(col("vec_id"), col("label"),
        expr("transform(c, x -> CAST(x AS TINYINT))").as("codes"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/codes")
    cb.zipWithIndex.flatMap { case (book, sp) =>
      book.zipWithIndex.map { case (c, code) => (sp, code, c.toSeq) }
    }.toSeq.toDF("s", "code", "emb")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/codebooks")
  }

  /** Append a batch of new vectors into an EXISTING materialized PQ
    * index: encode with the FROZEN codebooks from the sidecar (no
    * retraining — the FAISS `add` contract) and append the TINYINT
    * code rows. Map-only: reads the tiny sidecar, never the existing
    * codes. Codebook drift under a shifting distribution is handled
    * by periodic retrain+rewrite ([[writePqIndex]]), the same
    * generation swap as [[GraphAnn.compactGraphIndex]].
    *
    * `dedupeExisting = false` (default): caller contract is that
    * batch vec_ids are new — an at-least-once replay duplicates rows.
    * `dedupeExisting = true`: anti-join the batch against the
    * existing index's vec_id column first, making the append
    * idempotent at the row level (a replayed or partially-applied
    * batch converges instead of duplicating). Cost: one slim
    * vec_id-column scan of the codes table — the price of replay
    * safety on a flat layout; the IVF variants prune that scan to the
    * batch's own cells. */
  def appendPqIndex(
      s: SparkSession, indexDir: String, batch: DataFrame,
      dedupeExisting: Boolean = false): Unit = {
    val cb = readCodebooks(s, indexDir)
    val enc = encodeUdf(cb)
    val rows = batch
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("c", enc(col("embedding").cast("array<float>")).getField("_1"))
      .select(col("vec_id"), col("label").cast("int").as("label"),
        expr("transform(c, x -> CAST(x AS TINYINT))").as("codes"))
    val out =
      if (dedupeExisting)
        rows.join(s.read.parquet(s"$indexDir/codes").select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      else rows
    out.write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$indexDir/codes")
  }

  /** Flat-table file count before [[maintainPqIndex]] compacts —
    * the whole codes table is scanned by every ADC phase, so the tax
    * of accumulated append files is per-query. */
  val DefaultMaxIndexFiles = 64

  /** Fold an appended-to PQ index's accumulated small files into a
    * fresh generation at `outDir`: the codes table rewrites through
    * [[Maintenance.compactParquet]] (size-derived file count); the
    * codebook sidecar is copied BYTE-VERBATIM (frozen quantizer —
    * compaction is file maintenance, never a retrain). Generation
    * swap by pointer, never in place. */
  def compactPqIndex(s: SparkSession, indexDir: String, outDir: String): Unit = {
    Maintenance.compactParquet(s, s"$indexDir/codes", s"$outDir/codes")
    Maintenance.copySidecar(s, s"$indexDir/codebooks", s"$outDir/codebooks")
  }

  /** The PQ merge policy ([[graft.ops.GraphAnn.maintainGraphIndex]]
    * analog): one metadata-cheap file count of the flat codes table;
    * past `maxFiles` the index rewrites into `outDir` via
    * [[compactPqIndex]]. Returns true when a compaction ran. */
  def maintainPqIndex(
      s: SparkSession, indexDir: String, outDir: String,
      maxFiles: Int = DefaultMaxIndexFiles): Boolean = {
    val files = Maintenance.parquetFileCount(s, s"$indexDir/codes")
    if (files == 0) {
      // a zero-row committed write is a VALID empty index → no-op;
      // anything else (missing dir, relocated layout) fails loudly
      require(Maintenance.isCommittedEmptyDir(s, s"$indexDir/codes"),
        s"PQ index $indexDir/codes lists no parquet data files and no " +
          "_SUCCESS marker — layout changed? refusing to silently skip compaction")
      return false
    }
    if (files > maxFiles) {
      compactPqIndex(s, indexDir, outDir)
      true
    } else false
  }

  /** Codebooks back from the sidecar (SubSpaces·CodeK tiny rows). */
  private def readCodebooks(s: SparkSession, indexDir: String): Array[Array[Array[Double]]] = {
    val rows = s.read.parquet(s"$indexDir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    Array.tabulate(SubSpaces) { sp =>
      rows.filter(_._1 == sp).sortBy(_._2).map(_._3)
    }
  }

  /** The indexed search's ADC phase, exposed so PqSpec asserts the
    * ACTUAL plan never touches a float embedding column. */
  private[graft] def pqPhase1(
      s: SparkSession,
      indexDir: String,
      qtab: Array[Array[Double]],
      excludeId: Option[Long],
      probes: Option[Seq[Int]] = None): DataFrame = {
    val approxUdf = udf { (codes: Seq[Byte]) =>
      var a = 0.0
      var sp = 0
      while (sp < SubSpaces) { a += qtab(sp)(codes(sp).toInt); sp += 1 }
      a
    }
    val base = probes.foldLeft(s.read.parquet(s"$indexDir/codes")) {
      // IVF-PQ layout: the cell filter resolves as PartitionFilters at
      // listing time — unprobed cells cost zero I/O
      (df, p) => df.filter(col("cluster").isin(p: _*))
    }
    val codesDf = excludeId.foldLeft(base) {
      (df, id) => df.filter(col("vec_id") =!= id)
    }
    codesDf
      .withColumn("approx", approxUdf(col("codes")))
      .select(col("vec_id"), col("approx"))
      .orderBy(col("approx"), col("vec_id"))
      .limit(Shortlist)
  }

  /** Search a materialized PQ index: the ADC phase reads only the
    * 8-byte codes (and the tiny codebook sidecar); the float table is
    * touched for the shortlist rescore alone. Same answer as the
    * inline [[annPqTopk]] for the same query vector. */
  def pqSearchIndexed(
      s: SparkSession,
      indexDir: String,
      floatsDir: String,
      q: Array[Float],
      k: Int = 5,
      excludeId: Option[Long] = None): DataFrame = {
    val cb = readCodebooks(s, indexDir)
    val qd = normalize(q.map(_.toDouble))
    val sd = qd.length / SubSpaces
    val qtab = Array.tabulate(SubSpaces)(sp => Array.tabulate(cb(sp).length)(k0 =>
      subD2(qd, sp * sd, cb(sp)(k0).map(_.toFloat), cb(sp)(k0))))
    val shortIds = pqPhase1(s, indexDir, qtab, excludeId)
      .collect().map(_.getLong(0))
    t(s, floatsDir, "embeddings")
      .filter(col("vec_id").isInCollection(shortIds))
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(q))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  // -------------------------------------------------- IVF-PQ compose

  /** Probe cells ranked by the driver's double cosine against the
    * query (ties by cluster id — the stable-sort [[KMeansVec]]
    * convention, mirrored in the probes CTE). */
  private def probeIds(centroids: Array[Array[Double]], q: Array[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) => (OpsShared.cosineDistTo(q, c), i) }
      .sortBy(_._1).take(nProbe).map(_._2).toSeq

  /** IVF-PQ — the canonical billion-scale ANN layout (coarse
    * quantizer prunes WHICH cells are read, product codes decide HOW
    * CHEAPLY the survivors are scanned): one-pass Lloyd IVF
    * assignment ([[KMeansVec.fit]]), driver-side probe ranking, then
    * the ADC table scan of ONLY the probed cells' codes, bounded
    * shortlist, exact rescore. At 100 TB the corpus is written
    * partitioned by cell with the 8-byte codes column alongside — a
    * probe reads nProbe/k of the files and only the codes column;
    * the float vectors surface for the [[Shortlist]]-row rescore. */
  def annIvfPqTopk(s: SparkSession, dir: String, k: Int = 5, nProbe: Int = 3): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val qOpt = OpsShared.queryVec(s, dir)
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val (centroids, assigned) = KMeansVec.fit(s, dir, KMeansVec.K, iters = 1)
    val probes = probeIds(centroids, qVec, nProbe)
    val cb = Codebooks(s, dir)
    val qd = normalize(qVec.map(_.toDouble))
    val sd = qd.length / SubSpaces
    val qtab = Array.tabulate(SubSpaces)(sp => Array.tabulate(cb(sp).length)(k0 =>
      subD2(qd, sp * sd, cb(sp)(k0).map(_.toFloat), cb(sp)(k0))))
    val enc = encodeUdf(cb)
    val approxUdf = udf { (codes: Seq[Int]) =>
      var a = 0.0
      var sp = 0
      while (sp < SubSpaces) { a += qtab(sp)(codes(sp)); sp += 1 }
      a
    }
    val shortlist = assigned
      .filter(col("cluster").isin(probes: _*))
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("codes", enc(col("embedding")).getField("_1"))
      .withColumn("approx", approxUdf(col("codes")))
      .select(col("vec_id"), col("label"), col("embedding"), col("approx"))
      .orderBy(col("approx"), col("vec_id"))
      .limit(Shortlist)
    shortlist
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(qVec))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Oracle mirror of [[annIvfPqTopk]]: the KMeansVec init+assign
    * CTEs provide cells and probes; the PQ chain provides codes and
    * the query table; the approx CTE joins all three. */
  val annIvfPqTopkSql: String =
    s"""WITH ${KMeansVec.initCte},
       |${KMeansVec.assignCte(1)},
       |$pqCtes,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${VectorQueries.QueryVecId}),
       |probes AS (
       |  SELECT c.cluster FROM c0 c, q
       |  ORDER BY 1.0 - list_sum(list_transform(range(1, len(q.qe) + 1),
       |        i -> c.emb[i] * CAST(q.qe[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(c.emb, v -> v * v)))
       |         * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
       |    c.cluster
       |  LIMIT 3),
       |qn AS (SELECT list_transform(qe, x -> CAST(x AS DOUBLE)
       |    / sqrt(list_sum(list_transform(qe, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nx FROM q),
       |qsub AS (
       |  SELECT sp.s AS s,
       |    list_transform(range(1, $sd + 1), i -> qn.nx[sp.s * $sd + i]) AS x
       |  FROM qn, UNNEST(range(0, $SubSpaces)) AS sp(s)),
       |qtab AS (
       |  SELECT qsub.s, cb.code,
       |    list_sum(list_transform(qsub.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, $sd + 1),
       |        i -> qsub.x[i] * CAST(CAST(cb.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(cb.emb, v -> v * v)) AS d2
       |  FROM qsub JOIN cb ON cb.s = qsub.s),
       |approx AS (
       |  SELECT c.vec_id, c.label,
       |    list_sum(list(qt.d2 ORDER BY c.s)) AS approx
       |  FROM codes c
       |  JOIN qtab qt ON qt.s = c.s AND qt.code = c.code
       |  JOIN a1 ON a1.vec_id = c.vec_id
       |  WHERE a1.cluster IN (SELECT cluster FROM probes)
       |    AND c.vec_id <> ${VectorQueries.QueryVecId}
       |  GROUP BY c.vec_id, c.label),
       |short AS (
       |  SELECT vec_id, label FROM approx
       |  ORDER BY approx, vec_id LIMIT $Shortlist),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e JOIN short sh ON sh.vec_id = e.vec_id, q)
       |SELECT vec_id, label, dist FROM scored
       |WHERE NOT isnan(dist) AND dist IS NOT NULL
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  // ------------------------------------------- materialized IVF-PQ

  /** Materialized IVF-PQ index — the FAISS on-disk layout in parquet:
    * TINYINT code rows written PARTITIONED BY CELL with both sidecars
    * (coarse centroids + product codebooks) beside them. A probe
    * query then composes BOTH skips at the scan: `cluster IN (...)`
    * resolves as PartitionFilters (unprobed cells cost zero I/O) and
    * the ADC phase reads only the 8-byte codes column; floats surface
    * for the [[Shortlist]]-row rescore alone. `trainDir` freezes both
    * quantizers on a sample (the [[writePqIndex]] /
    * [[KMeansVec.writeIvfIndex]] convention). */
  def writeIvfPqIndex(
      s: SparkSession, dir: String, outDir: String,
      trainDir: Option[String] = None): Unit = {
    import s.implicits._
    val td = trainDir.getOrElse(dir)
    val centroids = KMeansVec.fit(s, td, KMeansVec.K, iters = 1)._1
    val cb = Codebooks(s, td)
    val enc = encodeUdf(cb)
    Tables.t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("cluster", KMeansVec.assignUdf(centroids)(col("embedding")).cast("int"))
      .withColumn("c", enc(col("embedding")).getField("_1"))
      .select(col("vec_id"), col("label"),
        expr("transform(c, x -> CAST(x AS TINYINT))").as("codes"), col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$outDir/codes")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .json(s"$outDir/centroids")
    cb.zipWithIndex.flatMap { case (book, sp) =>
      book.zipWithIndex.map { case (c, code) => (sp, code, c.toSeq) }
    }.toSeq.toDF("s", "code", "emb")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/codebooks")
  }

  /** Append a batch into an EXISTING materialized IVF-PQ index: both
    * quantizers FROZEN from the sidecars (assign + encode, map-only),
    * rows land inside their `cluster=N/` partition dirs. Drift →
    * periodic retrain+rewrite to a fresh generation.
    * `dedupeExisting` = the [[appendPqIndex]] idempotency option,
    * with the existing-row scan PRUNED to the batch's own cells
    * (`cluster IN (...)` resolves at listing time). */
  def appendIvfPqIndex(
      s: SparkSession, indexDir: String, batch: DataFrame,
      dedupeExisting: Boolean = false): Unit = {
    val centroids = KMeansVec.readCentroids(s, indexDir)
    val cb = readCodebooks(s, indexDir)
    val enc = encodeUdf(cb)
    val rows = batch
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
      .withColumn("cluster",
        KMeansVec.assignUdf(centroids)(col("embedding").cast("array<float>")).cast("int"))
      .withColumn("c", enc(col("embedding").cast("array<float>")).getField("_1"))
      .select(col("vec_id"), col("label").cast("int").as("label"),
        expr("transform(c, x -> CAST(x AS TINYINT))").as("codes"), col("cluster"))
    val out =
      if (dedupeExisting) {
        val cells = rows.select(col("cluster")).distinct()
          .collect().map(_.getInt(0)).toSeq // bounded by K
        rows.join(
          s.read.parquet(s"$indexDir/codes")
            .filter(col("cluster").isin(cells: _*)).select(col("vec_id")),
          Seq("vec_id"), "left_anti")
      } else rows
    out.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cluster").parquet(s"$indexDir/codes")
  }

  /** Fold an appended-to IVF-PQ index into a fresh generation: code
    * rows re-bucket to one file per cell (the [[KMeansVec
    * .compactIvfIndex]] shape), BOTH frozen sidecars copy
    * byte-verbatim. */
  def compactIvfPqIndex(s: SparkSession, indexDir: String, outDir: String): Unit = {
    s.read.parquet(s"$indexDir/codes")
      .repartition(col("cluster"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$outDir/codes")
    Maintenance.copySidecar(s, s"$indexDir/centroids", s"$outDir/centroids")
    Maintenance.copySidecar(s, s"$indexDir/codebooks", s"$outDir/codebooks")
  }

  /** The IVF-PQ merge policy: per-cell file average past
    * `maxFilesPerCell` triggers [[compactIvfPqIndex]] (the
    * [[KMeansVec.maintainIvfIndex]] twin on the codes layout). */
  def maintainIvfPqIndex(
      s: SparkSession, indexDir: String, outDir: String,
      maxFilesPerCell: Int = KMeansVec.DefaultMaxFilesPerCell): Boolean = {
    val (files, cells) =
      Maintenance.partitionedFileStats(s, s"$indexDir/codes", "cluster")
    if (cells == 0) {
      // a zero-row partitioned write commits _SUCCESS but no cluster=
      // dirs — a VALID empty index → no-op; otherwise fail loudly
      require(Maintenance.isCommittedEmptyDir(s, s"$indexDir/codes"),
        s"IVF-PQ index $indexDir/codes lists no cluster= cells and no " +
          "_SUCCESS marker — layout changed? refusing to silently skip compaction")
      return false
    }
    if (files > maxFilesPerCell.toLong * cells) {
      compactIvfPqIndex(s, indexDir, outDir)
      true
    } else false
  }

  /** Search a materialized IVF-PQ index: driver ranks the persisted
    * centroids (k rows), the ADC phase scans ONLY the probed cells'
    * codes (partition pruning × codes-only projection — plan-asserted
    * in PqSpec), floats join in for the bounded rescore. Same answer
    * as the inline [[annIvfPqTopk]] for the same query vector. */
  def ivfPqSearchIndexed(
      s: SparkSession,
      indexDir: String,
      floatsDir: String,
      q: Array[Float],
      k: Int = 5,
      nProbe: Int = 3,
      excludeId: Option[Long] = None): DataFrame = {
    val centroids = KMeansVec.readCentroids(s, indexDir)
    val probes = probeIds(centroids, q, nProbe)
    val cb = readCodebooks(s, indexDir)
    val qd = normalize(q.map(_.toDouble))
    val sd = qd.length / SubSpaces
    val qtab = Array.tabulate(SubSpaces)(sp => Array.tabulate(cb(sp).length)(k0 =>
      subD2(qd, sp * sd, cb(sp)(k0).map(_.toFloat), cb(sp)(k0))))
    val shortIds = pqPhase1(s, indexDir, qtab, excludeId, probes = Some(probes))
      .collect().map(_.getLong(0))
    Tables.t(s, floatsDir, "embeddings")
      .filter(col("vec_id").isInCollection(shortIds))
      .withColumn("dist", r6(cosineDist(col("embedding"), typedLit(q))))
      .filter(!isnan(col("dist")) && col("dist").isNotNull)
      .select(col("vec_id"), col("label"), col("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(k)
  }

  /** Subquantizer counts the rate–distortion sweep evaluates
    * (fixture dim 64 → sub-dims 16/8/4; code sizes 2/4/8 bytes). */
  val PqMGrid: Seq[Int] = Seq(4, 8, 16)

  /** The PQ rate–distortion operating curve — how M (and so
    * bytes-per-vector) is actually chosen before a compressed index
    * is built: corpus-mean reconstruction error at each M in
    * [[PqMGrid]], beside the storage cost. More subspaces = shorter
    * sub-vectors quantized independently = strictly more codebook
    * capacity for more bytes — the knee of this table is the
    * compression setting. Completes the tuning-table trio with
    * `ivf_probe_sweep` and `lsh_band_sweep`.
    *
    * Each point is the full proven train+encode path
    * ([[trainCodebooksNx]] parameterized by M — prefix init, one
    * bridged Lloyd update, fused-d2 assignment); per-point cost is
    * the pq_error plan, nothing more. */
  def pqMSweep(s: SparkSession, dir: String): DataFrame = {
    val nx = nxView(s, dir)
    val rows = PqMGrid.map { m =>
      val cb = trainCodebooksNx(nx, m)
      val enc = encodeNxUdf(cb)
      nx.withColumn("err", r6(enc(col("nx")).getField("_2") / lit(64)))
        .agg(count(lit(1)).as("n"),
          r6(OracleMath.davg(col("err"))).as("avg_err"))
        .select(lit(m.toLong).as("m"), lit((64 / m).toLong).as("sub_dim"),
          lit((m / 2).toLong).as("code_bytes"), col("n"), col("avg_err"))
    }
    rows.reduce(_ unionByName _).orderBy(col("m"))
  }

  /** Oracle: each M replays the parametric CTE chain
    * ([[pqCtesFrom]] with that M) as an independent nested subquery
    * (no CTE-name collisions), with the ordered-fold per-vector
    * error tail. */
  val pqMSweepSql: String = {
    val points = PqMGrid.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS m, CAST(${64 / m} AS BIGINT) AS sub_dim,
         |  CAST(${m / 2} AS BIGINT) AS code_bytes, n, avg_err
         |FROM (
         |  WITH ${pqCtesFrom(neStandardSql, m, 64 / m)},
         |  e AS (
         |    SELECT vec_id, round(list_sum(list(d2 ORDER BY s)) / 64, 6) + 0 AS err
         |    FROM codes GROUP BY vec_id)
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    round(CAST(SUM(CAST(err AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_err
         |  FROM e)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$points
       |)
       |ORDER BY m""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pq_m_sweep" -> (pqMSweep _),
    "pq_error" -> (pqError _),
    "ann_pq_topk" -> ((s, d) => annPqTopk(s, d)),
    "ann_ivfpq_topk" -> ((s, d) => annIvfPqTopk(s, d)))

  val oracles: Map[String, String] = Map(
    "pq_m_sweep" -> pqMSweepSql,
    "pq_error" -> pqErrorSql,
    "ann_pq_topk" -> annPqTopkSql,
    "ann_ivfpq_topk" -> annIvfPqTopkSql)
}
