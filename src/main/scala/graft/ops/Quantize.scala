package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Int8 scalar quantization (SQ) for the embedding corpus — the
  * storage/bandwidth lever a 100 TB vector index pulls first: 4×
  * smaller vectors (float32 → int8), integer dot products in the
  * scan, exact rescoring only for the shortlist. The reference's
  * vector store compresses its HNSW payloads the same way
  * (index.py:434's backing store); here SQ is a first-class
  * dataflow: quantize → profile the error → search quantized with
  * exact verify.
  *
  * Determinism/oracle story: the symmetric per-vector scheme is pure
  * element-wise IEEE arithmetic — scale = 127 / max|x|,
  * code = floor(x·scale + 0.5) — and the codes are exact small
  * integers, so every downstream sum (integer dot, integer norm) is
  * exact and order-free; DuckDB replays the whole pipeline
  * bit-identically (same double mult, same floor, same integer
  * sums). Only the final per-group float means go through the usual
  * r6 + DECIMAL(38,6) bridge.
  *
  * All expressions are builtin higher-order functions — no UDF, the
  * whole plan stays in whole-stage codegen.
  */
object Quantize extends QueryModule {
  import Tables.t

  /** Quantized view: per-vector scale + int8 codes (as INT array —
    * parquet stores them as bytes after the cast in a real sink;
    * range is [-127, 127] by construction). Zero vectors (maxabs 0)
    * are dropped, matching kNN's zero-vector exclusion. */
  private[graft] def withQuant(e: DataFrame): DataFrame = e
    .withColumn("maxabs",
      expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
    .filter(col("maxabs") > 0)
    .withColumn("scale", lit(127.0) / col("maxabs"))
    .withColumn("qcodes",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5d) AS INT))"))

  /** Per-label quantization error profile: mean per-vector MSE and
    * the worst absolute reconstruction error — the quality report
    * that decides whether int8 is safe for a corpus before the 4×
    * cheaper index is built. */
  def sqError(s: SparkSession, dir: String): DataFrame = {
    val e = withQuant(t(s, dir, "embeddings"))
      .withColumn("mse", r6(
        expr("""aggregate(zip_with(embedding, qcodes,
               |  (x, c) -> (CAST(x AS DOUBLE) - c / scale) * (CAST(x AS DOUBLE) - c / scale)),
               |  0d, (acc, v) -> acc + v)""".stripMargin)
          / size(col("embedding"))))
      .withColumn("max_err",
        expr("""array_max(zip_with(embedding, qcodes,
               |  (x, c) -> abs(CAST(x AS DOUBLE) - c / scale)))""".stripMargin))
    e.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        r6(OracleMath.davg(col("mse"))).as("avg_mse"),
        r6(max(col("max_err"))).as("max_abs_err"))
      .orderBy(col("label"))
  }

  val sqErrorSql: String =
    """WITH qz AS (
      |  SELECT label, embedding,
      |    127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INT)) AS qcodes
      |  FROM embeddings
      |  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
      |per_vec AS (
      |  SELECT label,
      |    round(list_sum(list_transform(range(1, len(embedding) + 1),
      |        i -> (CAST(embedding[i] AS DOUBLE) - qcodes[i] / scale)
      |           * (CAST(embedding[i] AS DOUBLE) - qcodes[i] / scale)))
      |      / len(embedding), 6) + 0 AS mse,
      |    list_max(list_transform(range(1, len(embedding) + 1),
      |        i -> abs(CAST(embedding[i] AS DOUBLE) - qcodes[i] / scale))) AS max_err
      |  FROM qz)
      |SELECT label, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(mse AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_mse,
      |  round(MAX(max_err), 6) + 0 AS max_abs_err
      |FROM per_vec
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Shortlist size for the quantized scan phase (ADC-style
    * two-phase search: int8 dot shortlist → exact float rescore). */
  val SqShortlist = 20

  /** Driver-side quantization of one vector — the same arithmetic
    * the plan/oracle apply per row: (int8 codes, integer norm). */
  private def quantOne(v: Array[Float]): (Array[Int], Long) = {
    var maxabs = 0.0
    v.foreach(x => maxabs = math.max(maxabs, math.abs(x.toDouble)))
    require(maxabs > 0, "zero query vector")
    val scale = 127.0 / maxabs
    val codes = v.map(x => math.floor(x.toDouble * scale + 0.5).toInt)
    var n = 0L
    codes.foreach(c => n += c.toLong * c)
    (codes, n)
  }

  /** Top-k via quantized scan + exact rescore: phase 1 ranks the
    * corpus by INT8 cosine (integer dot and norms — exact, 4× less
    * data moved; at scale this is the only phase that touches every
    * row), keeps [[SqShortlist]] candidates, phase 2 rescores exactly
    * those with full-precision cosine. Phase 1 is ONE primitive-loop
    * UDF with the query pre-quantized on the driver — array
    * higher-order functions are CodegenFallback (interpreted, boxed)
    * and measured ~5× slower for the same arithmetic. Both phases
    * TakeOrderedAndProject. */
  def sqTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = t(s, dir, "embeddings")
    // a missing or all-zero query row yields an EMPTY result, not an
    // exception — the oracle's qz CTE filters zero-max vectors, so
    // its q side is empty and the query returns no rows
    val qOpt = e.filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val (qq, nb) = quantOne(qVec)
    val sqrtNb = math.sqrt(nb.toDouble)
    val distQUdf = udf { (emb: Seq[Float]) =>
      val a = new Array[Double](emb.length)
      var i = 0
      while (i < a.length) { a(i) = emb(i); i += 1 }
      var maxabs = 0.0
      i = 0
      while (i < a.length) { val ab = math.abs(a(i)); if (ab > maxabs) maxabs = ab; i += 1 }
      if (maxabs == 0.0) Option.empty[Double] // zero vector: excluded like withQuant's filter
      else {
        val scale = 127.0 / maxabs
        var dq = 0L
        var na = 0L
        i = 0
        while (i < a.length) {
          val c = math.floor(a(i) * scale + 0.5).toInt
          dq += c.toLong * qq(i)
          na += c.toLong * c
          i += 1
        }
        Some(1.0 - dq.toDouble / (math.sqrt(na.toDouble) * sqrtNb))
      }
    }
    val shortlist = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .withColumn("dist_q", distQUdf(col("embedding")))
      .filter(col("dist_q").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"), col("dist_q"))
      .orderBy(col("dist_q"), col("vec_id"))
      .limit(SqShortlist)
    OpsShared.rescoreTopK(shortlist, qVec, k)
  }

  /** Oracle mirror of [[sqTopK]]: same codes, same integer sums,
    * same shortlist cut (row_number over (dist_q, vec_id)), same
    * exact rescore. */
  val sqTopKSql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INT)) AS qcodes
       |  FROM embeddings
       |  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
       |q AS (SELECT embedding AS qe, qcodes AS qq FROM qz
       |      WHERE vec_id = ${VectorQueries.QueryVecId}),
       |scored AS (
       |  SELECT z.vec_id, z.label, z.embedding, q.qe,
       |    1.0 - CAST(list_sum(list_transform(range(1, len(z.qcodes) + 1),
       |              i -> CAST(z.qcodes[i] AS BIGINT) * q.qq[i])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(z.qcodes, a -> CAST(a AS BIGINT) * a)) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(q.qq, b -> CAST(b AS BIGINT) * b)) AS DOUBLE))) AS dist_q
       |  FROM qz z, q
       |  WHERE z.vec_id <> ${VectorQueries.QueryVecId}),
       |shortlist AS (
       |  SELECT vec_id, label, embedding, qe FROM (
       |    SELECT *, row_number() OVER (ORDER BY dist_q, vec_id) AS rn FROM scored)
       |  WHERE rn <= $SqShortlist),
       |rescored AS (
       |  SELECT vec_id, label,
       |    round(1.0 - list_sum(list_transform(range(1, len(embedding) + 1),
       |              i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM shortlist)
       |SELECT vec_id, label, dist FROM rescored
       |WHERE dist IS NOT NULL AND NOT isnan(dist)
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  /** Materialize the int8 index: codes stored as ARRAY<TINYINT> —
    * physically 1 byte/dim in parquet vs 4 for the float column —
    * beside vec_id/label/scale. At 100 TB this is the table the
    * phase-1 scan reads; the float table is touched only for the
    * shortlist rescore. */
  def writeSqIndex(s: SparkSession, dir: String, outDir: String): Unit =
    withQuant(t(s, dir, "embeddings")
        // the query sentinel row is not corpus (the writeGraphIndex /
        // writePqIndex / writeIvfIndex convention)
        .filter(col("vec_id") =!= VectorQueries.QueryVecId))
      .select(col("vec_id"), col("label"),
        expr("transform(qcodes, c -> CAST(c AS TINYINT))").as("codes8"),
        col("scale"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/codes")

  /** Append a batch into an EXISTING materialized int8 index. SQ has
    * NO trained state — the scale is per-vector — so append is the
    * same map-only transform as the build: nothing is read, nothing
    * can drift, and a retrain-rewrite cycle is never needed (the one
    * maintenance property the trained structures can't offer).
    * `dedupeExisting`: the [[Maintenance.appendIndexRows]] replay
    * guard (one slim vec_id scan of the flat codes table). */
  def appendSqIndex(
      s: SparkSession, indexDir: String, batch: DataFrame,
      dedupeExisting: Boolean = false): Unit = {
    val rows = withQuant(batch
        .filter(col("vec_id") =!= VectorQueries.QueryVecId)
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"),
          col("label").cast("int").as("label")))
      .select(col("vec_id"), col("label"),
        expr("transform(qcodes, c -> CAST(c AS TINYINT))").as("codes8"),
        col("scale"))
    Maintenance.appendIndexRows(s, s"$indexDir/codes", rows, dedupeExisting)
  }

  /** Fold an appended-to int8 index's accumulated files into a fresh
    * generation — pure file maintenance through [[Maintenance
    * .compactParquet]] (SQ has no sidecar: the scale is per-vector,
    * nothing to copy or retrain). */
  def compactSqIndex(s: SparkSession, indexDir: String, outDir: String): Unit = {
    Maintenance.compactParquet(s, s"$indexDir/codes", s"$outDir/codes")
    ()
  }

  /** The SQ index's [[Maintenance.mergePolicy]]: past `maxFiles` files
    * in the flat int8 codes table, [[compactSqIndex]] into `outDir`.
    * Returns true when a compaction ran. */
  def maintainSqIndex(
      s: SparkSession, indexDir: String, outDir: String,
      maxFiles: Int = Pq.DefaultMaxIndexFiles): Boolean =
    Maintenance.mergePolicy(s, "SQ", s"$indexDir/codes")(
      (files, _) => files > maxFiles)(compactSqIndex(s, indexDir, outDir))

  /** Probe search over a materialized int8 index: phase 1 scans ONLY
    * the codes table (column pruning keeps the float embeddings out
    * of the plan entirely — asserted in QuantizeSpec), phase 2
    * rescores the [[SqShortlist]] survivors against the float table
    * via an id semi-join. Identical output to the inline [[sqTopK]]
    * for the same query vector. */
  /** Integer-dot quantized-distance UDF against a pre-quantized
    * query (codes arrive as TINYINT from the materialized index). */
  private def codesDistUdf(qq: Array[Int], nb: Long) = {
    val sqrtNb = math.sqrt(nb.toDouble)
    udf { (codes: Seq[Byte]) =>
      var dq = 0L
      var na = 0L
      var i = 0
      while (i < codes.length) {
        val c = codes(i).toLong
        dq += c * qq(i)
        na += c * c
        i += 1
      }
      if (na == 0L) Option.empty[Double]
      else Some(1.0 - dq.toDouble / (math.sqrt(na.toDouble) * sqrtNb))
    }
  }

  def sqSearchIndexed(
      s: SparkSession,
      indexDir: String,
      floatsDir: String,
      q: Array[Float],
      k: Int = 5,
      excludeId: Option[Long] = None): DataFrame = {
    val (qq, nb) = quantOne(q)
    OpsShared.rescoreShortlist(s, floatsDir, sqPhase1(s, indexDir, codesDistUdf(qq, nb), excludeId), q, k)
  }

  /** The indexed search's phase-1 shortlist plan, exposed so
    * QuantizeSpec can assert the ACTUAL plan the search runs never
    * touches the float column (not a hand-built stand-in). */
  private[graft] def sqPhase1(
      s: SparkSession,
      indexDir: String,
      distQUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
      excludeId: Option[Long]): DataFrame = {
    val codesDf = excludeId.foldLeft(s.read.parquet(s"$indexDir/codes")) {
      (df, id) => df.filter(col("vec_id") =!= id)
    }
    codesDf
      .withColumn("dist_q", distQUdf(col("codes8")))
      .filter(col("dist_q").isNotNull)
      .select(col("vec_id"), col("dist_q"))
      .orderBy(col("dist_q"), col("vec_id"))
      .limit(SqShortlist)
  }

  /** Test hook: the phase-1 plan for a given query vector. */
  private[graft] def sqPhase1Plan(
      s: SparkSession, indexDir: String, q: Array[Float], excludeId: Option[Long]): DataFrame = {
    val (qq, nb) = quantOne(q)
    sqPhase1(s, indexDir, codesDistUdf(qq, nb), excludeId)
  }

  // ------------------------------------------------ 4-bit SQ (SQ4)

  /** SQ4 code range: codes in [−7, 7], two per stored byte — the 8×
    * storage tier between binary ([[graft.ops.Bq]]) and int8. */
  val Sq4Max = 7

  /** Wider shortlist than SQ8's: 4-bit distances are coarser, so
    * recall is bought back with candidates (the knob is a bounded
    * top-k heap — widening it never re-scans). */
  val Sq4Shortlist = 40

  /** Driver-side SQ4 quantization of one vector. */
  private def quantOne4(v: Array[Float]): (Array[Int], Long) = {
    var maxabs = 0.0
    v.foreach(x => maxabs = math.max(maxabs, math.abs(x.toDouble)))
    require(maxabs > 0, "zero query vector")
    val scale = Sq4Max / maxabs
    val codes = v.map(x => math.floor(x.toDouble * scale + 0.5).toInt)
    var n = 0L
    codes.foreach(c => n += c.toLong * c)
    (codes, n)
  }

  /** Pack SQ4 codes two-per-byte as offset-binary nibbles
    * ((c+8) << 4 | (c'+8) — the offset keeps the sign bit out of the
    * byte, the [[graft.ops.Bq]] convention); odd dims pad a zero
    * code. THE physical point of SQ4: ceil(dim/2) bytes per vector,
    * 8× under float32, half of int8. */
  private[graft] def packNibbles(codes: Array[Int]): Array[Byte] = {
    val out = new Array[Byte]((codes.length + 1) / 2)
    var i = 0
    while (i < codes.length) {
      val hi = codes(i) + 8
      val lo = if (i + 1 < codes.length) codes(i + 1) + 8 else 8
      out(i / 2) = ((hi << 4) | lo).toByte
      i += 2
    }
    out
  }

  /** Exact inverse of [[packNibbles]] (dim supplied to drop the odd
    * pad). */
  private[graft] def unpackNibbles(packed: Array[Byte], dim: Int): Array[Int] = {
    val out = new Array[Int](dim)
    var i = 0
    while (i < dim) {
      val b = packed(i / 2) & 0xFF
      out(i) = (if (i % 2 == 0) (b >> 4) else (b & 0xF)) - 8
      i += 1
    }
    out
  }

  /** Top-k via 4-bit quantized scan + exact rescore — [[sqTopK]]'s
    * two-phase shape one compression tier down: phase 1 ranks by the
    * exact integer SQ4 cosine (codes in [−7,7]: products ≤ 49, sums
    * exact at any dim), keeps [[Sq4Shortlist]] candidates, phase 2
    * rescores in full precision. Same empty-query and zero-vector
    * semantics as SQ8; oracle replays the integer arithmetic
    * bit-for-bit. */
  def sq4TopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qOpt = e.filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val (qq, nb) = quantOne4(qVec)
    val sqrtNb = math.sqrt(nb.toDouble)
    val distQUdf = udf { (emb: Seq[Float]) =>
      val a = new Array[Double](emb.length)
      var i = 0
      while (i < a.length) { a(i) = emb(i); i += 1 }
      var maxabs = 0.0
      i = 0
      while (i < a.length) { val ab = math.abs(a(i)); if (ab > maxabs) maxabs = ab; i += 1 }
      if (maxabs == 0.0) Option.empty[Double]
      else {
        val scale = Sq4Max / maxabs
        var dq = 0L
        var na = 0L
        i = 0
        while (i < a.length) {
          val c = math.floor(a(i) * scale + 0.5).toInt
          dq += c.toLong * qq(i)
          na += c.toLong * c
          i += 1
        }
        if (na == 0L) Option.empty[Double] // all dims rounded to 0
        else Some(1.0 - dq.toDouble / (math.sqrt(na.toDouble) * sqrtNb))
      }
    }
    val shortlist = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .withColumn("dist_q", distQUdf(col("embedding")))
      .filter(col("dist_q").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"), col("dist_q"))
      .orderBy(col("dist_q"), col("vec_id"))
      .limit(Sq4Shortlist)
    OpsShared.rescoreTopK(shortlist, qVec, k)
  }

  /** Oracle mirror of [[sq4TopK]]: the [[sqTopKSql]] chain with the
    * 4-bit scale, the zero-code-vector drop, and the wider
    * shortlist. */
  val sq4TopKSql: String =
    s"""WITH qz AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * ($Sq4Max / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INT)) AS qcodes
       |  FROM embeddings
       |  WHERE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
       |q AS (SELECT embedding AS qe, qcodes AS qq FROM qz
       |      WHERE vec_id = ${VectorQueries.QueryVecId}),
       |scored AS (
       |  SELECT z.vec_id, z.label, z.embedding, q.qe,
       |    1.0 - CAST(list_sum(list_transform(range(1, len(z.qcodes) + 1),
       |              i -> CAST(z.qcodes[i] AS BIGINT) * q.qq[i])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(z.qcodes, a -> CAST(a AS BIGINT) * a)) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(q.qq, b -> CAST(b AS BIGINT) * b)) AS DOUBLE))) AS dist_q
       |  FROM qz z, q
       |  WHERE z.vec_id <> ${VectorQueries.QueryVecId}
       |    AND list_sum(list_transform(z.qcodes, a -> CAST(a AS BIGINT) * a)) > 0),
       |shortlist AS (
       |  SELECT vec_id, label, embedding, qe FROM (
       |    SELECT *, row_number() OVER (ORDER BY dist_q, vec_id) AS rn FROM scored)
       |  WHERE rn <= $Sq4Shortlist),
       |rescored AS (
       |  SELECT vec_id, label,
       |    round(1.0 - list_sum(list_transform(range(1, len(embedding) + 1),
       |              i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM shortlist)
       |SELECT vec_id, label, dist FROM rescored
       |WHERE dist IS NOT NULL AND NOT isnan(dist)
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  /** Materialize the SQ4 index with PHYSICALLY PACKED nibble codes —
    * ceil(dim/2) bytes per vector on disk ([[packNibbles]]); phase 1
    * unpacks in the scan kernel. Same layout contract as
    * [[writeSqIndex]] (a `codes` table + per-vector scale), so
    * [[maintainSqIndex]] applies unchanged. */
  def writeSq4Index(s: SparkSession, dir: String, outDir: String): Unit = {
    val packUdf = udf { (emb: Seq[Float]) =>
      var maxabs = 0.0
      emb.foreach(x => maxabs = math.max(maxabs, math.abs(x.toDouble)))
      if (maxabs == 0.0) Option.empty[(Array[Byte], Double, Int)]
      else {
        val scale = Sq4Max / maxabs
        val codes = emb.map(x => math.floor(x.toDouble * scale + 0.5).toInt).toArray
        Some((packNibbles(codes), scale, emb.length))
      }
    }
    t(s, dir, "embeddings")
      .filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .withColumn("p", packUdf(col("embedding")))
      .filter(col("p").isNotNull)
      .select(col("vec_id"), col("label"),
        col("p._1").as("packed"), col("p._2").as("scale"), col("p._3").as("dim"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/codes")
  }

  /** Search the packed SQ4 index: phase 1 scans ONLY the packed
    * bytes (the float column provably absent), unpacking nibbles in
    * the distance kernel; phase 2 rescores the shortlist against the
    * float table — identical output to the inline [[sq4TopK]] for
    * the same query. */
  def sq4SearchIndexed(
      s: SparkSession,
      indexDir: String,
      floatsDir: String,
      q: Array[Float],
      k: Int = 5,
      excludeId: Option[Long] = None): DataFrame = {
    val (qq, nb) = quantOne4(q)
    val sqrtNb = math.sqrt(nb.toDouble)
    val distUdf = udf { (packed: Array[Byte], dim: Int) =>
      var dq = 0L
      var na = 0L
      var i = 0
      while (i < dim) {
        val b = packed(i / 2) & 0xFF
        val c = (if (i % 2 == 0) (b >> 4) else (b & 0xF)) - 8
        dq += c.toLong * qq(i)
        na += c.toLong * c
        i += 1
      }
      if (na == 0L) Option.empty[Double]
      else Some(1.0 - dq.toDouble / (math.sqrt(na.toDouble) * sqrtNb))
    }
    val base = excludeId.foldLeft(s.read.parquet(s"$indexDir/codes")) {
      (df, id) => df.filter(col("vec_id") =!= id)
    }
    val shortlist = base
      .withColumn("dist_q", distUdf(col("packed"), col("dim")))
      .filter(col("dist_q").isNotNull)
      .select(col("vec_id"), col("dist_q"))
      .orderBy(col("dist_q"), col("vec_id"))
      .limit(Sq4Shortlist)
    OpsShared.rescoreShortlist(s, floatsDir, shortlist, q, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sq_error" -> (sqError _),
    "ann_sq_topk" -> ((s, d) => sqTopK(s, d)),
    "ann_sq4_topk" -> ((s, d) => sq4TopK(s, d)))

  val oracles: Map[String, String] = Map(
    "sq_error" -> sqErrorSql,
    "ann_sq_topk" -> sqTopKSql,
    "ann_sq4_topk" -> sq4TopKSql)
}
