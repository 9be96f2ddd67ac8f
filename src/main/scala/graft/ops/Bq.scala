package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary (1-bit) quantization search — the extreme end of the
  * quantization ladder (SQ int8 = 4× smaller, PQ/RQ = 32× with
  * trained codebooks, BQ = 32× with NO training at all): every
  * embedding collapses to its per-dimension sign bits (Charikar
  * 2002's sign quantization at the identity rotation), so the
  * 64-dim float vector becomes ONE 8-byte fingerprint and the
  * distance becomes xor + popcount — the cheapest comparison a
  * vector index can run.
  *
  * Contrast with the two neighbours in the family:
  *   - [[VectorQueries.annLshTopk]] uses sign bits of RANDOM
  *     hyperplanes as bucket keys for candidate GENERATION (a row
  *     not sharing a band is never seen);
  *   - BQ ranks EVERY row by whole-fingerprint Hamming distance —
  *     an exhaustive scan, but over 8 bytes/row instead of 256, so
  *     at 100 TB phase 1 reads a 32×-smaller column (the
  *     fingerprint table is ~3 TB where the floats are 100) and the
  *     kernel is two instructions per row. The reference's backing
  *     store compresses its HNSW payloads for the same reason
  *     (index.py:434); BQ is that storage lever as a first-class
  *     dataflow.
  *
  * Two-phase shape (the [[Quantize.sqTopK]] ADC pattern): phase 1
  * keeps the [[BqShortlist]] Hamming-nearest rows via ONE bounded
  * TakeOrderedAndProject pass, phase 2 rescores exactly those rows
  * with full-precision cosine — precision 1, only recall
  * approximate (profiled in BqSpec against exact kNN).
  *
  * Determinism/oracle bridge: the fingerprint packs as TWO 32-bit
  * halves summed as distinct powers of two — exact BIGINT
  * arithmetic in both engines (the [[Dedup]] SimHash 60-bit
  * precedent: never let a set bit reach the BIGINT sign position) —
  * and Hamming is `bit_count(xor(...))` in DuckDB exactly as it is
  * `Long.bitCount(^)` here. Shortlist and final cuts order by
  * (key, vec_id), a total order.
  */
object Bq extends QueryModule {
  import Tables.t

  /** Hamming shortlist size — the recall knob (BQ's nProbe): much
    * wider than [[Quantize.SqShortlist]] because 1-bit ranking is
    * far coarser than int8 — many rows tie at the same Hamming
    * radius and only the exact rescore disambiguates. The phase-1
    * scan cost is unchanged by this knob (it is a bounded top-k heap
    * over the same fingerprint pass); only the rescore set grows. */
  val BqShortlist = 200

  private val HalfDim = 32

  /** Sign fingerprint as (lo, hi) 32-bit halves: bit i of `lo` set
    * iff embedding(i) > 0 for i < 32, bit i−32 of `hi` for the
    * rest. Dimensions beyond 64 are ignored (the fixture dim is
    * [[Pca.Dim]] = 64); shorter vectors leave high bits zero —
    * both mirrored by the oracle's fixed range(0,64) scan where
    * out-of-range list access yields NULL → 0. */
  private[graft] def packBits(emb: Seq[Float]): (Long, Long) = {
    var lo = 0L
    var hi = 0L
    val n = math.min(emb.length, 2 * HalfDim)
    var i = 0
    while (i < n) {
      if (emb(i) > 0f) {
        if (i < HalfDim) lo |= (1L << i) else hi |= (1L << (i - HalfDim))
      }
      i += 1
    }
    (lo, hi)
  }

  def bqTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = t(s, dir, "embeddings")
    // missing or all-zero query row → empty result (the qz-filter
    // convention shared with sqTopK: the oracle's q CTE is empty)
    val qOpt = e.filter(col("vec_id") === VectorQueries.QueryVecId)
      .select(col("embedding")).head(1).headOption
      .map(_.getSeq[Float](0).toArray)
      .filter(_.exists(_ != 0f))
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val (qlo, qhi) =
      packBits(scala.collection.immutable.ArraySeq.unsafeWrapArray(qVec))
    // one primitive loop per row, query fingerprint in the closure —
    // the annLshTopkK rationale: array higher-order functions are
    // CodegenFallback and lose to a tight while-loop on the scan path
    val hamUdf = udf { (emb: Seq[Float]) =>
      val (lo, hi) = packBits(emb)
      java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi)
    }
    val shortlist = e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
      .withColumn("hamming", hamUdf(col("embedding")))
      .select(col("vec_id"), col("label"), col("embedding"), col("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(BqShortlist)
    // zero corpus vectors may occupy shortlist slots but rescore to
    // NaN and drop — identically in both engines
    OpsShared.rescoreTopK(shortlist, qVec, k)
  }

  /** Oracle mirror of [[bqTopK]]: same sign bits as exact power-of-2
    * sums, same xor/popcount Hamming, same (hamming, vec_id)
    * shortlist cut, same exact rescore. */
  val bqTopKSql: String = {
    val q = VectorQueries.QueryVecId
    s"""WITH fp AS (
       |  SELECT vec_id, label, embedding,
       |    CAST(list_sum(list_transform(range(0, $HalfDim),
       |      i -> CASE WHEN embedding[i + 1] > 0
       |             THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo,
       |    CAST(list_sum(list_transform(range($HalfDim, ${2 * HalfDim}),
       |      i -> CASE WHEN embedding[i + 1] > 0
       |             THEN CAST(1 AS BIGINT) << (i - $HalfDim) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi
       |  FROM embeddings),
       |q AS (
       |  SELECT lo AS qlo, hi AS qhi, embedding AS qe FROM fp
       |  WHERE vec_id = $q
       |    AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0),
       |scored AS (
       |  SELECT f.vec_id, f.label, f.embedding, q.qe,
       |    bit_count(xor(f.lo, q.qlo)) + bit_count(xor(f.hi, q.qhi)) AS hamming
       |  FROM fp f, q
       |  WHERE f.vec_id <> $q),
       |shortlist AS (
       |  SELECT vec_id, label, embedding, qe FROM (
       |    SELECT *, row_number() OVER (ORDER BY hamming, vec_id) AS rn FROM scored)
       |  WHERE rn <= $BqShortlist),
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
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bq_topk" -> ((s, d) => bqTopK(s, d)))

  val oracles: Map[String, String] = Map(
    "ann_bq_topk" -> bqTopKSql)
}
