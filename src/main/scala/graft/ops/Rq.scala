package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Residual quantization (RQ) — the additive-codebook compression
  * tier between scalar quantization and IVF-PQ (Chen et al. 2010;
  * FAISS `ResidualQuantizer`): quantize the vector with a full-dim
  * codebook, subtract the chosen centroid, quantize the RESIDUAL
  * with a second codebook. Reconstruction = c1 + c2, so two 4-bit
  * codes buy two additive refinement levels where PQ buys subspace
  * independence — RQ wins when variance is NOT axis-aligned (the
  * same anisotropy OPQ rotates away, absorbed here by the second
  * level).
  *
  * Each level is [[Pq]] training with one subspace: the [[CodeK]]
  * lowest nonzero vec_ids as init (level 2 inits from those same
  * rows' residuals), ONE [[Codebook.lloyd]] update (only CodeK·dim =
  * 1,024 doubles reach the driver per level), the [[Codebook]]
  * nearest-code distance. Every step — init, assignment,
  * update, residual subtraction, error — replays in DuckDB CTEs, so
  * `rq_error` is fully oracle-gated like `pq_error`/`sq_error`.
  *
  * Scale shape: both Lloyd updates and the error pass are map-only
  * scans + one bounded aggregation each; the model is 2·CodeK·dim
  * doubles (parameter-bounded → closure/broadcast safe under the
  * centroid rule); the corpus never shuffles.
  */
object Rq extends QueryModule {

  /** Centroids per level (4-bit codes; two levels = one byte). */
  val CodeK = 16

  /** Fixture embedding dim — the oracle unrolls range(1, Dim+1). */
  val Dim = 64

  /** x − c, the residual level 2 quantizes. */
  private def residual(x: Array[Double], c: Array[Double]): Array[Double] =
    Array.tabulate(x.length)(i => x(i) - c(i))

  /** Both trained codebooks (level 1 on the normalized corpus, level
    * 2 on its level-1 residuals), each one-subspace [[Pq]] training —
    * training is the index-build cost; `rq_error` pays it cold. */
  private[graft] val Codebooks = Fits("rq.codebooks") { (s, dir) =>
    val nx = Pq.nxView(s, dir)
    val cb1 = Pq.trainCodebooksNx(nx, 1)(0)
    val book1 = Codebook.flat(cb1)
    val resU = udf { (x: Seq[Double]) =>
      val xa = x.toArray
      residual(xa, cb1(book1.nearest(xa, 0, book1.selfDot(xa, 0))))
    }
    val cb2 = Pq.trainCodebooksNx(nx.withColumn("nx", resU(col("nx"))), 1)(0)
    (cb1, cb2)
  }

  /** Per-label reconstruction-error profile of BOTH levels: avg_err1
    * (level-1 only, the plain-kmeans-codebook baseline) vs avg_err2
    * (after the residual refinement) — the report that decides
    * whether one additive level is enough before a compressed index
    * is built (the [[Pq.pqError]] twin, with the improvement column
    * built in). */
  def rqError(s: SparkSession, dir: String): DataFrame = {
    val (cb1, cb2) = Codebooks(s, dir)
    val (book1, book2) = (Codebook.flat(cb1), Codebook.flat(cb2))
    val errU = udf { (x: Seq[Double]) =>
      val xa = x.toArray
      val code = new Array[Int](1)
      val e1 = book1.encode(xa, code)
      val e2 = book2.encode(residual(xa, cb1(code(0))), code)
      Array(e1, e2)
    }
    Pq.nxView(s, dir)
      .select(col("label"), errU(col("nx")).as("e"))
      .select(col("label"),
        r6(col("e")(0) / lit(Dim.toDouble)).as("err1"),
        r6(col("e")(1) / lit(Dim.toDouble)).as("err2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        r6(OracleMath.davg(col("err1"))).as("avg_err1"),
        r6(OracleMath.davg(col("err2"))).as("avg_err2"))
      .orderBy(col("label"))
  }

  /** One level of the oracle chain: init from `$src`'s vec_id prefix
    * (column `x`), float-truncated assignment, bridged Lloyd means,
    * final assignment with distance. Emits CTEs `${p}cb0 ${p}d0
    * ${p}c0 ${p}u ${p}cb ${p}d ${p}c` where `${p}c` has (vec_id,
    * label, x, code, d2). */
  private def levelSql(p: String, src: String): String =
    s"""${p}cb0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
       |    x AS emb
       |  FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $CodeK)),
       |${p}d0 AS (
       |  SELECT s.vec_id, s.label, s.x, c.code,
       |    list_sum(list_transform(s.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, ${Dim + 1}),
       |        i -> s.x[i] * CAST(CAST(c.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(c.emb, v -> v * v)) AS d2
       |  FROM $src s, ${p}cb0 c),
       |${p}c0 AS (
       |  SELECT vec_id, label, x, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
       |    FROM ${p}d0)
       |  WHERE rn = 1),
       |${p}u AS (
       |  SELECT c.code, t.d,
       |    CAST(SUM(CAST(round(c.x[t.d], 6) + 0 AS DECIMAL(38,6))) AS DOUBLE)
       |      / COUNT(*) AS cd
       |  FROM ${p}c0 c, UNNEST(range(1, ${Dim + 1})) AS t(d)
       |  GROUP BY c.code, t.d),
       |${p}cb AS MATERIALIZED (
       |  SELECT c0.code, coalesce(n.emb, c0.emb) AS emb
       |  FROM ${p}cb0 c0
       |  LEFT JOIN (SELECT code, list(cd ORDER BY d) AS emb FROM ${p}u GROUP BY code) n
       |  USING (code)),
       |${p}d AS (
       |  SELECT s.vec_id, s.label, s.x, c.code,
       |    list_sum(list_transform(s.x, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, ${Dim + 1}),
       |        i -> s.x[i] * CAST(CAST(c.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(c.emb, v -> v * v)) AS d2
       |  FROM $src s, ${p}cb c),
       |${p}c AS MATERIALIZED (
       |  SELECT vec_id, label, x, code, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rn
       |    FROM ${p}d)
       |  WHERE rn = 1)""".stripMargin

  val rqErrorSql: String =
    s"""WITH ne AS MATERIALIZED (
       |${Pq.neStandardSql}),
       |nx AS (SELECT vec_id, label, nx AS x FROM ne),
       |${levelSql("r", "nx")},
       |res AS MATERIALIZED (
       |  SELECT c.vec_id, c.label, c.d2 AS e1,
       |    list_transform(range(1, ${Dim + 1}), i -> c.x[i] - cb.emb[i]) AS x
       |  FROM rc c JOIN rcb cb ON cb.code = c.code),
       |${levelSql("s", "res")},
       |pv AS (
       |  SELECT r.label,
       |    round(r.e1 / ${Dim}.0, 6) + 0 AS err1,
       |    round(s.d2 / ${Dim}.0, 6) + 0 AS err2
       |  FROM res r JOIN sc s ON s.vec_id = r.vec_id)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |  round(CAST(SUM(CAST(err1 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_err1,
       |  round(CAST(SUM(CAST(err2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_err2
       |FROM pv GROUP BY label
       |ORDER BY label""".stripMargin

  /** Phase-1 candidate pool. RQ at 2×4 bits has only CodeK² = 256
    * distinct reconstructions, so the approx score is COARSE — rows
    * in the same (c1,c2) cell tie and break by vec_id, which makes
    * this a cell-pruning candidate generator (the IVF shape), not
    * PQ's fine-grained ADC. RqSpec measures recall at the registered
    * knobs; production RQ raises levels/bits for discrimination. */
  val Shortlist = 100

  /** Two-phase RQ search: driver builds the CodeK×CodeK lookup table
    * d2(query, c1+c2) — 256 doubles, one O(1) lookup per corpus row
    * (cheaper than PQ's 8 lookups) — shortlists [[Shortlist]] by
    * (approx, vec_id), exact-rescores with the shared cosine kernel.
    * The scan is map-only with the 512-double model in the closure;
    * oracle replays codes, LUT, shortlist, and rescore. */
  def annRqTopk(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val qOpt = OpsShared.queryVec(s, dir)
    if (qOpt.isEmpty)
      return e.select(col("vec_id"), col("label"), lit(0d).as("dist")).filter(lit(false))
    val qVec = qOpt.get
    val (cb1, cb2) = Codebooks(s, dir)
    val (book1, book2) = (Codebook.flat(cb1), Codebook.flat(cb2))
    val nq = Pq.normalize(qVec.map(_.toDouble))
    // the reconstructions c1 + c2 as one flat codebook, code a·|cb2| + b
    val recs = Codebook.flat(for (a <- cb1; b <- cb2) yield Array.tabulate(Dim)(i => a(i) + b(i)))
    val nqq = recs.selfDot(nq, 0)
    val lut = Array.tabulate(cb1.length, cb2.length)((a, b) => recs.d2(nq, 0, nqq, a * cb2.length + b))
    val approxU = udf { (emb: Seq[Float]) =>
      val xa = Pq.fromFloats(emb)
      val c1 = book1.nearest(xa, 0, book1.selfDot(xa, 0))
      val rx = residual(xa, cb1(c1))
      lut(c1)(book2.nearest(rx, 0, book2.selfDot(rx, 0)))
    }
    OpsShared.rescoreTopK(
      e.filter(col("vec_id") =!= VectorQueries.QueryVecId)
        .filter(graft.functions.VectorFunctions.l2norm(col("embedding")) > 0)
        .withColumn("approx", approxU(col("embedding")))
        .orderBy(col("approx"), col("vec_id"))
        .limit(Shortlist),
      qVec, k)
  }

  val annRqTopkSql: String =
    s"""WITH ne AS MATERIALIZED (
       |${Pq.neStandardSql}),
       |nx AS (SELECT vec_id, label, nx AS x FROM ne),
       |${levelSql("r", "nx")},
       |res AS MATERIALIZED (
       |  SELECT c.vec_id, c.label,
       |    list_transform(range(1, ${Dim + 1}), i -> c.x[i] - cb.emb[i]) AS x
       |  FROM rc c JOIN rcb cb ON cb.code = c.code),
       |${levelSql("s", "res")},
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = ${VectorQueries.QueryVecId}),
       |qn AS (SELECT list_transform(qe, x -> CAST(x AS DOUBLE)
       |    / sqrt(list_sum(list_transform(qe, y -> CAST(y AS DOUBLE)*CAST(y AS DOUBLE))))) AS nx FROM q),
       |lut AS (
       |  SELECT a.code AS c1, b.code AS c2,
       |    list_sum(list_transform(qn.nx, v -> v * v))
       |    - 2.0 * list_sum(list_transform(range(1, ${Dim + 1}),
       |        i -> qn.nx[i] * CAST(CAST(a.emb[i] + b.emb[i] AS FLOAT) AS DOUBLE)))
       |    + list_sum(list_transform(range(1, ${Dim + 1}),
       |        i -> (a.emb[i] + b.emb[i]) * (a.emb[i] + b.emb[i]))) AS d2
       |  FROM rcb a, scb b, qn),
       |approx AS (
       |  SELECT r.vec_id, r.label, lut.d2 AS approx
       |  FROM rc r JOIN sc s2 ON s2.vec_id = r.vec_id
       |  JOIN lut ON lut.c1 = r.code AND lut.c2 = s2.code
       |  WHERE r.vec_id <> ${VectorQueries.QueryVecId}),
       |short AS (
       |  SELECT vec_id, label FROM approx
       |  ORDER BY approx, vec_id LIMIT $Shortlist),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    round(1.0 - list_sum(list_transform(range(1, len(e.embedding)+1),
       |              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
       |          / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |             * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 6) + 0 AS dist
       |  FROM embeddings e JOIN short ON short.vec_id = e.vec_id, q)
       |SELECT vec_id, label, dist FROM scored
       |WHERE dist IS NOT NULL AND NOT isnan(dist)
       |ORDER BY dist, vec_id LIMIT 5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rq_error" -> (rqError _),
    "ann_rq_topk" -> ((s, d) => annRqTopk(s, d)))

  val oracles: Map[String, String] = Map(
    "rq_error" -> rqErrorSql,
    "ann_rq_topk" -> annRqTopkSql)
}
