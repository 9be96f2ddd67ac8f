package graft.ops

import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Principal-component extraction over the embedding corpus — the
  * whitening/compression precursor every embedding pipeline runs
  * before indexing (PCA-truncation and mean-centering drive OPQ-style
  * quantizers and de-biased cosine retrieval).
  *
  * Scale shape (the MLlib `RowMatrix.computePrincipalComponents`
  * shape): the CORPUS-sized work — the dim×dim Gram matrix Xᵀ X — is
  * a `mapPartitions` fold into ONE primitive long array per partition
  * (upper triangle only, dim·(dim+1)/2 multiply-adds per vector, zero
  * row amplification), followed by a single dim²-long reduce to the
  * driver; the eigen-solve then runs on dim² = 4,096 scalars
  * driver-side, exactly like k-means keeps k·dim centroid traffic on
  * the driver ([[KMeansVec.fit]]). Nothing corpus-sized ever reaches
  * the driver, and nothing per-row is ever materialized as rows.
  *
  * Determinism/oracle: Gram cells are decimal-bridged (§8.5 — r6 the
  * per-row product, summed exactly as ×1e6-scaled longs ≡ the
  * DECIMAL(38,6) sum the DuckDB oracle runs, order-free); the power
  * iteration's 64-element folds run in fixed ascending index order on
  * the driver, mirrored by DuckDB `list_sum(list(... ORDER BY ...))`
  * (the same sequential-fold convention the cosine kernel uses); the
  * iterate is r6-rounded between steps so both engines walk identical
  * doubles end to end. */
object Pca extends QueryModule {
  import Tables.t

  /** Fixture embedding dimensionality (embeddings.parquet, TESTDATA). */
  val Dim = 64

  /** Fixed power-iteration count — like [[KMeansVec.Iters]], a fixed
    * unrollable count instead of a convergence test keeps the oracle
    * replayable as plain CTEs. */
  val Iters = 3

  /** Driver-side twin of the column `r6` — the one shared
    * definition ([[graft.functions.OracleMath.r6d]]). */
  private def r6d(x: Double): Double =
    graft.functions.OracleMath.r6d(x)

  /** Per-product bridge scalar: r6(x_i·x_j) as an EXACT ×1e6-scaled
    * long. `BigDecimal.valueOf` is the shortest-repr decimal of the
    * double — the same convention Spark's `round(_, 6)` and the
    * driver-side [[r6d]] use — so long-summing these is bit-for-bit
    * the DECIMAL(38,6) sum of r6-rounded products the §8.5 bridge
    * (and the DuckDB oracle) computes, just with zero row blowup. */
  @inline private def scaled6(p: Double): Long = {
    val a = math.abs(p) * 1e6
    val f = a - math.floor(a)
    // Fast path: away from the one HALF_UP decision boundary (f = 0.5)
    // plain fp rounding is provably identical — the combined error of
    // shortest-repr + the ×1e6 multiply is ≤ ~ulp(a) < 2.3e-7 for
    // a < 1e9, far inside the 1e-6 tie guard. Near a tie (or huge a,
    // where ulp outgrows the guard) defer to exact decimal arithmetic.
    if (a < 1e9 && math.abs(f - 0.5) > 1e-6)
      (if (p < 0) -1L else 1L) * math.floor(a + 0.5).toLong
    else
      java.math.BigDecimal.valueOf(p)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .movePointRight(6).longValueExact()
  }

  /** The distributed Gram accumulation: each partition folds its
    * vectors into ONE dim×dim long array (upper triangle only —
    * Xᵀ X is symmetric, so j ≥ i halves the multiply-adds), then a
    * single reduce sums 4,096 longs across partitions. Long addition
    * is exact and order-free, so the result is partition-layout
    * invariant by construction. Headroom: the scaled cells stay
    * > 6 orders of magnitude inside Long range even at 10¹² rows of
    * unit-normed vectors; a corpus beyond that would re-aggregate
    * per-shard partials through DECIMAL, same bridge. */
  /** Distributed-pass odometer (test-only observability: the memo
    * specs assert a warm query adds zero Gram passes). */
  private[graft] val gramPasses = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def gramScaled(s: SparkSession, dir: String): Array[Long] = {
    import s.implicits._
    gramPasses.incrementAndGet()
    val dim = Dim
    t(s, dir, "embeddings")
      .select(col("embedding").cast("array<float>"))
      .as[Seq[Float]]
      .mapPartitions { rows =>
        val acc = new Array[Long](dim * dim)
        rows.foreach { e =>
          if (e != null) {
            val x = e.toArray
            // a short row contributes only its own cells (the old
            // posexplode form's behavior for ragged/truncated vectors)
            val m = math.min(dim, x.length)
            var i = 0
            while (i < m) {
              val xi = x(i).toDouble
              val base = i * dim
              var j = i
              while (j < m) {
                acc(base + j) += scaled6(xi * x(j).toDouble)
                j += 1
              }
              i += 1
            }
          }
        }
        Iterator.single(acc)
      }
      .rdd
      .fold(new Array[Long](dim * dim)) { (a, b) =>
        var k = 0
        while (k < a.length) { a(k) += b(k); k += 1 }
        a
      }
  }

  /** Bridged Gram cells → the symmetric dim×dim double matrix. */
  private def gramMatrix(cells: Array[Long]): Array[Array[Double]] = {
    val G = Array.ofDim[Double](Dim, Dim)
    var i = 0
    while (i < Dim) {
      var j = i
      while (j < Dim) {
        // exact decimal (unscaled long, scale 6) → nearest double:
        // identical to CAST(DECIMAL(38,6) AS DOUBLE) on the old agg
        val g = java.math.BigDecimal.valueOf(cells(i * Dim + j), 6).doubleValue()
        G(i)(j) = g
        G(j)(i) = g
        j += 1
      }
      i += 1
    }
    G
  }

  /** [[Iters]] power-iteration steps from the 1/√dim init — the
    * driver-side eigen-solve both components share. */
  private def powerIterate(G: Array[Array[Double]]): (Array[Double], Double) = {
    var v = Array.fill(Dim)(1.0 / math.sqrt(Dim.toDouble))
    var lambda = 0.0
    (1 to Iters).foreach { _ =>
      // s = G·v, sequential fold ascending j (oracle: list_sum ORDER BY j)
      val sv = Array.tabulate(Dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < Dim) { acc += G(i)(j) * v(j); j += 1 }
        acc
      }
      var nn = 0.0
      var i = 0
      while (i < Dim) { nn += sv(i) * sv(i); i += 1 }
      lambda = math.sqrt(nn)
      v = sv.map(x => if (lambda == 0.0) 0.0 else r6d(x / lambda))
    }
    (v, r6d(lambda))
  }

  /** The corpus-pass result shared by every component fit — one Gram,
    * many components, the production spectral-analytics shape (at
    * 100 TB the Gram pass is the only corpus-sized cost; every
    * additional component is dim² driver arithmetic). */
  private[graft] val Gram = Fits("pca.gram")(gramScaled)

  /** The dominant component (unit pc1, eigenvalue estimate), r6-rounded:
    * bit-identical to the oracle's v3 CTE, as `embed_pca_power`'s hash
    * gate proves. `pca_projection` and [[Opq]] consume the same fit,
    * so within one session the power iteration runs once per
    * directory, not once per query. */
  private[graft] val Pc1 = Fits("pca.pc1")((s, dir) => powerIterate(gramMatrix(Gram(s, dir))))

  /** Second principal component via Hotelling deflation: subtract the
    * fitted dominant component's rank-1 term λ₁·v₁v₁ᵀ from the Gram
    * (all on the driver's dim² scalars — the corpus pays only the
    * Gram passes) and power-iterate the deflated matrix from the same
    * init. The r6-rounded v₁/λ₁ make the deflation — and therefore
    * pc2 — bit-replayable in the oracle. */
  private[graft] val Pc2 = Fits("pca.pc2") { (s, dir) =>
    val (v1, l1) = Pc1(s, dir)
    val G = gramMatrix(Gram(s, dir))
    var i = 0
    while (i < Dim) {
      var j = 0
      while (j < Dim) {
        G(i)(j) = G(i)(j) - l1 * v1(i) * v1(j)
        j += 1
      }
      i += 1
    }
    powerIterate(G)
  }

  /** Top-[[PcaM]] principal components by REPEATED Hotelling deflation
    * of the shared Gram — [[Pc2]]'s rank-2 deflation generalized: after
    * each component, subtract its r6-rounded rank-1 term λ·v·vᵀ and
    * power-iterate the residual from the same init. Everything past
    * the one memoized Gram pass is dim² driver arithmetic per
    * component, so the corpus cost of m components equals the cost of
    * one — the production spectral-analytics shape. Components 1 and
    * 2 are bit-identical to [[Pc1]]/[[Pc2]] by construction (same
    * expressions in the same order), and every deflation input is
    * r6-rounded, so the whole rank-m basis replays in the oracle's
    * CTE chain ([[pcaChainSql]]). The loop never looks ahead, so a
    * rank-m' < m consumer ([[Opq]]) reads the basis's first m'. */
  private[graft] val TopM = Fits("pca.top_m") { (s, dir) =>
    val G = gramMatrix(Gram(s, dir))
    val out = Seq.newBuilder[(Array[Double], Double)]
    var c = 0
    while (c < PcaM) {
      val (v, l) = powerIterate(G)
      out += ((v, l))
      var i = 0
      while (i < Dim) {
        var j = 0
        while (j < Dim) {
          G(i)(j) = G(i)(j) - l * v(i) * v(j)
          j += 1
        }
        i += 1
      }
      c += 1
    }
    out.result()
  }

  /** Dominant principal component of the embedding Gram matrix via
    * [[Iters]] power-iteration steps: per dimension index `d`, the
    * component `pc1` and the eigenvalue estimate `lambda` (the final
    * pre-normalization vector norm, constant across rows). */
  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    val (v, lambda) = Pc1(s, dir)
    import s.implicits._
    v.zipWithIndex
      .map { case (c, d) => (d.toLong, c, lambda) }.toSeq
      .toDF("d", "pc1", "lambda")
      .orderBy(col("d"))
  }

  /** Shared CTE chain: bridged Gram, v₀ = 1/√dim, three unrolled
    * (matvec, norm, r6-normalize) steps with ordered list folds
    * standing in for the driver's sequential loops. */
  private[graft] val pcaCtes: String = {
    def step(n: Int, prev: String): String =
      s"""s$n AS (
         |  SELECT g.i AS i, list_sum(list(g.g * $prev.v ORDER BY g.j)) AS s
         |  FROM g JOIN $prev ON $prev.i = g.j GROUP BY g.i),
         |n$n AS (SELECT sqrt(list_sum(list(s*s ORDER BY i))) AS n FROM s$n),
         |v$n AS (
         |  SELECT i, CASE WHEN n = 0 THEN 0.0 ELSE round(s / n, 6) + 0 END AS v
         |  FROM s$n, n$n)""".stripMargin
    s"""WITH g AS (
       |  SELECT di.i AS i, dj.j AS j,
       |    CAST(SUM(CAST(round(
       |      CAST(embedding[di.i+1] AS DOUBLE) * CAST(embedding[dj.j+1] AS DOUBLE),
       |      6) AS DECIMAL(38,6))) AS DOUBLE) AS g
       |  FROM embeddings,
       |    UNNEST(range(0, $Dim)) AS di(i), UNNEST(range(0, $Dim)) AS dj(j)
       |  GROUP BY di.i, dj.j),
       |v0 AS (SELECT i, 1.0 / sqrt(${Dim}.0) AS v FROM UNNEST(range(0, $Dim)) AS t(i)),
       |${step(1, "v0")},
       |${step(2, "v1")},
       |${step(3, "v2")}""".stripMargin
  }

  /** Oracle mirror of [[embedPcaPower]]. */
  val embedPcaPowerSql: String =
    s"""$pcaCtes
       |SELECT v3.i AS d, v3.v AS pc1, round(n3.n, 6) + 0 AS lambda
       |FROM v3, n3 ORDER BY d""".stripMargin

  /** The fitted component CONSUMED: per-label statistics of each
    * embedding's projection onto pc1 — the one-number-per-vector
    * compression a mixture monitor or drift detector reads. The
    * projection pass is map-only (the 64 component doubles ride the
    * closure, the corpus never re-shuffles); only the per-label
    * aggregate moves rows. */
  def pcaProjection(s: SparkSession, dir: String): DataFrame = {
    val pc = Pc1(s, dir)._1
    val projUdf = udf { (emb: Seq[Float]) =>
      // sequential ascending fold, the cosine-kernel convention
      var acc = 0.0
      var i = 0
      while (i < pc.length && i < emb.length) { acc += emb(i).toDouble * pc(i); i += 1 }
      acc
    }
    t(s, dir, "embeddings")
      .select(col("label"), r6(projUdf(col("embedding"))).as("p"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        r6(OracleMath.davg(col("p"))).as("avg_proj"),
        min(col("p")).as("min_proj"),
        max(col("p")).as("max_proj"))
      .orderBy(col("label"))
  }

  /** Oracle mirror of [[pcaProjection]]: the full power-iteration CTE
    * chain, then an ordered list-comprehension fold per vector. */
  val pcaProjectionSql: String =
    s"""$pcaCtes,
       |pv AS (SELECT list(v ORDER BY i) AS pv FROM v3),
       |proj AS (
       |  SELECT e.label,
       |    round(list_sum([CAST(e.embedding[k+1] AS DOUBLE) * pv.pv[k+1]
       |                    FOR k IN range(0, $Dim)]), 6) + 0 AS p
       |  FROM embeddings e, pv)
       |SELECT label, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) + 0 AS avg_proj,
       |  MIN(p) AS min_proj, MAX(p) AS max_proj
       |FROM proj GROUP BY label ORDER BY label""".stripMargin

  /** Second principal component (Hotelling deflation of the fitted
    * dominant term) — the next step toward the PCA-truncation /
    * whitening transform: per dimension `d`, the component `pc2` and
    * its eigenvalue estimate `lambda2`. */
  def pcaTop2(s: SparkSession, dir: String): DataFrame = {
    val (v2, l2) = Pc2(s, dir)
    import s.implicits._
    v2.zipWithIndex
      .map { case (c, d) => (d.toLong, c, l2) }.toSeq
      .toDF("d", "pc2", "lambda2")
      .orderBy(col("d"))
  }

  /** Oracle mirror of [[pcaTop2]]: the pc1 chain, the rank-1
    * deflation as a plain cross of the g/lam/v3 CTEs, then the same
    * three unrolled power steps on the deflated matrix. */
  val pcaTop2Sql: String = {
    def stepOn(n: Int, prev: String): String =
      s"""t$n AS (
         |  SELECT g2.i AS i, list_sum(list(g2.gv * $prev.v ORDER BY g2.j)) AS s
         |  FROM g2 JOIN $prev ON $prev.i = g2.j GROUP BY g2.i),
         |m$n AS (SELECT sqrt(list_sum(list(s*s ORDER BY i))) AS n FROM t$n),
         |u$n AS (
         |  SELECT i, CASE WHEN n = 0 THEN 0.0 ELSE round(s / n, 6) + 0 END AS v
         |  FROM t$n, m$n)""".stripMargin
    s"""$pcaCtes,
       |lam AS (SELECT round(n, 6) + 0 AS l FROM n3),
       |g2 AS (
       |  SELECT g.i AS i, g.j AS j, g.g - lam.l * vi.v * vj.v AS gv
       |  FROM g, lam, v3 vi, v3 vj
       |  WHERE vi.i = g.i AND vj.i = g.j),
       |${stepOn(1, "v0")},
       |${stepOn(2, "u1")},
       |${stepOn(3, "u2")}
       |SELECT u3.i AS d, u3.v AS pc2, round(m3.n, 6) + 0 AS lambda2
       |FROM u3, m3 ORDER BY d""".stripMargin
  }

  /** Components the registered rank-m query fits — enough to exercise
    * a genuinely repeated deflation (3 > the special-cased 2) while
    * keeping the unrolled oracle chain bounded. */
  val PcaM = 3

  /** Top-[[PcaM]] components in long format: (comp 1-based, d,
    * v = component value at dimension d, lambda = the component's
    * eigenvalue estimate) — the truncation basis a whitening /
    * compression transform consumes. */
  def pcaTopM(s: SparkSession, dir: String): DataFrame = {
    val comps = TopM(s, dir)
    import s.implicits._
    comps.zipWithIndex.flatMap { case ((v, l), c) =>
      v.zipWithIndex.map { case (x, d) => (c + 1L, d.toLong, x, l) }
    }.toDF("comp", "d", "v", "lambda")
      .orderBy(col("comp"), col("d"))
  }

  /** Deflation chains for components 2..m as CTE SQL (component 1 is
    * [[pcaCtes]]'s v3/n3). Returns (cteSql, per-component (vector CTE,
    * norm CTE) references for 1..m). Component c's gram g$c =
    * previous gram − round(λ,6)·v·vᵀ, then the same three unrolled
    * power steps — the [[TopM]] loop verbatim. */
  private[graft] def pcaChainSql(m: Int): (String, Seq[(String, String)]) = {
    val parts = Seq.newBuilder[String]
    // MATERIALIZED bridges first: the shared comp-1 CTEs are plain
    // (inlined) CTEs, and every chain below references them several
    // times — without materialization DuckDB re-evaluates the whole
    // upstream (including the corpus-sized Gram) once PER REFERENCE,
    // which goes exponential in m (observed as an fd blowup at m=3).
    // One materialized copy each bounds the whole chain to a single
    // Gram evaluation. Values are unchanged.
    parts +=
      s"""v3m AS MATERIALIZED (SELECT * FROM v3),
         |n3m AS MATERIALIZED (SELECT * FROM n3),
         |gm AS MATERIALIZED (SELECT * FROM g)""".stripMargin
    var refs = Seq(("v3m", "n3m"))
    var prevG = "gm"
    var prevGCol = "g"
    var c = 2
    while (c <= m) {
      val (pv, pn) = refs.last
      val g = s"g$c"
      def step(n: Int, prev: String): String =
        s"""c${c}s$n AS MATERIALIZED (
           |  SELECT q.i AS i, list_sum(list(q.gv * $prev.v ORDER BY q.j)) AS s
           |  FROM $g q JOIN $prev ON $prev.i = q.j GROUP BY q.i),
           |c${c}n$n AS MATERIALIZED (SELECT sqrt(list_sum(list(s*s ORDER BY i))) AS n FROM c${c}s$n),
           |c${c}v$n AS MATERIALIZED (
           |  SELECT i, CASE WHEN n = 0 THEN 0.0 ELSE round(s / n, 6) + 0 END AS v
           |  FROM c${c}s$n, c${c}n$n)""".stripMargin
      parts +=
        s"""lam$c AS MATERIALIZED (SELECT round(n, 6) + 0 AS l FROM $pn),
           |$g AS MATERIALIZED (
           |  SELECT p.i AS i, p.j AS j, p.$prevGCol - lam$c.l * vi.v * vj.v AS gv
           |  FROM $prevG p, lam$c, $pv vi, $pv vj
           |  WHERE vi.i = p.i AND vj.i = p.j),
           |${step(1, "v0")},
           |${step(2, s"c${c}v1")},
           |${step(3, s"c${c}v2")}""".stripMargin
      refs = refs :+ ((s"c${c}v3", s"c${c}n3"))
      prevG = g
      prevGCol = "gv"
      c += 1
    }
    (parts.result().mkString(",\n"), refs)
  }

  /** Oracle mirror of [[pcaTopM]]: the pc1 chain plus [[pcaChainSql]]
    * deflation chains, one UNION ALL arm per component. */
  val pcaTopMSql: String = {
    val (chain, refs) = pcaChainSql(PcaM)
    val rows = refs.zipWithIndex.map { case ((pv, pn), idx) =>
      s"""SELECT ${idx + 1} AS comp, $pv.i AS d, $pv.v AS v,
         |    round($pn.n, 6) + 0 AS lambda FROM $pv, $pn""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$pcaCtes,
       |$chain
       |SELECT CAST(comp AS BIGINT) AS comp, CAST(d AS BIGINT) AS d, v, lambda FROM (
       |$rows
       |)
       |ORDER BY comp, d""".stripMargin
  }

  /** Output sample size for [[embedWhiten]] (the whitened view is
    * corpus-sized; the registered query pins a bounded prefix). */
  val WhitenRows = 10

  /** The whitened corpus view: each embedding's projection onto the
    * [[PcaM]] fitted components, scaled to unit per-component
    * variance — z_c = (x·v_c)/√(λ_c/n), Su et al.'s whitening-BERT
    * transform (the retrieval-quality normalization that equalizes
    * the dominant directions a cosine metric otherwise over-weights).
    * Map-only: the m·dim component doubles and m scale factors ride
    * the closure, the corpus never shuffles — the [[pcaProjection]]
    * shape generalized to a rank-m basis. λ is r6-rounded (the
    * oracle's lam-CTE convention) and the fold order (ascending-dim
    * dot, then one divide) mirrors the SQL list fold verbatim. */
  private[graft] def whitenAll(s: SparkSession, dir: String): DataFrame = {
    val comps = TopM(s, dir)
    val n = t(s, dir, "embeddings").count()
    val vs = comps.map(_._1).toArray
    val scales = comps.map { case (_, l) =>
      val lr = r6d(l)
      if (lr <= 0) 0.0 else math.sqrt(lr / n.toDouble)
    }.toArray
    val zUdf = udf { (emb: Seq[Float]) =>
      vs.indices.map { c =>
        val v = vs(c)
        var acc = 0.0
        var i = 0
        while (i < v.length && i < emb.length) { acc += emb(i).toDouble * v(i); i += 1 }
        if (scales(c) == 0.0) 0.0 else acc / scales(c)
      }.toArray
    }
    t(s, dir, "embeddings")
      .select(col("vec_id"), zUdf(col("embedding")).as("z"))
      .select(col("vec_id") +:
        (0 until PcaM).map(c => r6(col("z")(c)).as(s"z${c + 1}")): _*)
  }

  def embedWhiten(s: SparkSession, dir: String): DataFrame =
    whitenAll(s, dir).orderBy(col("vec_id")).limit(WhitenRows)

  /** Oracle mirror of [[embedWhiten]]: the [[pcaChainSql]] basis, one
    * scale CTE per component (√(r6(λ)/n)), and a per-row list-fold
    * projection — the same ascending-dim dot / single divide / r6. */
  val embedWhitenSql: String = {
    val (chain, refs) = pcaChainSql(PcaM)
    val per = refs.zipWithIndex.map { case ((pv, pn), idx) =>
      val c = idx + 1
      s"""wv$c AS (SELECT list(v ORDER BY i) AS vl FROM $pv),
         |ws$c AS (SELECT CASE WHEN round(l.n, 6) + 0 <= 0 THEN 0.0
         |  ELSE sqrt((round(l.n, 6) + 0) / c.n) END AS s FROM $pn l, wcnt c)""".stripMargin
    }
    val zCols = (1 to PcaM).map { c =>
      s"""round(CASE WHEN ws$c.s = 0 THEN 0.0 ELSE
         |  list_sum([CAST(e.embedding[x+1] AS DOUBLE) * wv$c.vl[x+1]
         |            FOR x IN range(0, $Dim)]) / ws$c.s END, 6) + 0 AS z$c""".stripMargin
    }
    s"""$pcaCtes,
       |$chain,
       |wcnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
       |${per.mkString(",\n")}
       |SELECT e.vec_id, ${zCols.mkString(",\n")}
       |FROM embeddings e, ${(1 to PcaM).map(c => s"wv$c, ws$c").mkString(", ")}
       |ORDER BY e.vec_id LIMIT $WhitenRows""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca_power" -> (embedPcaPower _),
    "pca_projection" -> (pcaProjection _),
    "pca_top2" -> (pcaTop2 _),
    "pca_topm" -> (pcaTopM _),
    "embed_whiten" -> (embedWhiten _))

  val oracles: Map[String, String] = Map(
    "embed_pca_power" -> embedPcaPowerSql,
    "pca_projection" -> pcaProjectionSql,
    "pca_top2" -> pcaTop2Sql,
    "pca_topm" -> pcaTopMSql,
    "embed_whiten" -> embedWhitenSql)
}
