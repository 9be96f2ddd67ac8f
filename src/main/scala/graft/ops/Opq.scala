package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPQ-style rotated product quantization — the standard accuracy
  * lever on top of plain PQ (Ge et al., "Optimized Product
  * Quantization", and FAISS's `OPQMatrix` pre-transform): apply an
  * orthogonal rotation to the corpus before quantizing so the
  * subspace split cuts along the data's own axes instead of the
  * storage order's.
  *
  * The rotation here is the composable first step of that family: a
  * HOUSEHOLDER REFLECTION aligning the fitted dominant component
  * ([[Pca]] pc1, the engine's one replayable eigenvector) with
  * coordinate axis 0 — H·x = x − 2·(uᵀx/uᵀu)·u with u = pc1 − e0.
  * After it, the corpus's largest variance direction lies entirely in
  * subspace 0, which quantizes it with a dedicated codebook instead
  * of smearing it across all eight. On an anisotropic corpus (every
  * real embedding corpus) this strictly lowers reconstruction error
  * (OpqSpec asserts it on a planted-direction corpus); on an
  * isotropic one it is a no-op by construction — there is no
  * preferred axis to align (the synthetic fixtures are near-isotropic,
  * λ₀/λ₁ ≈ 1.02, so `opq_error` ≈ `pq_error` there, and the gate is
  * the oracle hash plus the anisotropic spec).
  *
  * Scale shape: the rotation is a map-only pass (64 doubles of u ride
  * the closure); everything downstream is EXACTLY the [[Pq]] pipeline
  * over the rotated view — same init, same bridged Lloyd update, same
  * encode — via the shared nx-parameterized helpers, so the cost
  * profile and the oracle CTE chain are the PQ ones plus one linear
  * pass. A full OPQ (iterated Procrustes) would drop in the same way
  * once a multi-component fit exists; the reflection is the part the
  * replayable single-component fit can power today.
  *
  * Determinism/oracle: pc1's components are the r6-rounded doubles
  * the `embed_pca_power` hash gate already proves bit-identical to
  * the oracle's v3 CTE; u, uᵀu, uᵀx and the reflection are plain
  * IEEE arithmetic in the same sequential order both engines use, so
  * the rotated nx feeds the shared PQ CTEs bit-for-bit. */
object Opq extends QueryModule {

  /** Householder direction for the dir's fitted pc1: (u, uᵀu), or
    * None when pc1 is already e0 (reflection undefined/unneeded). */
  private def householder(s: SparkSession, dir: String): Option[(Array[Double], Double)] = {
    val u = Pca.Pc1(s, dir)._1.clone()
    u(0) -= 1.0
    var utu = 0.0
    var i = 0
    while (i < u.length) { utu += u(i) * u(i); i += 1 }
    if (utu == 0.0) None else Some((u, utu))
  }

  /** Rotated normalized-corpus view: the [[Pq.nxView]] rows passed
    * through the reflection, None when pc1 = e0 (the rotation is the
    * identity). Map-only; u rides the closure. */
  private def rotView(s: SparkSession, dir: String): Option[DataFrame] =
    householder(s, dir).map { case (u, utu) =>
      val rot = udf { (nx: Seq[Double]) =>
        val x = nx.toArray
        var dot = 0.0
        var k = 0
        val m = math.min(x.length, u.length)
        while (k < m) { dot += x(k) * u(k); k += 1 }
        val f = 2.0 * dot / utu
        val out = new Array[Double](x.length)
        k = 0
        while (k < x.length) { out(k) = x(k) - (if (k < m) f * u(k) else 0.0); k += 1 }
        out
      }
      Pq.nxView(s, dir).withColumn("nx", rot(col("nx")))
    }

  /** The rotated-space codebooks (the [[Pq.Codebooks]] convention —
    * training is index-build cost, paid cold in Bench). */
  private[graft] val Codebooks =
    Fits("opq.codebooks")((s, dir) => rotView(s, dir).map(nx => Pq.trainCodebooksNx(nx)))

  /** Per-label reconstruction error of PQ in the ROTATED space — the
    * apples-to-apples twin of [[Pq.pqError]] (same corpus rows, same
    * subspace count, same trained-codebook protocol), so
    * `opq_error ≤ pq_error` is exactly the OPQ win. */
  def opqError(s: SparkSession, dir: String): DataFrame =
    (rotView(s, dir), Codebooks(s, dir)) match {
      case (Some(nx), Some(cb)) => Pq.pqErrorNx(nx, cb)
      case _ => Pq.pqError(s, dir) // pc1 = e0: rotation is identity
    }

  /** Oracle mirror: the full [[Pca]] power-iteration chain yields v3
    * (= pc1), the hu/huv/hutu CTEs form the Householder direction,
    * `n0` is the standard normalized corpus, `rd` precomputes each
    * row's uᵀx, and the reflected rows feed the UNCHANGED [[Pq]]
    * train+encode chain and error tail. */
  val opqErrorSql: String = {
    val dim = Pca.Dim
    val rotNe =
      s"""  SELECT rd.vec_id, rd.label,
         |    CASE WHEN hutu.s2 = 0 THEN rd.nx ELSE
         |      [ rd.nx[k+1] - (2.0 * rd.dot / hutu.s2) * huv.ul[k+1]
         |        FOR k IN range(0, $dim) ]
         |    END AS nx
         |  FROM rd, huv, hutu""".stripMargin
    s"""${Pca.pcaCtes},
       |hu AS (SELECT i, v - CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS u FROM v3),
       |huv AS (SELECT list(u ORDER BY i) AS ul FROM hu),
       |hutu AS (SELECT list_sum(list(u * u ORDER BY i)) AS s2 FROM hu),
       |n0 AS (
       |${Pq.neStandardSql}),
       |rd AS (
       |  SELECT n0.vec_id, n0.label, n0.nx,
       |    list_sum([ n0.nx[j+1] * huv.ul[j+1] FOR j IN range(0, $dim) ]) AS dot
       |  FROM n0, huv),
       |${Pq.pqCtesFrom(rotNe)},
       |${Pq.pqErrorTailSql}""".stripMargin
  }

  // ------------------------------------------------ rank-m rotation

  /** Components the rank-m rotation allocates — one per LEADING
    * subspace. Raising it toward [[Pq.SubSpaces]] allocates more of
    * the spectrum (the oracle generator below scales with it). */
  val OpqM = 2

  /** In-place Householder application x ← x − 2(uᵀx/uᵀu)·u:
    * sequential ascending folds, the same arithmetic order as the
    * oracle's ordered list comprehensions, so driver- and SQL-side
    * walks produce bit-identical doubles. */
  private def reflectInPlace(x: Array[Double], u: Array[Double], utu: Double): Unit = {
    var dot = 0.0
    var k = 0
    val m = math.min(x.length, u.length)
    while (k < m) { dot += x(k) * u(k); k += 1 }
    val f = 2.0 * dot / utu
    k = 0
    while (k < m) { x(k) = x(k) - f * u(k); k += 1 }
  }

  /** The composed rank-m rotation — the PARAMETRIC half of full OPQ
    * (Ge et al. §4's eigenvalue-allocation principle, OPQ_P):
    * reflection i aligns the (previously-reflected) fitted component
    * i with axis e_{(i−1)·subDim}, SPREADING the top variance
    * directions across DISTINCT subspaces so each gets a dedicated
    * codebook, instead of cramming them all into subspace 0 the way
    * the single reflection does. Every Householder factor is exactly
    * orthogonal whatever the (r6-rounded, hence approximate)
    * orthogonality of the fitted components, so the rotation
    * preserves distances exactly; only the ALIGNMENT is approximate.
    * The non-parametric refinement (iterated Procrustes: quantize,
    * then re-solve R by SVD of the code/data cross-covariance) needs
    * a driver-side SVD whose bit-replay has no bounded CTE form — a
    * deliberate scope line, documented here, same as the r6 bridges
    * elsewhere.
    *
    * Identity reflections (uᵀu = 0: the component already sits on its
    * target axis) are skipped, mirrored by the oracle's s2 = 0 CASE
    * guards. Returns the (u, uᵀu) factors in application order —
    * m·dim doubles in every consumer's closure, map-only downstream. */
  private[graft] def householderChain(
      s: SparkSession, dir: String, m: Int): Seq[(Array[Double], Double)] = {
    val sd = Pca.Dim / Pq.SubSpaces
    val comps = Pca.TopM(s, dir)
    val applied = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    var i = 0
    while (i < m) {
      val u = comps(i)._1.clone()
      applied.foreach { case (pu, putu) => reflectInPlace(u, pu, putu) }
      u(i * sd) -= 1.0
      var utu = 0.0
      var k = 0
      while (k < u.length) { utu += u(k) * u(k); k += 1 }
      if (utu != 0.0) applied += ((u, utu))
      i += 1
    }
    applied.toSeq
  }

  /** Corpus view under the composed rotation: map-only, the m·dim
    * factor doubles ride the closure. */
  private def rotViewChain(
      s: SparkSession, dir: String, chain: Seq[(Array[Double], Double)]): DataFrame = {
    val rot = udf { (nx: Seq[Double]) =>
      val x = nx.toArray
      chain.foreach { case (u, utu) => reflectInPlace(x, u, utu) }
      x
    }
    Pq.nxView(s, dir).withColumn("nx", rot(col("nx")))
  }

  /** The rank-[[OpqM]] rotated-space codebooks, None when every
    * component already sits on its target axis. */
  private[graft] val CodebooksM = Fits("opq.codebooks_m") { (s, dir) =>
    val chain = householderChain(s, dir, OpqM)
    if (chain.isEmpty) None else Some(Pq.trainCodebooksNx(rotViewChain(s, dir, chain)))
  }

  /** Per-label PQ reconstruction error in the rank-[[OpqM]] rotated
    * space — [[opqError]] one allocation step further: the
    * apples-to-apples triple (pq_error, opq_error, opq_m_error) over
    * the same rows, subspaces, and trained-codebook protocol, so
    * `opq_m_error ≤ opq_error ≤ pq_error` on an anisotropic corpus is
    * exactly the eigenvalue-allocation win (OpqSpec asserts the
    * strict chain on a two-direction planted corpus). */
  def opqMError(s: SparkSession, dir: String): DataFrame = {
    val chain = householderChain(s, dir, OpqM)
    CodebooksM(s, dir) match {
      case Some(cb) => Pq.pqErrorNx(rotViewChain(s, dir, chain), cb)
      case None => Pq.pqError(s, dir) // every component already on target
    }
  }

  /** Oracle mirror of [[opqMError]], generated for any [[OpqM]]: the
    * [[Pca.pcaChainSql]] deflation chains yield the fitted basis;
    * per reflection i, the w{i}_* CTEs rotate component i through the
    * previous reflections (the [[householderChain]] loop verbatim)
    * and hu{i}l/hu{i}s form its direction; the r{i} CTEs thread the
    * normalized corpus through the same reflections; the final
    * rotated body feeds the UNCHANGED [[Pq]] train+encode chain and
    * error tail. */
  val opqMErrorSql: String = {
    val dim = Pca.Dim
    val sd = dim / Pq.SubSpaces
    val (chain, refs) = Pca.pcaChainSql(OpqM)
    val b = Seq.newBuilder[String]
    (1 to OpqM).foreach { i =>
      b += s"w${i}_0 AS (SELECT list(v ORDER BY i) AS wl FROM ${refs(i - 1)._1})"
      (1 until i).foreach { j =>
        b +=
          s"""w${i}_${j}d AS (
             |  SELECT list_sum([ w.wl[x+1] * hu${j}l.ul[x+1] FOR x IN range(0, $dim) ]) AS dot
             |  FROM w${i}_${j - 1} w, hu${j}l)""".stripMargin
        b +=
          s"""w${i}_$j AS (
             |  SELECT CASE WHEN hu${j}s.s2 = 0 THEN w.wl ELSE
             |    [ w.wl[k+1] - (2.0 * d.dot / hu${j}s.s2) * hu${j}l.ul[k+1] FOR k IN range(0, $dim) ]
             |  END AS wl
             |  FROM w${i}_${j - 1} w, w${i}_${j}d d, hu${j}l, hu${j}s)""".stripMargin
      }
      val t = (i - 1) * sd
      b +=
        s"""hu${i}l AS (
           |  SELECT [ wl[k+1] - CASE WHEN k = $t THEN 1.0 ELSE 0.0 END FOR k IN range(0, $dim) ] AS ul
           |  FROM w${i}_${i - 1})""".stripMargin
      b += s"hu${i}s AS (SELECT list_sum([ ul[k+1] * ul[k+1] FOR k IN range(0, $dim) ]) AS s2 FROM hu${i}l)"
    }
    b += s"n0 AS (\n${Pq.neStandardSql})"
    var prev = "n0"
    (1 to OpqM).foreach { i =>
      b +=
        s"""r${i}d AS (
           |  SELECT p.vec_id, p.label, p.nx,
           |    list_sum([ p.nx[j+1] * hu${i}l.ul[j+1] FOR j IN range(0, $dim) ]) AS dot
           |  FROM $prev p, hu${i}l)""".stripMargin
      if (i < OpqM) {
        b +=
          s"""r$i AS (
             |  SELECT rd.vec_id, rd.label,
             |    CASE WHEN hu${i}s.s2 = 0 THEN rd.nx ELSE
             |      [ rd.nx[k+1] - (2.0 * rd.dot / hu${i}s.s2) * hu${i}l.ul[k+1] FOR k IN range(0, $dim) ]
             |    END AS nx
             |  FROM r${i}d rd, hu${i}s, hu${i}l)""".stripMargin
        prev = s"r$i"
      }
    }
    val rotNe =
      s"""  SELECT rd.vec_id, rd.label,
         |    CASE WHEN hu${OpqM}s.s2 = 0 THEN rd.nx ELSE
         |      [ rd.nx[k+1] - (2.0 * rd.dot / hu${OpqM}s.s2) * hu${OpqM}l.ul[k+1] FOR k IN range(0, $dim) ]
         |    END AS nx
         |  FROM r${OpqM}d rd, hu${OpqM}s, hu${OpqM}l""".stripMargin
    s"""${Pca.pcaCtes},
       |$chain,
       |${b.result().mkString(",\n")},
       |${Pq.pqCtesFrom(rotNe)},
       |${Pq.pqErrorTailSql}""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "opq_error" -> (opqError _),
    "opq_m_error" -> (opqMError _))

  val oracles: Map[String, String] = Map(
    "opq_error" -> opqErrorSql,
    "opq_m_error" -> opqMErrorSql)
}
