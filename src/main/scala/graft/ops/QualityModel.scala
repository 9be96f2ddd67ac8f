package graft.ops

import graft.functions.OracleMath.dsum
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — the "train a cheap classifier on a
  * weak label, score the whole corpus" step of LLM data curation
  * (the fastText-filter pattern), expressed as a distributed
  * CLOSED-FORM ridge regression:
  *
  *   w = (XᵀX + λI)⁻¹ Xᵀy
  *
  * with X = [1, ln(1+words), stopword-ratio] and the weak label
  * y = 1 iff the doc's mean word length is in the well-formed band
  * (the gopher mwl rule). The whole fit is ONE map-side-combined
  * aggregation producing the 3×3 Gram matrix and Xᵀy as nine
  * decimal-bridged sums (order-independent, DuckDB-recomputable),
  * then a Cramer solve on the driver — O(d²) data through the
  * driver, never the rows. At 100 TB the fit costs exactly one
  * aggregation pass; scoring is a map-only projection.
  *
  * Determinism bridge: features are r6-rounded before the Gram sums
  * (exact DECIMAL(38,6) accumulation), and the Cramer formulas are
  * written with IDENTICAL association order in Scala and SQL, so the
  * fitted weights are bit-identical across engines.
  */
object QualityModel extends QueryModule {
  import Tables.t

  val Ridge = 0.1
  val ScoredK = 10

  /** Per-doc design matrix + weak label. f2/f3 are r6-rounded (the
    * §8.5 bridge rule); y compares UNROUNDED doubles — identical
    * integer-derived ratios on both engines (gopher precedent). */
  private[graft] def featureFrame(s: SparkSession, dir: String): DataFrame =
    featuresOf(t(s, dir, "documents"))

  /** The feature projection on ANY (doc_id, text) relation — ONE
    * definition shared by the fit and the scoring pass. */
  private[graft] def featuresOf(d: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    val nw = size(w)
    val mwl = (length(col("text")) - nw + 1).cast("double") / nw
    d.select(
      col("doc_id"),
      r6(log((nw + lit(1)).cast("double"))).as("f2"),
      r6(size(filter(w, x => x.isInCollection(TextOps.Stopwords))).cast("double") / nw)
        .as("f3"),
      (mwl >= 3.0 && mwl <= 10.0).cast("int").as("y"))
  }

  /** One aggregation pass → Gram sums → Cramer solve. Returns
    * (w_intercept, w_logwords, w_stopratio) as raw doubles. */
  def fitWeights(s: SparkSession, dir: String): (Double, Double, Double) = {
    val f = featureFrame(s, dir)
    val row = f.agg(
      count(lit(1)).as("n"),
      dsum(col("f2")).as("s2"),
      dsum(col("f3")).as("s3"),
      dsum(r6(col("f2") * col("f2"))).as("s22"),
      dsum(r6(col("f2") * col("f3"))).as("s23"),
      dsum(r6(col("f3") * col("f3"))).as("s33"),
      sum(col("y")).cast("double").as("b1"),
      dsum(r6(col("f2") * col("y").cast("double"))).as("b2"),
      dsum(r6(col("f3") * col("y").cast("double"))).as("b3")).collect()(0)
    val n = row.getLong(0).toDouble
    val (s2, s3, s22, s23, s33) =
      (row.getDouble(1), row.getDouble(2), row.getDouble(3), row.getDouble(4),
        row.getDouble(5))
    val (b1, b2, b3) = (row.getDouble(6), row.getDouble(7), row.getDouble(8))
    // ridge-regularized normal equations; the formulas below are
    // mirrored CHARACTER-FOR-CHARACTER in the oracle CTEs (same
    // association order → same IEEE doubles)
    val a11 = n + Ridge; val a12 = s2; val a13 = s3
    val a22 = s22 + Ridge; val a23 = s23; val a33 = s33 + Ridge
    val det =
      a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * a23 - a22 * a13)
    val w1 =
      (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) +
        a13 * (b2 * a23 - a22 * b3)) / det
    val w2 =
      (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) +
        a13 * (a12 * b3 - b2 * a13)) / det
    val w3 =
      (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13) +
        b1 * (a12 * a23 - a22 * a13)) / det
    (w1, w2, w3)
  }

  /** The fitted coefficients, r6-rounded for the gate. */
  def qualityFit(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = fitWeights(s, dir)
    import s.implicits._
    Seq(("intercept", w1), ("log_words", w2), ("stop_ratio", w3))
      .toDF("feature", "w")
      .select(col("feature"), r6(col("w")).as("weight"))
      .orderBy(col("feature"))
  }

  /** Corpus scored by the fitted model: top-[[ScoredK]] docs by
    * predicted quality — the map-only projection pass (weights ride
    * along as literals; at scale this is scan → project → bounded
    * top-k, no shuffle beyond TakeOrdered's). */
  /** Map-only scoring of ANY (doc_id, text) relation under frozen
    * weights — the projection [[qualityScored]] applies. */
  private[graft] def scoreWith(
      d: DataFrame, w1: Double, w2: Double, w3: Double): DataFrame =
    featuresOf(d)
      .withColumn("quality",
        r6(lit(w1) + lit(w2) * col("f2") + lit(w3) * col("f3")))
      .select(col("doc_id"), col("quality"))

  def qualityScored(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = fitWeights(s, dir)
    scoreWith(t(s, dir, "documents"), w1, w2, w3)
      .orderBy(col("quality").desc, col("doc_id"))
      .limit(ScoredK)
  }

  // ---- oracle SQL ----

  private val stopList = TextOps.Stopwords.map("'" + _ + "'").mkString(", ")

  /** Features + the nine decimal-bridged sums + the Cramer solve as
    * CTEs — shared by both oracles. */
  private val fitCtes: String =
    s"""b AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    round(ln(len(w) + 1), 6) + 0 AS f2,
       |    round(CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w), 6) + 0 AS f3,
       |    CASE WHEN CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) >= 3.0
       |          AND CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) <= 10.0
       |         THEN 1 ELSE 0 END AS y
       |  FROM b),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(f2 AS DECIMAL(38,6))) AS DOUBLE) AS s2,
       |    CAST(SUM(CAST(f3 AS DECIMAL(38,6))) AS DOUBLE) AS s3,
       |    CAST(SUM(CAST(round(f2 * f2, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
       |    CAST(SUM(CAST(round(f2 * f3, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) AS s23,
       |    CAST(SUM(CAST(round(f3 * f3, 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) AS s33,
       |    CAST(SUM(y) AS DOUBLE) AS b1,
       |    CAST(SUM(CAST(round(f2 * CAST(y AS DOUBLE), 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) AS b2,
       |    CAST(SUM(CAST(round(f3 * CAST(y AS DOUBLE), 6) + 0 AS DECIMAL(38,6))) AS DOUBLE) AS b3
       |  FROM f),
       |aa AS (
       |  SELECT n + $Ridge AS a11, s2 AS a12, s3 AS a13,
       |    s22 + $Ridge AS a22, s23 AS a23, s33 + $Ridge AS a33,
       |    b1, b2, b3
       |  FROM sums),
       |dd AS (
       |  SELECT *,
       |    a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13) AS det
       |  FROM aa),
       |qw AS (
       |  SELECT
       |    (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
       |      + a13 * (b2 * a23 - a22 * b3)) / det AS w1,
       |    (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * b3 - b2 * a13)) / det AS w2,
       |    (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13)
       |      + b1 * (a12 * a23 - a22 * a13)) / det AS w3
       |  FROM dd)""".stripMargin

  val qualityFitSql: String =
    s"""WITH $fitCtes
       |SELECT feature, weight FROM (
       |  SELECT 'intercept' AS feature, round(w1, 6) + 0 AS weight FROM qw
       |  UNION ALL SELECT 'log_words', round(w2, 6) + 0 FROM qw
       |  UNION ALL SELECT 'stop_ratio', round(w3, 6) + 0 FROM qw)
       |ORDER BY feature""".stripMargin

  val qualityScoredSql: String =
    s"""WITH $fitCtes
       |SELECT doc_id, round(qw.w1 + qw.w2 * f.f2 + qw.w3 * f.f3, 6) + 0 AS quality
       |FROM f CROSS JOIN qw
       |ORDER BY quality DESC, doc_id
       |LIMIT $ScoredK""".stripMargin

  /** Newton/IRLS steps for [[logisticFit]] — two steps from w = 0
    * are the classic "almost-converged" point for a 3-parameter
    * model, and the oracle unrolls exactly this many. */
  val IrlsIters = 2

  /** Distributed LOGISTIC regression by IRLS — the actual functional
    * form of the fastText-class quality filters ([[fitWeights]]'s
    * ridge is the linear-probe stand-in; this is the real sigmoid
    * link): per Newton step, ONE aggregation pass produces the
    * μ(1−μ)-weighted Gram matrix and the gradient Xᵀ(y−μ) as nine
    * decimal-bridged sums, and the 3×3 solve happens on the driver
    * (the [[fitWeights]] Cramer text, verbatim). Per-row μ is the
    * sigmoid of the CURRENT driver weights riding the closure —
    * map-only, no shuffle beyond the aggregation's.
    *
    * Bridge: z and μ are r6-rounded images (the doremi exp()
    * precedent), every summand is r6-rounded before the
    * DECIMAL(38,6) sum, and the driver update formulas mirror the
    * oracle CTEs character-for-character — the fitted weights are
    * bit-identical across engines after two unrolled steps. */
  def logisticFitWeights(s: SparkSession, dir: String): (Double, Double, Double) = {
    val f = featureFrame(s, dir)
      .select(col("f2"), col("f3"), col("y").cast("double").as("y"))
    var w = (0.0, 0.0, 0.0)
    (1 to IrlsIters).foreach { _ =>
      val (w1, w2, w3) = w
      val z = r6(lit(w1) + lit(w2) * col("f2") + lit(w3) * col("f3"))
      val mu = r6(lit(1.0) / (lit(1.0) + exp(-z)))
      // all weighted summands are EXACT DECIMAL products of r6
      // images — rounding a double product here is forbidden: with
      // μ = 0.5 (iteration 1) every product is 0.25·f, which lands
      // exactly on the 1e-6 half boundary where Spark's string-
      // based HALF_UP and DuckDB's float round disagree (observed:
      // 5e-6 weight drift). DECIMAL(8,6) factors keep the 4-factor
      // product at precision 37 — never truncated.
      def d8(c: Column) = c.cast("decimal(8,6)")
      val muD = d8(mu)
      val omD = d8(lit(1.0) - mu)
      val ymD = d8(col("y") - mu)
      val f2D = d8(col("f2"))
      val f3D = d8(col("f3"))
      val row = f.agg(
        sum(muD * omD).cast("double").as("sa11"),
        sum(muD * omD * f2D).cast("double").as("sa12"),
        sum(muD * omD * f3D).cast("double").as("sa13"),
        sum(muD * omD * f2D * f2D).cast("double").as("sa22"),
        sum(muD * omD * f2D * f3D).cast("double").as("sa23"),
        sum(muD * omD * f3D * f3D).cast("double").as("sa33"),
        sum(ymD).cast("double").as("g1"),
        sum(ymD * f2D).cast("double").as("g2"),
        sum(ymD * f3D).cast("double").as("g3")).collect()(0)
      val a11 = row.getDouble(0) + Ridge
      val a12 = row.getDouble(1); val a13 = row.getDouble(2)
      val a22 = row.getDouble(3) + Ridge
      val a23 = row.getDouble(4)
      val a33 = row.getDouble(5) + Ridge
      val b1 = row.getDouble(6) - Ridge * w1
      val b2 = row.getDouble(7) - Ridge * w2
      val b3 = row.getDouble(8) - Ridge * w3
      val det =
        a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13) +
          a13 * (a12 * a23 - a22 * a13)
      val d1 =
        (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3) +
          a13 * (b2 * a23 - a22 * b3)) / det
      val d2 =
        (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13) +
          a13 * (a12 * b3 - b2 * a13)) / det
      val d3 =
        (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13) +
          b1 * (a12 * a23 - a22 * a13)) / det
      w = (w1 + d1, w2 + d2, w3 + d3)
    }
    w
  }

  /** Fitted logistic coefficients + training 0/1 accuracy (one more
    * map-only pass under the frozen weights — decision z > 0). */
  def logisticFit(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = logisticFitWeights(s, dir)
    val f = featureFrame(s, dir)
    val z = r6(lit(w1) + lit(w2) * col("f2") + lit(w3) * col("f3"))
    val acc = f.agg(r6(
        sum(when((z > 0).cast("int") === col("y"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("acc"))
      .head().getDouble(0)
    import s.implicits._
    import graft.functions.OracleMath.r6d
    Seq(("intercept", r6d(w1)), ("log_words", r6d(w2)),
      ("stop_ratio", r6d(w3)), ("train_acc", acc))
      .toDF("feature", "weight")
      .orderBy(col("feature"))
  }

  /** One IRLS step as oracle CTEs: per-row μ under the incoming
    * weights (`$win` = a 1-row CTE with w1/w2/w3), nine bridged
    * sums, the Cramer solve — emitted per unrolled iteration. */
  private def irlsStepSql(win: String, out: String): String =
    s"""l_mu_$out AS MATERIALIZED (
       |  SELECT
       |    CAST(f2 AS DECIMAL(8,6)) AS f2d,
       |    CAST(f3 AS DECIMAL(8,6)) AS f3d,
       |    CAST(mu AS DECIMAL(8,6)) AS mud,
       |    CAST(1.0 - mu AS DECIMAL(8,6)) AS omd,
       |    CAST(y - mu AS DECIMAL(8,6)) AS ymd
       |  FROM (
       |    SELECT f2, f3, CAST(y AS DOUBLE) AS y,
       |      round(1.0 / (1.0 + exp(-(round(w1 + w2 * f2 + w3 * f3, 6) + 0))), 6) + 0 AS mu
       |    FROM f CROSS JOIN $win)),
       |l_sums_$out AS (
       |  SELECT
       |    CAST(SUM(mud * omd) AS DOUBLE) AS sa11,
       |    CAST(SUM(mud * omd * f2d) AS DOUBLE) AS sa12,
       |    CAST(SUM(mud * omd * f3d) AS DOUBLE) AS sa13,
       |    CAST(SUM(mud * omd * f2d * f2d) AS DOUBLE) AS sa22,
       |    CAST(SUM(mud * omd * f2d * f3d) AS DOUBLE) AS sa23,
       |    CAST(SUM(mud * omd * f3d * f3d) AS DOUBLE) AS sa33,
       |    CAST(SUM(ymd) AS DOUBLE) AS g1,
       |    CAST(SUM(ymd * f2d) AS DOUBLE) AS g2,
       |    CAST(SUM(ymd * f3d) AS DOUBLE) AS g3
       |  FROM l_mu_$out),
       |l_h_$out AS (
       |  SELECT s.sa11 + $Ridge AS a11, s.sa12 AS a12, s.sa13 AS a13,
       |    s.sa22 + $Ridge AS a22, s.sa23 AS a23, s.sa33 + $Ridge AS a33,
       |    s.g1 - $Ridge * w.w1 AS b1, s.g2 - $Ridge * w.w2 AS b2,
       |    s.g3 - $Ridge * w.w3 AS b3,
       |    w.w1 AS pw1, w.w2 AS pw2, w.w3 AS pw3
       |  FROM l_sums_$out s CROSS JOIN $win w),
       |l_d_$out AS (
       |  SELECT *,
       |    a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * a23 - a22 * a13) AS det
       |  FROM l_h_$out),
       |$out AS MATERIALIZED (
       |  SELECT
       |    pw1 + (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
       |      + a13 * (b2 * a23 - a22 * b3)) / det AS w1,
       |    pw2 + (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
       |      + a13 * (a12 * b3 - b2 * a13)) / det AS w2,
       |    pw3 + (a11 * (a22 * b3 - a23 * b2) - a12 * (a12 * b3 - b2 * a13)
       |      + b1 * (a12 * a23 - a22 * a13)) / det AS w3
       |  FROM l_d_$out)""".stripMargin

  val logisticFitSql: String =
    s"""WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |f AS MATERIALIZED (
       |  SELECT doc_id,
       |    round(ln(len(w) + 1), 6) + 0 AS f2,
       |    round(CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w), 6) + 0 AS f3,
       |    CASE WHEN CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) >= 3.0
       |          AND CAST(length(text) - len(w) + 1 AS DOUBLE) / len(w) <= 10.0
       |         THEN 1 ELSE 0 END AS y
       |  FROM b),
       |l_w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${irlsStepSql("l_w0", "l_w1")},
       |${irlsStepSql("l_w1", "l_w2")},
       |l_acc AS (
       |  SELECT round(CAST(SUM(CASE WHEN
       |      CASE WHEN round(w1 + w2 * f2 + w3 * f3, 6) + 0 > 0 THEN 1 ELSE 0 END = y
       |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) + 0 AS acc
       |  FROM f CROSS JOIN l_w2)
       |SELECT feature, weight FROM (
       |  SELECT 'intercept' AS feature, round(w1, 6) + 0 AS weight FROM l_w2
       |  UNION ALL SELECT 'log_words', round(w2, 6) + 0 FROM l_w2
       |  UNION ALL SELECT 'stop_ratio', round(w3, 6) + 0 FROM l_w2
       |  UNION ALL SELECT 'train_acc', acc FROM l_acc)
       |ORDER BY feature""".stripMargin

  /** Residual bins below this stay in the drop-easy band (bin 0:
    * |resid| < 0.1 — the model already knows these docs cold, the
    * least informative training signal). */
  val EasyMaxBin = 0

  /** Residual bins at/above this flag as label-noise suspects
    * (|resid| ≥ 0.9: the weak label and the features flatly
    * disagree — the mislabeled tail EL2N-style pruning drops). */
  val NoiseMinBin = 9

  /** Hardness-based data pruning — the EL2N/data-diet table (Paul
    * et al. 2021: early-training error norm ranks example utility;
    * for a linear probe the error norm IS the absolute residual
    * |y − ŷ| under the frozen [[fitWeights]] ridge fit): bin the
    * corpus by residual into fixed 0.1-wide bins, drop the easy
    * band (redundant, bin ≤ [[EasyMaxBin]]) and the noise band
    * (mislabeled suspects, bin ≥ [[NoiseMinBin]]), keep the
    * informative middle. FIXED bins, not quantiles, on purpose: a
    * global ntile means a global sort at 100 TB, while the bin is a
    * map-side expression and the report ONE aggregation (the
    * fit costs its usual single Gram pass; the residual is r6'd
    * BEFORE binning so the bin edge inherits the same micro-unit
    * tolerance discipline as every other float bridge in the repo —
    * a raw-double floor would let a 1-ulp cross-engine difference
    * in the weights flip a doc across a 0.1 boundary).
    */
  def hardnessPruneReport(s: SparkSession, dir: String): DataFrame = {
    val (w1, w2, w3) = fitWeights(s, dir)
    featuresOf(t(s, dir, "documents"))
      .withColumn("e",
        round(abs(col("y").cast("double") -
          (lit(w1) + lit(w2) * col("f2") + lit(w3) * col("f3"))), 6))
      .withColumn("bin", least(floor(col("e") * 10).cast("int"), lit(9)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_weak_pos"))
      .select(col("bin"),
        r6(col("bin").cast("double") / 10).as("err_lo"),
        col("n_docs"), col("n_weak_pos"),
        (col("bin") > EasyMaxBin && col("bin") < NoiseMinBin).cast("int")
          .as("keep"))
      .orderBy(col("bin"))
  }

  /** Oracle mirror: the shared fit CTEs + the same residual binning
    * (prefix `hp_` for the additions). */
  val hardnessPruneReportSql: String =
    s"""WITH $fitCtes,
       |hp_e AS (
       |  SELECT f.y,
       |    least(CAST(floor(round(abs(CAST(f.y AS DOUBLE)
       |      - (qw.w1 + qw.w2 * f.f2 + qw.w3 * f.f3)), 6) * 10) AS INT), 9) AS bin
       |  FROM f CROSS JOIN qw)
       |SELECT bin, round(CAST(bin AS DOUBLE) / 10, 6) + 0 AS err_lo,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(y) AS BIGINT) AS n_weak_pos,
       |  CASE WHEN bin > $EasyMaxBin AND bin < $NoiseMinBin THEN 1 ELSE 0 END AS keep
       |FROM hp_e
       |GROUP BY bin
       |ORDER BY bin""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_fit" -> (qualityFit _),
    "quality_scored" -> (qualityScored _),
    "quality_logistic" -> (logisticFit _),
    "hardness_prune_report" -> (hardnessPruneReport _))

  val oracles: Map[String, String] = Map(
    "quality_fit" -> qualityFitSql,
    "quality_scored" -> qualityScoredSql,
    "quality_logistic" -> logisticFitSql,
    "hardness_prune_report" -> hardnessPruneReportSql)
}
