package graft.ops

import graft.functions.CrossHash
import graft.functions.OracleMath
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al.,
  * NeurIPS 2023): score every raw document by how much it looks like
  * a TARGET domain, using hashed n-gram bucket counts as the feature
  * space, then resample ∝ the importance weights. The published
  * pretraining-data-selection recipe: fit two bag-of-buckets unigram
  * models (target vs raw), per-doc log importance weight
  * log w(x) = Σ_b c_b(x)·(log p_t(b) − log p_r(b)), select via
  * Gumbel-top-k (sampling without replacement ∝ softmax(log w) —
  * the Gumbel-max trick makes "sample" a deterministic ORDER BY once
  * the noise is a hash of the doc id).
  *
  * Target domain here: `lang = 'en'` documents (the fixture's stand-in
  * for "high-quality target corpus"); features are unigrams AND
  * word-bigrams hashed into [[Buckets]] buckets with the cross-engine
  * md5 hash, add-1 smoothed.
  *
  * Shape at 100 TB — the reason DSIR beats classifier-based selection
  * at scale:
  *   - the MODEL is two [[Buckets]]-row count tables (a fixed
  *     parameter, NOT corpus-sized) — broadcast like k-means
  *     centroids, so scoring is one map-side join;
  *   - corpus passes: ONE explode (2 features/token) into ONE
  *     (doc_id, bucket) map-side-combined aggregation; the bucket
  *     marginals reduce from that same frame (≤ [[Buckets]] groups);
  *   - scoring + Gumbel keys are map-only; the top-k is
  *     TakeOrderedAndProject — no global sort, no shuffle of scores.
  * Per-feature contributions are r6-rounded then decimal-summed
  * (§8.5 bridge), so the fold is partition-order-free and the whole
  * pipeline — hash, smoothing, ln, Gumbel — replays exactly in DuckDB.
  */
object Dsir extends QueryModule {
  import Tables.t

  /** Hashed feature-space size. Fixed model capacity (the paper uses
    * 10k for web scale): the count tables never exceed this, whatever
    * the corpus size — that bound is what justifies the broadcast. */
  val Buckets = 512

  /** Gumbel-noise modulus: 2^50 keeps `h % TwoPow50 + 0.5` exactly
    * representable in a double (< 2^53), so u ∈ (0,1) strictly and
    * bitwise-identical across engines. */
  val TwoPow50 = 1125899906842624L

  val SampleK = 5

  /** Per-doc hashed-feature bucket counts (doc_id, lang, b, c), the
    * single corpus pass every downstream table reduces from. */
  private def docBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents", resplit = true)
    val feats = d.select(col("doc_id"), col("lang"),
      explode(expr(
        """concat(split(text, ' '),
          |       zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |                slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |                (a, b) -> concat(a, ' ', b)))""".stripMargin)).as("feat"))
    feats
      .withColumn("b", CrossHash.md5Hash60Col(col("feat")) % Buckets)
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** All docs scored: doc_id, lang, n_feats, logw (importance log
    * weight against the `lang='en'` target model). */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    // DSIR is a fit-then-score pipeline: the doc-bucket counts feed
    // the model fit AND the scoring join, and the model feeds its own
    // total. Unchecked, each reference re-expands the explode+md5
    // lineage — the r15-measured plan evaluated the feature pass
    // THREE times (20 Exchanges / 6 scans). Materializing dfb once
    // (eager localCheckpoint — at scale this is the doc×bucket count
    // table a real two-pass DSIR run would persist between fit and
    // score anyway; ≤ Buckets narrow rows per doc) and the ≤ Buckets-
    // row model once makes the physical job the designed two passes.
    val dfb = docBuckets(s, dir).localCheckpoint(true)
    // both marginals in ONE conditional aggregation, so the model fit
    // costs a single evaluation of the explode+count lineage instead
    // of two. ≤ Buckets rows by construction — the fixed-capacity
    // model table (centroid rule: parameter-bounded, so the hint is
    // safe at any corpus size; vocab-sized tables stay hint-free)
    val model = dfb.groupBy(col("b")).agg(
      sum(col("c")).as("cr"),
      sum(when(col("lang") === "en", col("c")).otherwise(lit(0L))).as("ct"))
      .localCheckpoint(true)
    val tot = model.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    dfb.join(broadcast(model), "b")
      .crossJoin(broadcast(tot))
      .withColumn("term", r6(col("c") * log(
        ((col("ct") + 1).cast("double") * (col("tr") + lit(Buckets)).cast("double")) /
          ((col("cr") + 1).cast("double") * (col("tt") + lit(Buckets)).cast("double")))))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_feats"), OracleMath.dsum(col("term")).as("s"))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        r6(col("s")).as("logw"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       |f AS (SELECT doc_id, lang,
       |        unnest(list_concat(w,
       |          list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS feat
       |      FROM w),
       |dfb AS (SELECT doc_id, lang,
       |          ${CrossHash.sqlHash60("feat")} % $Buckets AS b, COUNT(*) AS c
       |        FROM f GROUP BY 1, 2, 3),
       |model AS (SELECT b, SUM(c) AS cr,
       |            SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
       |          FROM dfb GROUP BY b),
       |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM model),
       |terms AS (
       |  SELECT doc_id, lang, c,
       |    round(c * ln((CAST(ct + 1 AS DOUBLE) * CAST(tr + $Buckets AS DOUBLE)) /
       |                 (CAST(cr + 1 AS DOUBLE) * CAST(tt + $Buckets AS DOUBLE))), 6) + 0 AS term
       |  FROM dfb JOIN model USING (b) CROSS JOIN tot)
       |SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_feats,
       |  round(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 6) + 0 AS logw
       |FROM terms GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin

  /** The resampling half: Gumbel-top-[[SampleK]] over the importance
    * weights — sampling without replacement ∝ softmax(logw), with the
    * Gumbel noise g = −ln(−ln(u)) derived from a hash of the doc id
    * so the draw is deterministic and cross-engine replayable. */
  def dsirSample(s: SparkSession, dir: String): DataFrame = {
    val u = ((CrossHash.md5Hash60Col(
      concat(col("doc_id").cast("string"), lit(":dsir"))) % TwoPow50)
      .cast("double") + 0.5) / lit(TwoPow50).cast("double")
    dsirWeights(s, dir)
      .withColumn("gkey", r6(col("logw") + -log(-log(u))))
      .select(col("doc_id"), col("lang"), col("logw"), col("gkey"))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(SampleK)
  }

  val dsirSampleSql: String = {
    val h = CrossHash.sqlHash60("CAST(doc_id AS VARCHAR) || ':dsir'")
    s"""WITH wts AS (${dsirWeightsSql.replace("ORDER BY doc_id", "")})
       |SELECT doc_id, lang, logw,
       |  round(logw + -ln(-ln((CAST($h % $TwoPow50 AS DOUBLE) + 0.5)
       |                       / CAST($TwoPow50 AS DOUBLE))), 6) + 0 AS gkey
       |FROM wts
       |ORDER BY gkey DESC, doc_id
       |LIMIT $SampleK""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> (dsirWeights _),
    "dsir_sample" -> (dsirSample _))

  val oracles: Map[String, String] = Map(
    "dsir_weights" -> dsirWeightsSql,
    "dsir_sample" -> dsirSampleSql)
}
