package graft.ops

import graft.functions.CrossHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) —
  * the deterministic counterpart to the HLL/KLL sketch family
  * already registered: a [[Depth]]×[[Width]] counter table where
  * `cnt[i][h_i(x) % Width]` accumulates every occurrence of `x`, and
  * the point estimate is `min_i cnt[i][h_i(x)]` — an OVERESTIMATE
  * bounded by collisions, never an undercount. Unlike HLL/KLL whose
  * binary sketch states are engine-specific (rows-only gates), CMS
  * is pure modular arithmetic on the cross-engine md5 hash, so the
  * whole sketch — build, merge, estimate, top-k — replays exactly in
  * DuckDB and gets a full hash-match oracle.
  *
  * Shape at 100 TB:
  *   - the SKETCH is a [[Depth]]×[[Width]] table — fixed model
  *     capacity like k-means centroids or the DSIR bucket models, so
  *     the broadcast hint is safe at any corpus size; counters sum
  *     per-partition map-side and merge by addition (the property
  *     that makes CMS the streaming/distributed counter of choice);
  *   - corpus passes: ONE (the token-count aggregation the engine
  *     already materializes for unigram models); the sketch reduces
  *     from the vocab relation (Depth rows per DISTINCT token, not
  *     per occurrence);
  *   - the candidate side here enumerates the vocab relation
  *     (hint-free join keyed on (i,b) — vocab-sized, the
  *     tfidf_top_terms rule); a true streaming deployment would pair
  *     the sketch with a bounded candidate heap instead, which is
  *     exactly [[graft.functions.TopKPairs]] — composition, not new
  *     machinery. Top-k is TakeOrderedAndProject — no global sort.
  *
  * All arithmetic is exact integers — no decimal bridge needed.
  */
object Cms extends QueryModule {
  import Tables.t

  /** Independent hash rows. Pr[overestimate > ε·N] ≤ (1/2)^Depth. */
  val Depth = 4

  /** Counters per row. Expected overestimate ≤ N/Width per cell. */
  val Width = 256

  val TopK = 15

  /** (tok, exact_cnt, i, b): every distinct token crossed with the
    * [[Depth]] hash rows, carrying its exact corpus count — the one
    * relation both the sketch build and the estimate join reduce
    * from. */
  private def cells(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val vocab = d
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    vocab
      .select(col("tok"), col("exact_cnt"),
        explode(sequence(lit(0), lit(Depth - 1))).as("i"))
      .withColumn("b", CrossHash.md5Hash60Col(
        concat(col("tok"), lit(":cms"), col("i").cast("string"))) % Width)
  }

  /** Heavy hitters by CMS estimate: (tok, exact_cnt, est) with
    * est ≥ exact_cnt always (the CMS guarantee, spec-asserted);
    * ranked by the ESTIMATE — what a sketch-only deployment sees. */
  def cmsTopk(s: SparkSession, dir: String): DataFrame = {
    val c = cells(s, dir)
    // Depth×Width rows by construction — parameter-bounded, so the
    // broadcast hint is safe at any corpus size (the centroid rule)
    val sketch = c.groupBy(col("i"), col("b"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    c.join(broadcast(sketch), Seq("i", "b"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est"))
      .select(col("tok"), col("exact_cnt"), col("est"))
      .orderBy(col("est").desc, col("tok"))
      .limit(TopK)
  }

  val cmsTopkSql: String = {
    val h = CrossHash.sqlHash60("tok || ':cms' || CAST(i AS VARCHAR)")
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
       |cells AS (
       |  SELECT tok, exact_cnt, i, $h % $Width AS b
       |  FROM vocab, UNNEST(range(0, $Depth)) AS r(i)),
       |sketch AS (SELECT i, b, SUM(exact_cnt) AS cnt FROM cells GROUP BY i, b)
       |SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |  CAST(MIN(cnt) AS BIGINT) AS est
       |FROM cells JOIN sketch USING (i, b)
       |GROUP BY tok, exact_cnt
       |ORDER BY est DESC, tok
       |LIMIT $TopK""".stripMargin
  }

  // ---- width operating curve ----

  /** Widths the sweep evaluates, [[Depth]] fixed — the capacity knob
    * a deployment sizes against its distinct-key count: expected
    * overestimate per cell is N/Width, so undersizing shows up as
    * count inflation, not as an error anyone is told about. The
    * fixture vocabulary (31 word-soup tokens at every SF)
    * deliberately crowds 16 counters (~2 tokens per counter per row
    * expected), grazes 64, and spreads clean at the registered
    * 256. */
  val CmsSweepWidths: Seq[Int] = Seq(16, 64, 256)

  /** Measured CMS accuracy curve per width — the bloom_fp_sweep
    * pattern pointed at the counter sketch: for each width, total
    * and worst-case count inflation (est − exact, summed and maxed
    * over the vocabulary) and how many tokens the sketch counts
    * EXACTLY. All outputs are exact BIGINT arithmetic on the shared
    * md5 hash family — no float bridge anywhere, fully oracle-gated.
    *
    * Scale shape: the [[Depth]] per-token hashes are computed ONCE
    * (the same md5 stream `cms_topk` uses); `% w` per grid cell is
    * free arithmetic, so the whole grid rides one vocab-bounded cell
    * relation. Each width's sketch is Depth×w counters — parameter-
    * bounded, broadcast-safe (the centroid rule); the estimate join
    * and the final per-width aggregation are vocab-sized, never
    * corpus-sized. Explicit-grid totality on an empty corpus. */
  def cmsWidthSweep(s: SparkSession, dir: String): DataFrame =
    cmsWidthSweepOf(t(s, dir, "documents"))

  /** The sweep over ANY (doc_id, text) relation — the relation-form
    * convention. */
  def cmsWidthSweepOf(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val vocab = d
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    val hashed = vocab
      .select(col("tok"), col("exact_cnt"),
        explode(sequence(lit(0), lit(Depth - 1))).as("i"))
      .withColumn("h", CrossHash.md5Hash60Col(
        concat(col("tok"), lit(":cms"), col("i").cast("string"))))
    val cellsW = CmsSweepWidths.toDF("w")
      .crossJoin(hashed)
      .withColumn("b", col("h") % col("w"))
    val sketchW = cellsW.groupBy(col("w"), col("i"), col("b"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    val est = cellsW.join(broadcast(sketchW), Seq("w", "i", "b"))
      .groupBy(col("w"), col("tok"), col("exact_cnt"))
      .agg(min(col("cnt")).as("est"))
    val agg = est.groupBy(col("w"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("est") - col("exact_cnt")).as("overest_total"),
        max(col("est") - col("exact_cnt")).as("overest_max"),
        sum(when(col("est") === col("exact_cnt"), 1L).otherwise(0L)).as("n_exact"))
    CmsSweepWidths.toDF("w")
      .join(agg, Seq("w"), "left")
      .select(col("w").cast("long").as("width"),
        (lit(Depth.toLong) * col("w")).cast("long").as("n_cells"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("overest_total"), lit(0L)).as("overest_total"),
        coalesce(col("overest_max"), lit(0L)).as("overest_max"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .orderBy(col("width"))
  }

  /** Oracle mirror: one MATERIALIZED hash CTE, the width grid as a
    * `% w` projection of it, exact integer aggregation per width. */
  val cmsWidthSweepSql: String = {
    val h = CrossHash.sqlHash60("tok || ':cms' || CAST(i AS VARCHAR)")
    val grid = CmsSweepWidths.map(w => s"($w)").mkString(", ")
    s"""WITH cw_t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |cw_v AS (SELECT tok, COUNT(*) AS exact_cnt FROM cw_t GROUP BY tok),
       |cw_h AS MATERIALIZED (
       |  SELECT tok, exact_cnt, i, $h AS h
       |  FROM cw_v, UNNEST(range(0, $Depth)) AS r(i)),
       |cw_c AS MATERIALIZED (
       |  SELECT w, tok, exact_cnt, i, h % w AS b
       |  FROM (VALUES $grid) ws(w), cw_h),
       |cw_s AS (SELECT w, i, b, SUM(exact_cnt) AS cnt FROM cw_c GROUP BY w, i, b),
       |cw_e AS (
       |  SELECT w, tok, exact_cnt, MIN(cnt) AS est
       |  FROM cw_c JOIN cw_s USING (w, i, b)
       |  GROUP BY w, tok, exact_cnt),
       |cw_a AS (
       |  SELECT w, COUNT(*) AS n_tokens,
       |    SUM(est - exact_cnt) AS overest_total,
       |    MAX(est - exact_cnt) AS overest_max,
       |    SUM(CASE WHEN est = exact_cnt THEN 1 ELSE 0 END) AS n_exact
       |  FROM cw_e GROUP BY w)
       |SELECT CAST(ws.w AS BIGINT) AS width,
       |  CAST($Depth * ws.w AS BIGINT) AS n_cells,
       |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(a.overest_total, 0) AS BIGINT) AS overest_total,
       |  CAST(COALESCE(a.overest_max, 0) AS BIGINT) AS overest_max,
       |  CAST(COALESCE(a.n_exact, 0) AS BIGINT) AS n_exact
       |FROM (VALUES $grid) ws(w)
       |LEFT JOIN cw_a a ON a.w = ws.w
       |ORDER BY width""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cms_topk" -> (cmsTopk _),
    "cms_width_sweep" -> (cmsWidthSweep _))

  val oracles: Map[String, String] = Map(
    "cms_topk" -> cmsTopkSql,
    "cms_width_sweep" -> cmsWidthSweepSql)
}
