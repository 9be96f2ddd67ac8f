package graft.ops

import graft.functions.OracleMath._
import graft.functions.VectorFunctions.r6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` fixture: JSON
  * extraction, time-bucketed aggregation, lag-based sessionization
  * (SURVEY §2.B map/json + date/time + window rows).
  *
  * `events.ts` has shipped in two physical layouts across fixture
  * generations: nanosecond parquet (which Spark 4 rejects unless
  * `spark.sql.legacy.parquet.nanosAsLong` is on — read as long
  * nanos, floor-truncated to microseconds) and plain `timestamp[us]`
  * (read as TIMESTAMP_NTZ). [[eventsTable]] normalizes BOTH to a
  * session-zone TIMESTAMP (all harness sessions run UTC), the same
  * value DuckDB's `CAST(ts AS TIMESTAMP)` yields on either layout,
  * so every oracle casts consistently (FIXTURES.md note).
  */
object Events extends QueryModule {

  def eventsTable(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Floor division, not `div` (which truncates toward zero):
        // DuckDB's CAST(ns AS TIMESTAMP) floors, so pre-epoch negative
        // nanos must round down too. (ts - pmod(ts,1000)) div 1000 is
        // exact long floor-division — no double precision loss at 1e18.
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case _ =>
        // timestamp[us] layout: NTZ→TIMESTAMP is wall-clock identity
        // under the UTC session zone every harness session sets
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Per-event-type stats over a JSON-extracted field:
    * `get_json_object(props, '$.k')` (codegen'd path expression) —
    * the engine's `from_json`/path-extraction surface. */
  def eventsJson(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    e.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val eventsJsonSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) / COUNT(k) AS avg_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Hourly tumbling aggregation: count + exact-bridged value sum
    * per (hour, event_type). */
  def eventsHourly(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    e.groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  val eventsHourlySql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** Sessionization: a session break is a ≥30-minute silence per
    * user (lag window). One shuffle on user_id; gap arithmetic in
    * integral microseconds so both engines compare exactly. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        sum(col("new_sess")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val sessionizeSql: String =
    """SELECT user_id,
      |  CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM (SELECT user_id,
      |             CASE WHEN prev IS NULL
      |                    OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |                  THEN 1 ELSE 0 END AS new_sess
      |      FROM (SELECT user_id,
      |                   CAST(ts AS TIMESTAMP) AS ts,
      |                   lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      |            FROM events))
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Date/time-function surface: truncation, formatting, field
    * extraction, day-binned aggregation. Oracle mirrors Spark's
    * 1=Sunday day-of-week convention via DuckDB's 0=Sunday + 1. */
  def dateFuncs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    e.groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        dayofweek(col("ts")).cast("long").as("dow"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(hour(col("ts")).cast("long")).as("first_hour"),
        max(hour(col("ts")).cast("long")).as("last_hour"))
      .orderBy(col("day"))
  }

  val dateFuncsSql: String =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |       CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
      |       COUNT(*) AS n,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       CAST(MIN(hour(CAST(ts AS TIMESTAMP))) AS BIGINT) AS first_hour,
      |       CAST(MAX(hour(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_hour
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day""".stripMargin

  /** Pivot: daily event counts spread into one column per event
    * type. Explicit value list keeps the plan single-pass (no
    * distinct-values pre-query) and the output schema static —
    * mirrored as CASE sums in the oracle. */
  def eventsPivot(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val types = Seq("click", "error", "purchase", "signup", "view")
    e.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("day"))
  }

  val eventsPivotSql: String =
    """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** Window-function family sweep: lag/lead, rank, dense_rank,
    * percent_rank, ntile, cumulative sum — per-user event ordering. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.filter(col("user_id") < 20)
      .select(
        col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        row_number().over(w).cast("long").as("rn"),
        ntile(4).over(w).cast("long").as("quartile"),
        r6(percent_rank().over(w)).as("pct_rank"),
        sum(col("value").cast(DecimalType38_6)).over(cum).cast("double").as("running_value"))
      .orderBy(col("user_id"), col("rn"))
  }

  private val DecimalType38_6 = org.apache.spark.sql.types.DecimalType(38, 6)

  val windowFuncsSql: String =
    """SELECT user_id, event_id,
      |  lag(event_id) OVER w AS prev_event,
      |  lead(event_id) OVER w AS next_event,
      |  CAST(row_number() OVER w AS BIGINT) AS rn,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  round(percent_rank() OVER w, 6) + 0 AS pct_rank,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id
      |       ORDER BY CAST(ts AS TIMESTAMP), event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events
      |WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |ORDER BY user_id, rn""".stripMargin

  /** Banded range join (pure non-equi — no shared key): every
    * purchase is joined to ALL clicks in the preceding hour, keyed
    * by nothing but time. A naive non-equi join is a
    * broadcast-nested-loop — O(purchases × clicks), hopeless at
    * 100 TB. The scale plan buckets both sides to the band width
    * and equi-joins on the bucket: a click in [ts-band, ts] can
    * only live in the purchase's bucket or the one before, so the
    * purchase side explodes into exactly those two bucket keys and
    * the range predicate becomes a residual filter on a shuffled
    * HASH join — linear in rows, AQE-skew-safe, and the generic
    * recipe for any banded interval join (the band width just sets
    * the bucket size). */
  def rangeJoinBanded(s: SparkSession, dir: String,
      bandUs: Long = 3600000000L): DataFrame = {
    val e = eventsTable(s, dir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"),
        expr(s"unix_micros(ts) div $bandUs").as("b0"))
    val c = e.filter(col("event_type") === "click")
      .select(col("ts").as("cts"),
        expr(s"unix_micros(ts) div $bandUs").as("b"))
    p.withColumn("b", explode(array(col("b0"), col("b0") - 1)))
      .join(c, "b")
      .filter(unix_micros(col("cts")) >= unix_micros(col("ts")) - bandUs &&
        col("cts") <= col("ts"))
      .groupBy(col("event_id"), col("ts"))
      .agg(count(lit(1)).as("n_clicks"),
        max(unix_micros(col("cts"))).as("max_cts_us"))
      .select(col("event_id"), col("n_clicks"),
        (unix_micros(col("ts")) - col("max_cts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val rangeJoinBandedSql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |           FROM events),
      |p AS (SELECT event_id, ts FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT ts AS cts FROM e WHERE event_type = 'click')
      |SELECT p.event_id, COUNT(*) AS n_clicks,
      |  epoch_us(p.ts) - MAX(epoch_us(c.cts)) AS gap_us
      |FROM p JOIN c
      |  ON epoch_us(c.cts) >= epoch_us(p.ts) - 3600000000
      | AND c.cts <= p.ts
      |GROUP BY p.event_id, p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Map-function surface: `props` parsed to a real MAP column
    * (`from_json`), exploded to (key, value) rows, aggregated per
    * (event_type, key). Complements q09's path-extraction with the
    * generic map algebra (map_keys/explode over dynamic keys) a
    * schemaless-properties pipeline needs. */
  def mapFuncs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
    e.select(col("event_type"), explode(m).as(Seq("key", "val")))
      .groupBy(col("event_type"), col("key"))
      .agg(count(lit(1)).as("n"), min(col("val")).as("min_v"),
        max(col("val")).as("max_v"),
        countDistinct(col("val")).as("n_distinct"))
      .orderBy(col("event_type"), col("key"))
  }

  val mapFuncsSql: String =
    """SELECT event_type, key, COUNT(*) AS n,
      |  MIN(v) AS min_v, MAX(v) AS max_v, COUNT(DISTINCT v) AS n_distinct
      |FROM (SELECT event_type, u.key,
      |        CAST(json_extract(props, '$.' || u.key) AS BIGINT) AS v
      |      FROM events, UNNEST(json_keys(props)) AS u(key))
      |GROUP BY event_type, key
      |ORDER BY event_type, key""".stripMargin

  /** Native `session_window` in batch mode (the same operator the
    * streaming engine uses for gap sessions): per-user 30-minute-gap
    * sessions, then per-user session stats. Complements q11's
    * lag-based sessionization — same islands, computed by the
    * built-in operator instead of hand-rolled windows. BOUNDARY
    * (proven on the hostile fixture's exact-30-minute gaps): Spark
    * merges an event arriving exactly `gap` after the previous one
    * — each row's window is [ts, ts+gap) and sessions merge while
    * next.start <= current.end — so a NEW session needs a gap
    * STRICTLY greater than the timeout, the same `>` boundary as
    * the lag form. The oracle mirrors `>`. (An earlier docstring
    * claimed `>=`; the round-15 epoch-tie fixture disproved it.) */
  def sessionWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  val sessionWindowAggSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev IS NULL
      |           OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |               lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
      |                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      |        FROM events)),
      |sess AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, sid, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, sid)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  CAST(MAX(n_events) AS BIGINT) AS max_session_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Spark 4 VARIANT surface: `props` parsed once into the binary
    * semi-structured type (`parse_json`), fields then extracted with
    * `variant_get` path expressions — the modern replacement for
    * per-access string re-parsing on schemaless columns (the variant
    * encodes once, and every extraction is a binary walk, not a JSON
    * re-parse — the difference between O(fields) and O(fields ·
    * text) on a wide property bag at scale). */
  def variantExtract(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val v = parse_json(col("props"))
    e.select(col("event_type"),
        try_variant_get(v, "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val variantExtractSql: String =
    """SELECT event_type,
      |  COUNT(k) AS n_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** DataSketches HLL surface (Spark 4): per-type distinct-user
    * sketches, PLUS a global row computed by MERGING the per-type
    * sketch states (`hll_union_agg`) — re-aggregation without
    * touching raw data, which is why sketches beat exact distinct at
    * 100 TB: partial states are tiny, mergeable, and storable
    * alongside rollups. Rows-only gate (sketch binary is
    * engine-specific); EventsSpec bounds the estimates against
    * exact distinct counts. */
  def hllSketchUsers(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val perType = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val typed = perType.select(col("event_type"),
      hll_sketch_estimate(col("sk")).cast("long").as("approx_users"))
    val global = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("approx_users"))
      .select(lit("__all").as("event_type"), col("approx_users"))
    typed.unionByName(global).orderBy(col("event_type"))
  }

  /** Boolean/conditional aggregate family: bool_and, bool_or,
    * count_if over per-type predicates — the guard-rail aggregates a
    * data-quality dashboard runs (all values positive? any huge k?
    * how many nulls?). */
  def boolAggs(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
    e.groupBy(col("event_type"))
      .agg(
        bool_and(col("value") > 0).as("all_positive"),
        bool_or(col("k") > 90).as("any_k_gt90"),
        count_if(col("k").isNull).as("n_null_k"),
        count_if(col("value") > 5.0).as("n_hot"))
      .orderBy(col("event_type"))
  }

  val boolAggsSql: String =
    """SELECT event_type,
      |  bool_and(value > 0) AS all_positive,
      |  bool_or(k > 90) AS any_k_gt90,
      |  CAST(count_if(k IS NULL) AS BIGINT) AS n_null_k,
      |  CAST(count_if(value > 5.0) AS BIGINT) AS n_hot
      |FROM (SELECT event_type, value,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Conversion funnel view → click → purchase: per-user stage
    * timestamps via three unordered window aggregates over ONE
    * user_id partitioning (a single shuffle — each stage's min is
    * conditioned on the previous stage's time, the standard
    * windowed-funnel formulation), then a 3-row stage rollup.
    * All arithmetic is integral microseconds — exact in both
    * engines, no float bridge needed. */
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id"))
    val us = unix_micros(col("ts"))
    val perUser = e
      .withColumn("t1", min(when(col("event_type") === "view", us)).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && us > col("t1"), us)).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && us > col("t2"), us)).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
    perUser
      .select(explode(array(
        struct(lit(1L).as("step"), lit("view").as("stage"),
          col("t1").isNotNull.cast("long").as("reached"), lit(0L).as("lag_us")),
        struct(lit(2L).as("step"), lit("click").as("stage"),
          col("t2").isNotNull.cast("long").as("reached"),
          when(col("t2").isNotNull, col("t2") - col("t1")).otherwise(0L).as("lag_us")),
        struct(lit(3L).as("step"), lit("purchase").as("stage"),
          col("t3").isNotNull.cast("long").as("reached"),
          when(col("t3").isNotNull, col("t3") - col("t1")).otherwise(0L).as("lag_us"))))
        .as("x"))
      .groupBy(col("x.step").as("step"), col("x.stage").as("stage"))
      .agg(sum(col("x.reached")).as("n_users"), sum(col("x.lag_us")).as("total_lag_us"))
      .orderBy(col("step"))
  }

  val funnelStepsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |a AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
      |        OVER (PARTITION BY user_id) AS t1 FROM e),
      |b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us > t1 THEN us END)
      |        OVER (PARTITION BY user_id) AS t2 FROM a),
      |c AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us > t2 THEN us END)
      |        OVER (PARTITION BY user_id) AS t3 FROM b),
      |pu AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
      |       FROM c GROUP BY user_id)
      |SELECT 1 AS step, 'view' AS stage, CAST(COUNT(t1) AS BIGINT) AS n_users,
      |  CAST(0 AS BIGINT) AS total_lag_us FROM pu
      |UNION ALL
      |SELECT 2, 'click', CAST(COUNT(t2) AS BIGINT),
      |  CAST(SUM(CASE WHEN t2 IS NOT NULL THEN t2 - t1 ELSE 0 END) AS BIGINT) FROM pu
      |UNION ALL
      |SELECT 3, 'purchase', CAST(COUNT(t3) AS BIGINT),
      |  CAST(SUM(CASE WHEN t3 IS NOT NULL THEN t3 - t1 ELSE 0 END) AS BIGINT) FROM pu
      |ORDER BY step""".stripMargin

  /** Cohort retention: cohort = each user's first active day,
    * retention cell = distinct users active at each day offset. One
    * window (min day per user) + one distinct aggregation — the
    * canonical retention matrix at any scale. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id"))
    e.select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("cd", min(col("d")).over(w))
      .groupBy(
        date_format(col("cd"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("d"), col("cd")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
      |c AS (SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cd FROM e)
      |SELECT strftime(cd, '%Y-%m-%d') AS cohort_day,
      |  CAST(d - cd AS BIGINT) AS day_offset,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM c
      |GROUP BY cd, d - cd
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Hourly-rate anomaly detection per event type — the monitoring
    * query a log engine serves: z-score of each hour's event count
    * against that type's hourly distribution, |z| > 3 flagged.
    * Variance comes from exact integer sums
    * (n·Σc² − (Σc)²) / (n·(n−1)) — no float accumulation anywhere
    * before the final division, so the z-scores are bit-identical
    * across engines and partitionings. Stats are 5 rows → broadcast
    * join back onto the hourly counts. */
  /** Per-type hourly counts — the shared input of batch scoring and
    * the stats "training" pass. */
  private def hourlyCounts(e: DataFrame): DataFrame =
    e.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))

  /** Trained per-type stats (exact integer sums) for z-scoring. */
  def hourlyStats(s: SparkSession, dir: String): DataFrame =
    hourlyCounts(eventsTable(s, dir)).groupBy(col("event_type"))
      .agg(count(lit(1)).as("nh"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))

  /** z of a count column against (nh, sc, scc) stats columns. */
  def zScore(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val num = col("nh") * col("scc") - col("sc") * col("sc")
    val denom = col("nh") * (col("nh") - 1)
    val mean = col("sc").cast("double") / col("nh")
    when(col("nh") > 1 && num > 0,
      r6((c.cast("double") - mean) / sqrt(num.cast("double") / denom)))
      .otherwise(lit(0.0))
  }

  def rateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(eventsTable(s, dir))
    hourly.join(broadcast(hourlyStats(s, dir)), "event_type")
      .select(col("hour"), col("event_type"), col("c").as("n"),
        zScore(col("c")).as("z"))
      .withColumn("is_anomaly", (abs(col("z")) > 3.0).cast("int"))
      .orderBy(col("hour"), col("event_type"))
  }

  val rateAnomalySql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, COUNT(*) AS nh, SUM(c) AS sc, SUM(c * c) AS scc
      |  FROM h GROUP BY 1),
      |scored AS (
      |  SELECT hour, h.event_type, c AS n,
      |    CASE WHEN nh > 1 AND nh * scc - sc * sc > 0
      |      THEN round((CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nh)
      |             / sqrt(CAST(nh * scc - sc * sc AS DOUBLE) / (nh * (nh - 1))), 6) + 0
      |      ELSE 0.0 END AS z
      |  FROM h JOIN s USING (event_type))
      |SELECT hour, event_type, n, z,
      |  CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END AS is_anomaly
      |FROM scored
      |ORDER BY hour, event_type""".stripMargin

  /** Partition-skew diagnostic — what you run BEFORE tuning a
    * 100 TB shuffle: per-key weight of the heaviest join/agg keys,
    * their share of total rows, and the skew ratio vs the mean key.
    * Share/ratio arithmetic is exact-integer-division-ordered so the
    * oracle matches bitwise. */
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val counts = e.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("c")).as("total"))
    counts.crossJoin(broadcast(stats))
      .withColumn("share", r6(col("c").cast("double") / col("total")))
      .withColumn("skew_ratio",
        r6(col("c").cast("double") / (col("total").cast("double") / col("n_keys"))))
      .select(col("user_id"), col("c").as("n_rows"), col("share"), col("skew_ratio"))
      .orderBy(col("n_rows").desc, col("user_id"))
      .limit(20)
  }

  val skewReportSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
      |s AS (SELECT COUNT(*) AS n_keys, SUM(c) AS total FROM c)
      |SELECT user_id, c AS n_rows,
      |  round(CAST(c AS DOUBLE) / total, 6) + 0 AS share,
      |  round(CAST(c AS DOUBLE) / (CAST(total AS DOUBLE) / n_keys), 6) + 0 AS skew_ratio
      |FROM c, s
      |ORDER BY n_rows DESC, user_id
      |LIMIT 20""".stripMargin

  /** Dense hourly series per event type — gap filling: the hour
    * spine is generated from the observed min/max (a broadcast 1-row
    * aggregate), cross-joined with the type dimension, and
    * left-joined onto the sparse counts so silent hours appear as
    * explicit zeros (a monitoring dashboard's contract; also what
    * makes window/lag analytics over the series correct). */
  def hourlyDense(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val hourly = e.groupBy(
        date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val span = hourly.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val spine = span.select(explode(
      expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val types = hourly.select(col("event_type")).distinct()
    spine.crossJoin(types)
      .join(hourly, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("n"))
      .orderBy(col("hour"), col("event_type"))
  }

  val hourlyDenseSql: String =
    """WITH h AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT unnest(generate_series(MIN(hour), MAX(hour), INTERVAL 1 HOUR)) AS hour
      |  FROM h),
      |types AS (SELECT DISTINCT event_type FROM h)
      |SELECT s.hour, t.event_type, CAST(coalesce(h.c, 0) AS BIGINT) AS n
      |FROM spine s CROSS JOIN types t
      |LEFT JOIN h ON h.hour = s.hour AND h.event_type = t.event_type
      |ORDER BY s.hour, t.event_type""".stripMargin

  /** Event-type transition matrix — the Markov view of user
    * journeys a funnel definition is calibrated against: for every
    * ordered pair of consecutive events OF THE SAME USER, count the
    * (from_type → to_type) transition and report the row-conditional
    * probability P(to | from). `funnel_steps` asks "how many users
    * complete the path we designed"; this asks "what paths do users
    * actually take" — the matrix is what tells you the funnel's
    * step 2 is wrong.
    *
    * Determinism: consecutive-ness is the (ts, event_id) order — the
    * repo's explicit tie-break, exercised by the hostile fixture's
    * identical-timestamp tie clusters. Probabilities are micro-unit
    * HALF_UP ratios of exact BIGINT counts.
    *
    * Scale shape: ONE user-keyed window (the same exchange q11's
    * sessionize shuffles — at 100 TB this is the events family's one
    * unavoidable shuffle, and every per-user op shares its key);
    * the pair aggregation partial-aggregates map-side; the row
    * totals ride a window over the AGGREGATED |types|² relation
    * (kilobytes at any corpus size). */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val e = eventsTable(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = e
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy(col("from_type"))
    pairs
      .withColumn("row_total", sum(col("n")).over(wt))
      .select(col("from_type"), col("to_type"), col("n"),
        (expr("(2 * n * 1000000 + row_total) div (2 * row_total)")
          .cast("double") / 1e6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Oracle mirror (prefix `etr_`): identical (ts, event_id) order
    * and HALF_UP micro-unit conditional probability. */
  val eventTransitionsSql: String =
    """WITH etr_n AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |etr_c AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM etr_n WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST((2 * n * 1000000 + SUM(n) OVER (PARTITION BY from_type))
      |       // (2 * SUM(n) OVER (PARTITION BY from_type)) AS DOUBLE) / 1000000.0 AS p
      |FROM etr_c
      |ORDER BY from_type, to_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "event_transitions" -> (eventTransitions _),
    "skew_report" -> (skewReport _),
    "hourly_dense" -> (hourlyDense _),
    "rate_anomaly" -> (rateAnomaly _),
    "funnel_steps" -> (funnelSteps _),
    "cohort_retention" -> (cohortRetention _),
    "q29_bool_aggs" -> (boolAggs _),
    "hll_sketch_users" -> (hllSketchUsers _),
    "q27_variant" -> (variantExtract _),
    "q26_session_window" -> (sessionWindowAgg _),
    "q23_map_funcs" -> (mapFuncs _),
    "q22_range_join" -> ((s, d) => rangeJoinBanded(s, d)),
    "q19_events_pivot" -> (eventsPivot _),
    "q20_window_funcs" -> (windowFuncs _),
    "q16_date_funcs" -> (dateFuncs _),
    "q09_events_json" -> (eventsJson _),
    "q10_events_hourly" -> (eventsHourly _),
    "q11_sessionize" -> (sessionize _))

  val oracles: Map[String, String] = Map(
    "event_transitions" -> eventTransitionsSql,
    "skew_report" -> skewReportSql,
    "hourly_dense" -> hourlyDenseSql,
    "rate_anomaly" -> rateAnomalySql,
    "funnel_steps" -> funnelStepsSql,
    "cohort_retention" -> cohortRetentionSql,
    "q29_bool_aggs" -> boolAggsSql,
    "q27_variant" -> variantExtractSql,
    "q26_session_window" -> sessionWindowAggSql,
    "q23_map_funcs" -> mapFuncsSql,
    "q22_range_join" -> rangeJoinBandedSql,
    "q19_events_pivot" -> eventsPivotSql,
    "q20_window_funcs" -> windowFuncsSql,
    "q16_date_funcs" -> dateFuncsSql,
    "q09_events_json" -> eventsJsonSql,
    "q10_events_hourly" -> eventsHourlySql,
    "q11_sessionize" -> sessionizeSql)
}
