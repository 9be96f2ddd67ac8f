package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the most recent right row with
  * `right.ts <= left.ts` sharing the key. Spark lacks the operator;
  * per the preference order it is COMPOSED from built-ins (no custom
  * plan node needed): tag both sides, union, and run an
  * ignore-nulls `last()` window fill ordered by (ts, side) so a
  * right row at the exact same timestamp is visible to the left row
  * (inclusive semantics, matching SQL `<=`).
  *
  * Scale shape: ONE hash shuffle on the key and a per-key sort —
  * same cost as any windowed aggregation — versus the naive
  * per-left-row subquery (quadratic) or an unbounded range join.
  * Skewed keys follow the same mitigation as any window: pre-range
  * partition or salt by time bucket.
  */
object AsOf extends QueryModule {

  /** Left columns + `<prefix><payloadCol>` columns carrying the
    * as-of right values (null when no prior right row). If several
    * right rows share (key, ts), the survivor among them is
    * tie-broken by the payload ordering only if `rightTiebreak` is
    * given — pass one for full determinism when payloads differ. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      payloadCols: Seq[String],
      prefix: String = "asof_",
      rightTiebreak: Option[String] = None): DataFrame = {
    val prefixed = payloadCols.map(c => c -> s"$prefix$c")
    val rightTagged = prefixed
      .foldLeft(right.select((keyCol +: tsCol +: payloadCols).distinct.map(col): _*)) {
        case (df, (c, p)) => df.withColumnRenamed(c, p)
      }
      .withColumn("_side", lit(0))
    val leftTagged = left.withColumn("_side", lit(1))
    val unioned = leftTagged.unionByName(rightTagged, allowMissingColumns = true)
    val orderCols = col(tsCol) +: col("_side") +:
      rightTiebreak.map(c => col(s"$prefix$c")).toSeq
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = prefixed.foldLeft(unioned) { case (df, (_, p)) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_side")
  }

  /** For each error event, the most recent prior (or simultaneous)
    * click by the same user — the session-context enrichment shape
    * of log analytics. */
  def asofLastClick(s: SparkSession, dir: String): DataFrame = {
    val e = Events.eventsTable(s, dir)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
    asofJoin(errors, clicks, "user_id", "ts", Seq("click_ts"))
      .select(col("event_id"), col("user_id"),
        col("asof_click_ts").as("last_click_ts"))
      .orderBy(col("event_id"))
  }

  val asofLastClickSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |                  CAST(ts AS TIMESTAMP) AS ts FROM events)
      |SELECT e.event_id, e.user_id,
      |  (SELECT max(c.ts) FROM e c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts <= e.ts) AS last_click_ts
      |FROM e
      |WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_asof_last_click" -> (asofLastClick _))

  val oracles: Map[String, String] = Map(
    "q18_asof_last_click" -> asofLastClickSql)
}
