package graft.ops

import graft.functions.OracleMath._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational substrate (SURVEY §2.B): aggregation, joins (broadcast
  * / sort-merge / semi / anti), windows, rollup, set ops, top-k —
  * each a Spark built-in so Catalyst owns the physical strategy, and
  * each paired with ANSI SQL for the DuckDB oracle.
  *
  * Scale notes per query are inline; the common rules: dims
  * (region, nation) are explicitly broadcast; fact-fact joins stay
  * sort-merge/shuffle-hash on their natural keys with AQE handling
  * skew; every aggregate uses the decimal bridge (OracleMath) so
  * results are partition-order independent.
  */
object Relational extends QueryModule {
  import Tables.t

  /** TPC-H Q1-style pricing summary: filter → 4-way sum + avg +
    * count per (returnflag, linestatus). Map-side partial agg over a
    * 2-group key; the shipdate filter pushes to the parquet scan. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem", resplit = true)
    li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue per (region, nation): lineitem ⋈ orders ⋈ customer ⋈
    * nation ⋈ region. nation/region broadcast explicitly (25/5
    * rows); lineitem⋈orders is the real shuffle and co-partitions on
    * orderkey; AQE picks broadcast for customer when it fits. */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Order-priority count over orders having a discounted line —
    * left-semi join (EXISTS), shuffle on orderkey. */
  def prioritySemi(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
      .filter(col("l_discount") > 0.05)
      .select(col("l_orderkey"))
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val prioritySemiSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Global top-10 orders by price with customer name — exact top-k
    * via TakeOrderedAndProject (no global sort). */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  val topOrdersSql: String =
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Top-3 customers by balance per nation — window row_number. */
  def topkPerNation(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rn"), col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("n_name"), col("rn"))
  }

  val topkPerNationSql: String =
    """SELECT n_name, CAST(rn AS BIGINT) AS rn, c_custkey, c_name, c_acctbal
      |FROM (SELECT c_custkey, c_name, c_acctbal, c_nationkey,
      |             row_number() OVER (PARTITION BY c_nationkey
      |                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      |      FROM customer) x
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE rn <= 3
      |ORDER BY n_name, rn""".stripMargin

  /** Rollup of customer balances over region → nation. Grouping
    * nulls are coalesced to 'ALL' so null-ordering differences
    * between engines cannot bite. */
  def rollupAcctbal(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(dsum(col("c_acctbal")).as("total_bal"), count(lit(1)).as("n_cust"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("total_bal"), col("n_cust"))
      .orderBy(col("region"), col("nation"))
  }

  val rollupAcctbalSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal,
      |  COUNT(*) AS n_cust
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** EXCEPT + INTERSECT of BUILDING-segment customers vs customers
    * with a >300k order, union-tagged. Distinct set semantics in
    * both engines. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val b = o.filter(col("o_totalprice") > 300000.0).select(col("o_custkey").as("c_custkey"))
    a.except(b).withColumn("op", lit("except"))
      .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
      .orderBy(col("op"), col("c_custkey"))
  }

  val setOpsSql: String =
    """SELECT c_custkey, 'except' AS op
      |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |      EXCEPT
      |      SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
      |UNION ALL
      |SELECT c_custkey, 'intersect' AS op
      |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |      INTERSECT
      |      SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
      |ORDER BY op, c_custkey""".stripMargin

  /** Customers with no high-value (>450k) order — left-anti join
    * (NOT EXISTS); the filter narrows the build side before the
    * anti-join shuffle. */
  def custNoOrders(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_totalprice") > 450000.0)
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val custNoOrdersSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  /** CUBE over (region, market segment): all four grouping
    * combinations in one pass (partial aggs expanded by Catalyst's
    * Expand operator — one shuffle total). */
  def cubeSegments(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_cust"), col("total_bal"))
      .orderBy(col("region"), col("segment"))
  }

  val cubeSegmentsSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |       COALESCE(c_mktsegment, 'ALL') AS segment,
      |       COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY region, segment""".stripMargin

  /** Exact distinct-count aggregation (two-phase distinct shuffle)
    * per order status: distinct customers and priorities. */
  def distinctCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
      .orderBy(col("o_orderstatus"))
  }

  val distinctCustomersSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |       COUNT(DISTINCT o_custkey) AS n_customers,
      |       COUNT(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** String-function surface: regexp capture, substring, case,
    * concat — over customer names, all codegen'd builtins. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.select(
        col("c_custkey"),
        upper(substring(col("c_name"), 1, 8)).as("pfx"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).cast("long").as("name_num"),
        length(col("c_name")).cast("long").as("name_len"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"))
      .orderBy(col("c_custkey"))
  }

  val stringFuncsSql: String =
    """SELECT c_custkey,
      |       upper(substr(c_name, 1, 8)) AS pfx,
      |       CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num,
      |       CAST(length(c_name) AS BIGINT) AS name_len,
      |       c_mktsegment || '|' || c_name AS tagged
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** Brand-level supplier/part analytics: the three-way fact⋈dim⋈dim
    * join over the remaining fixture tables; exact distinct supplier
    * counts per brand. */
  def supplierParts(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem", resplit = true)
    val p = t(s, dir, "part")
    val su = t(s, dir, "supplier")
    // no broadcast hint on supplier: unlike nation/region (fixed 25/5
    // rows), supplier grows linearly with scale factor — ~1B rows at
    // the 100 TB SF, far past any driver. AQE broadcasts it when the
    // measured size is actually small (it is, at fixture scale).
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        countDistinct(col("s_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        davg(col("p_retailprice")).as("avg_price"))
      .orderBy(col("p_brand"))
  }

  val supplierPartsSql: String =
    """SELECT p_brand, COUNT(*) AS n_items,
      |       COUNT(DISTINCT s_suppkey) AS n_suppliers,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** HLL sketch vs exact distinct (rows-only gate: HLL
    * implementations differ across engines; accuracy asserted in
    * tests instead). At 100 TB approx_count_distinct is the only
    * affordable per-key cardinality — single pass, fixed memory. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .orderBy(col("o_orderpriority"))
  }

  /** Explicit GROUPING SETS through the SQL surface (the DataFrame
    * API exposes only rollup/cube; `spark.sql` is also part of the
    * engine's public face). One Expand + one shuffle. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** Unpivot (wide→long, the inverse of q19's pivot): lineitem
    * measure columns melt into (measure, value) rows via the
    * native `unpivot` operator — a map-only Expand, no shuffle
    * until the aggregate. Oracle mirrors with UNION ALL, the
    * portable ANSI form. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem", resplit = true)
    li.select(col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy(col("measure"))
  }

  val unpivotMeasuresSql: String =
    """SELECT measure, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      |FROM (
      |  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT 'l_tax', l_tax FROM lineitem)
      |GROUP BY measure
      |ORDER BY measure""".stripMargin

  /** Correlated scalar subquery through the SQL surface: parts
    * priced above their brand's average. Catalyst DECORRELATES the
    * per-row subquery into an aggregate + join (no nested-loop
    * re-execution per outer row — the difference between O(n) and
    * O(n²) at scale); the decimal-bridged average keeps both
    * engines' comparisons bit-identical. */
  def correlatedSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql(
      """SELECT p_brand, COUNT(*) AS n_above
        |FROM part p1
        |WHERE p_retailprice > (
        |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
        |  FROM part p2 WHERE p2.p_brand = p1.p_brand)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
  }

  val correlatedSubquerySql: String =
    """SELECT p_brand, COUNT(*) AS n_above
      |FROM part p1
      |WHERE p_retailprice > (
      |  SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
      |  FROM part p2 WHERE p2.p_brand = p1.p_brand)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** LATERAL join: per-nation top-2 customers via a correlated
    * lateral subquery with ORDER BY + LIMIT — the per-row-subquery
    * phrasing of top-k-per-group. Catalyst decorrelates the lateral
    * limit into a window + join under the hood, so the plan is the
    * same shape as q05's explicit window, but the operator surface
    * (LateralJoin) is distinct and the phrasing is what SQL users
    * actually write. */
  def lateralTopPerNation(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation")
    t(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql(
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin)
  }

  val lateralTopPerNationSql: String =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_name, c_acctbal FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q28_lateral" -> (lateralTopPerNation _),
    "q25_correlated" -> (correlatedSubquery _),
    "q24_unpivot" -> (unpivotMeasures _),
    "q21_grouping_sets" -> (groupingSets _),
    "q17_supplier_parts" -> (supplierParts _),
    "approx_distinct" -> (approxDistinct _),
    "q13_cube_segments" -> (cubeSegments _),
    "q14_distinct_customers" -> (distinctCustomers _),
    "q15_string_funcs" -> (stringFuncs _),
    "q01_pricing_summary" -> (pricingSummary _),
    "q02_revenue_by_nation" -> (revenueByNation _),
    "q03_priority_semi" -> (prioritySemi _),
    "q04_top_orders" -> (topOrders _),
    "q05_topk_per_nation" -> (topkPerNation _),
    "q06_rollup_acctbal" -> (rollupAcctbal _),
    "q07_set_ops" -> (setOps _),
    "q08_cust_no_orders" -> (custNoOrders _))

  val oracles: Map[String, String] = Map(
    "q28_lateral" -> lateralTopPerNationSql,
    "q25_correlated" -> correlatedSubquerySql,
    "q24_unpivot" -> unpivotMeasuresSql,
    "q21_grouping_sets" -> groupingSetsSql,
    "q17_supplier_parts" -> supplierPartsSql,
    "q13_cube_segments" -> cubeSegmentsSql,
    "q14_distinct_customers" -> distinctCustomersSql,
    "q15_string_funcs" -> stringFuncsSql,
    "q01_pricing_summary" -> pricingSummarySql,
    "q02_revenue_by_nation" -> revenueByNationSql,
    "q03_priority_semi" -> prioritySemiSql,
    "q04_top_orders" -> topOrdersSql,
    "q05_topk_per_nation" -> topkPerNationSql,
    "q06_rollup_acctbal" -> rollupAcctbalSql,
    "q07_set_ops" -> setOpsSql,
    "q08_cust_no_orders" -> custNoOrdersSql)
}
