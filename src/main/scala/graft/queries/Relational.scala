package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator surface (SURVEY.md §2.B): scans, filters/projections,
  * joins (inner/semi/anti/broadcast/range/as-of), aggregations (partial+final
  * hash agg, distinct, rollup/cube/grouping sets), windows, sorts/limits/top-k,
  * set ops, scalar functions (string/date/math/json).
  *
  * The reference (mcapuccini/MaRe) performs all of these *inside containers*
  * (e.g. `grep`/`awk` over partition files, MaReTest.scala:47,52); here they are
  * first-class Catalyst plans so pushdown/pruning/codegen apply.
  *
  * Scale notes (100 TB design):
  *  - dimension joins (`nation`, `region`, `part`, `supplier`, small derived
  *    dims) are explicitly `broadcast(...)` — no shuffle of the fact table;
  *  - fact-fact joins shuffle on the join key once; AQE handles skew;
  *  - aggregates rely on Spark's partial (map-side) + final hash aggregation;
  *  - every query filters/projects before joining so parquet scans prune
  *    columns and push predicates.
  *
  * Determinism note: every oracle-checked output rounds floating aggregates to
  * the *exact decimal grid* of the data (prices have 2 decimals, discount/tax 2,
  * so price*(1-disc) is exact at 4, *(1+tax) at 6). On-grid rounding keeps the
  * true value far (>=5e-5) from the rounding boundary, so Spark's and DuckDB's
  * independently-accumulated float sums (error ~1e-9) round to the same double.
  * Averages are computed as round(sum, grid)/count so both engines divide
  * bitwise-identical numerators.
  */
object Relational {

  /** TPC-H Q1 shape: scan → filter (pushed to parquet) → hash agg → sort.
    *
    * Money sums go through exact DECIMAL arithmetic (cast the 2-decimal
    * inputs, multiply — scales add exactly — sum, THEN cast the exact result
    * to double). Float accumulation + rounding breaks down once |sum|·grid
    * approaches the double ulp (at sf0.1, sum_charge ≈ 2.8e9 has ulp 4.8e-7
    * against a 1e-6 grid); exact decimal sums are equal in both engines at
    * every scale factor, and the final decimal→double conversion is the same
    * nearest-double on both sides. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val price = $"l_extendedprice".cast("decimal(12,2)")
    val disc = $"l_discount".cast("decimal(4,2)")
    val tax = $"l_tax".cast("decimal(4,2)")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 0).as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1).cast("decimal(3,2)") - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1).cast("decimal(3,2)") - disc) *
          (lit(1).cast("decimal(3,2)") + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round($"sum_qty" / $"count_order", 6))
      .withColumn("avg_price", round($"sum_base_price" / $"count_order", 6))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 0) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) *
      |           (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order,
      |  round(round(sum(l_quantity), 0) / count(*), 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_price
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Projection + filter: both must reach the parquet scan (PushedFilters). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_quantity" > 45 && $"l_discount" >= 0.05 && $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** 3-way join: lineitem ⋈ orders (shuffle on orderkey) ⋈ customer
    * (customer side broadcast — it is ~1e-4 of lineitem). Revenue by segment. */
  def q03JoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", ($"l_extendedprice".cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)"))).as("rev"))
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sum($"rev").cast("double").as("revenue"), count(lit(1)).as("n_items"))
      .orderBy($"c_mktsegment")
  }

  val q03Sql: String =
    """SELECT c_mktsegment,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Left-semi join (EXISTS): orders having at least one high-quantity item. */
  def q04SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigItems = Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 48).select($"l_orderkey")
    Tables.orders(spark, dir)
      .join(bigItems, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders, per segment. */
  def q05AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    Tables.customer(spark, dir)
      .join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"c_mktsegment")
  }

  val q05Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Star-schema dimension chain with explicit broadcasts:
    * supplier ⋈ nation ⋈ region — zero shuffles of the fact side. */
  def q06BroadcastDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_suppliers"), round(sum($"s_acctbal"), 2).as("total_bal"))
      .orderBy($"r_name")
  }

  val q06Sql: String =
    """SELECT r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Per-group top-k via ranking window: top 3 orders per customer by price.
    * Scale: single shuffle on o_custkey; the window is per-partition sorted —
    * no global sort of the fact table. */
  def q07WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk".cast("long").as("rk"))
      .orderBy($"o_custkey", $"rk")
  }

  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders) t
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  /** Analytic windows: lag/lead + running sum over each customer's orders. */
  def q08AnalyticWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("prev_price", $"o_totalprice" - coalesce(lag($"o_totalprice", 1).over(w), lit(0.0)))
      .withColumn("running_spend",
        round(sum($"o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .filter($"o_custkey" <= 100)
      .select($"o_custkey", $"o_orderkey", round($"prev_price", 2).as("delta_price"), $"running_spend")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q08Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS delta_price,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Distinct aggregation: exact distinct counts per return flag. */
  def q09DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  val q09Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** ROLLUP: hierarchical subtotals (flag → flag+status → grand total). */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_quantity"), 0).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id($"l_returnflag", $"l_linestatus").as("gid"))
      .orderBy($"gid", $"l_returnflag", $"l_linestatus")
  }

  val q10Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 0) AS sum_qty, count(*) AS n,
      |  grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** CUBE over orders dims. */
  def q11Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double").as("total"),
        grouping_id($"o_orderstatus", $"o_orderpriority").as("gid"))
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")
  }

  val q11Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Set operations: customers active in 1995 vs 2000 (intersect / except / union).
    *
    * union/intersect/except over the same two inputs collapse to membership
    * flags: one scan of orders, one shuffle keyed on o_custkey folding each
    * customer to (seen-in-95, seen-in-00), then a partial+final count per
    * combination — `any` = either flag, `both` = intersect, `only_1995` =
    * except. Fully lazy single job (no driver actions, no cache), where the
    * literal set-op form needed three counts over cached id sets. */
  def q12SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flags = Tables.orders(spark, dir)
      .select($"o_custkey", year($"o_orderdate").as("yr"))
      .filter($"yr" === 1995 || $"yr" === 2000)
      .groupBy($"o_custkey")
      .agg(max(($"yr" === 1995).cast("int")).as("in95"),
        max(($"yr" === 2000).cast("int")).as("in00"))
    flags
      .agg(
        count(lit(1)).as("n_any"),
        // coalesce: sum over zero rows is NULL, but the set-op counts this
        // replaces returned 0 on empty input — keep that contract
        coalesce(sum(($"in95" === 1 && $"in00" === 1).cast("long")), lit(0L)).as("n_both"),
        coalesce(sum(($"in95" === 1 && $"in00" === 0).cast("long")), lit(0L)).as("n_only95"))
      .select(expr(
        "stack(3, 'any', n_any, 'both', n_both, 'only_1995', n_only95) AS (tag, n_customers)"))
      .orderBy($"tag")
  }

  val q12Sql: String =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      |     y00 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2000),
      |     tagged AS (
      |       SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y00)
      |       UNION ALL
      |       SELECT o_custkey, 'only_1995' AS tag FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y00)
      |       UNION ALL
      |       SELECT o_custkey, 'any' AS tag FROM (SELECT * FROM y95 UNION SELECT * FROM y00))
      |SELECT tag, count(*) AS n_customers FROM tagged GROUP BY tag ORDER BY tag""".stripMargin

  /** Scalar string + date functions, projected row-wise (codegen'd, no UDFs). */
  def q13ScalarFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .filter($"o_orderkey" % 100 === 0)
      .select(
        $"o_orderkey",
        upper(substring($"o_orderpriority", 3, 10)).as("prio_name"),
        concat_ws("#", $"o_orderstatus", $"o_orderpriority").as("status_tag"),
        // ints cast to long: DuckDB returns BIGINT for these functions and a
        // type-sensitive value hash would see int32 vs int64
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        quarter($"o_orderdate").cast("long").as("qtr"),
        datediff($"o_orderdate", lit("1995-01-01").cast("timestamp")).cast("long").as("days_since"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("ord_date"),
        length($"o_orderpriority").cast("long").as("prio_len"))
      .orderBy($"o_orderkey")
  }

  val q13Sql: String =
    """SELECT o_orderkey,
      |  upper(substring(o_orderpriority, 3, 10)) AS prio_name,
      |  concat_ws('#', o_orderstatus, o_orderpriority) AS status_tag,
      |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dom, quarter(o_orderdate) AS qtr,
      |  datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
      |  strftime(o_orderdate, '%Y-%m-%d') AS ord_date,
      |  length(o_orderpriority) AS prio_len
      |FROM orders
      |WHERE o_orderkey % 100 = 0
      |ORDER BY o_orderkey""".stripMargin

  /** Math functions + CASE bucketing, aggregated. */
  def q14MathCase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .withColumn("bucket",
        when($"l_extendedprice" < 10000, "low")
          .when($"l_extendedprice" < 50000, "mid")
          .otherwise("high"))
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        round(sum(round(sqrt($"l_extendedprice"), 6)), 4).as("sum_sqrt"),
        sum(floor($"l_quantity" / 7)).as("sum_weeks"),
        round(max(abs($"l_discount" - 0.05)), 2).as("max_disc_dev"))
      .orderBy($"bucket")
  }

  val q14Sql: String =
    """SELECT CASE WHEN l_extendedprice < 10000 THEN 'low'
      |            WHEN l_extendedprice < 50000 THEN 'mid'
      |            ELSE 'high' END AS bucket,
      |  count(*) AS n,
      |  round(sum(round(sqrt(l_extendedprice), 6)), 4) AS sum_sqrt,
      |  CAST(sum(floor(l_quantity / 7)) AS BIGINT) AS sum_weeks,
      |  round(max(abs(l_discount - 0.05)), 2) AS max_disc_dev
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** JSON extraction from the events.props string column. */
  def q15Json(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .withColumn("k_bucket", floor($"k" / 10).cast("int"))
      .groupBy($"event_type", $"k_bucket")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type", $"k_bucket")
  }

  val q15Sql: String =
    """SELECT event_type,
      |  CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INT) / 10) AS INT) AS k_bucket,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, k_bucket""".stripMargin

  /** Global sort + limit (top-k): Spark plans TakeOrderedAndProject —
    * per-partition top-k then a k-sized merge on the driver, no full sort. */
  def q16TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  val q16Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Range (interval) join against a small derived band dimension: the band
    * table is broadcast, so the non-equi predicate is evaluated map-side
    * (BroadcastNestedLoopJoin) with no shuffle of orders. */
  def q17RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = spark.createDataFrame(Seq(
      ("b0", 0.0, 50000.0),
      ("b1", 50000.0, 150000.0),
      ("b2", 150000.0, 300000.0),
      ("b3", 300000.0, 1e9))).toDF("band", "lo", "hi")
    Tables.orders(spark, dir)
      .join(broadcast(bands), $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"),
        sum($"o_totalprice".cast("decimal(12,2)")).cast("double").as("total"))
      .orderBy($"band")
  }

  val q17Sql: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('b0', 0.0, 50000.0), ('b1', 50000.0, 150000.0),
      |  ('b2', 150000.0, 300000.0), ('b3', 300000.0, 1000000000.0))
      |SELECT band, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  /** Correlated scalar subquery through Spark SQL: orders above their
    * customer's average order price. */
  def q18Subquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q18")
    spark.sql(
      """SELECT o_custkey, count(*) AS n_above
        |FROM orders_q18 o
        |WHERE o_totalprice > 1.5 * (SELECT avg(i.o_totalprice)
        |                            FROM orders_q18 i
        |                            WHERE i.o_custkey = o.o_custkey)
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin)
  }

  // Note: avg() appears only inside a > comparison (1.5x margin), so float
  // accumulation-order differences between engines cannot flip the predicate
  // except for values astronomically close to the threshold.
  val q18Sql: String =
    """SELECT o_custkey, count(*) AS n_above
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (SELECT avg(i.o_totalprice)
      |                            FROM orders i
      |                            WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** All queries in this module, name → (spark, sfDir) => DataFrame. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_join_revenue" -> (q03JoinRevenue _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_anti_join" -> (q05AntiJoin _),
    "q06_broadcast_dims" -> (q06BroadcastDims _),
    "q07_window_topk" -> (q07WindowTopK _),
    "q08_analytic_window" -> (q08AnalyticWindow _),
    "q09_distinct_agg" -> (q09DistinctAgg _),
    "q10_rollup" -> (q10Rollup _),
    "q11_cube" -> (q11Cube _),
    "q12_setops" -> (q12SetOps _),
    "q13_scalar_funcs" -> (q13ScalarFuncs _),
    "q14_math_case" -> (q14MathCase _),
    "q15_json" -> (q15Json _),
    "q16_topk" -> (q16TopK _),
    "q17_range_join" -> (q17RangeJoin _),
    "q18_subquery" -> (q18Subquery _))

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_revenue" -> q03Sql,
    "q04_semi_join" -> q04Sql,
    "q05_anti_join" -> q05Sql,
    "q06_broadcast_dims" -> q06Sql,
    "q07_window_topk" -> q07Sql,
    "q08_analytic_window" -> q08Sql,
    "q09_distinct_agg" -> q09Sql,
    "q10_rollup" -> q10Sql,
    "q11_cube" -> q11Sql,
    "q12_setops" -> q12Sql,
    "q13_scalar_funcs" -> q13Sql,
    "q14_math_case" -> q14Sql,
    "q15_json" -> q15Sql,
    "q16_topk" -> q16Sql,
    "q17_range_join" -> q17Sql,
    "q18_subquery" -> q18Sql)
}
