package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Fifth relational widening — four classic warehouse shapes the surface had
  * not yet composed, each chosen to stress a distinct optimizer path:
  *
  *   - q44: aggregate CTE consumed twice (rows + its own max) — exchange
  *     reuse across the two consumers instead of a double scan.
  *   - q45: global-threshold filter (above-average balance) + anti join —
  *     the scalar aggregate broadcasts, never the fact table.
  *   - q46: two-level re-aggregation (fair-share dominance) — the first
  *     aggregate consumed as rows AND as input to its own rollup, single
  *     fact scan via exchange reuse; the correlated-HAVING wording of the
  *     same predicate is spec-pinned equal and decorrelation-checked.
  *   - q47: per-group correlated min (TPC-H Q2 shape) — decorrelated to a
  *     grouped min re-joined on the correlation key, no per-row
  *     re-execution, and a single fact scan via exchange reuse.
  *
  * All money/quantity comparisons run in exact arithmetic (DECIMAL or
  * integer-valued doubles below 2^53) so threshold rows cannot flip between
  * engines; doubles appear only as display casts or as values both engines
  * derive with the identical IEEE operation sequence.
  */
object Relational5 {

  /** TPC-H Q15 shape (top supplier by quarterly revenue): a revenue
    * aggregate is consumed twice — once as rows, once reduced to its own
    * max — and the winner(s) join back to the supplier dimension.
    *
    * Scale shape: revenue is ONE partial+final hash aggregate over the
    * date-pruned scan (the shipdate filter reaches the parquet scan, so a
    * quarter of a 100 TB fact is all that's read). The max side reduces the
    * SAME aggregate to one row — Spark's ReuseExchange collapses the two
    * identical aggregate subtrees into one exchange read twice, so the fact
    * scan happens ONCE, not twice (spec-pinned: ReusedExchange present,
    * exactly one lineitem scan in the final plan). The explicit
    * `l_suppkey.isNotNull` filter is load-bearing for that reuse: the final
    * join would inject it on the rows side only, and the asymmetric filter
    * de-canonicalizes the two subtrees. The 1-row max broadcasts into the
    * equality filter, and the 100-row supplier dimension broadcasts into
    * the final join: nothing but the aggregated (suppkey, revenue) pairs
    * ever shuffles. Revenue compares in exact DECIMAL (ties keep all
    * winners, deterministically); the DOUBLE cast is display-only. */
  def q44TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-04-01").cast("timestamp")
    val revenue = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lo && $"l_shipdate" < hi && $"l_suppkey".isNotNull)
      .groupBy($"l_suppkey")
      .agg(sum($"l_extendedprice".cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
        .as("rev_exact"))
    val best = revenue.agg(max($"rev_exact").as("max_rev"))
    revenue
      .join(broadcast(best), $"rev_exact" === $"max_rev")
      .join(broadcast(Tables.supplier(spark, dir)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"rev_exact".cast("double").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  val q44Sql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |        (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev_exact
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.rev_exact AS DOUBLE) AS total_revenue
      |FROM revenue r
      |JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.rev_exact = (SELECT max(rev_exact) FROM revenue)
      |ORDER BY s.s_suppkey""".stripMargin

  /** TPC-H Q22 shape (well-funded customers the sales team never rushed):
    * customers whose balance exceeds the average positive balance AND who
    * have never placed a 1-URGENT order, rolled up by nation.
    *
    * The above-average threshold is the classic correlated-looking filter
    * that must NOT become a per-row subquery: the global (count, sum) pair
    * is ONE 1-row aggregate, broadcast into every partition of the customer
    * scan. The threshold itself is evaluated in exact arithmetic — balance
    * is compared as `bal_cents * n > total_cents` with both sides integral
    * DECIMAL products, so a customer sitting within one double-ulp of the
    * mean cannot flip between engines (a real hazard: avg() is an
    * order-dependent double fold in both engines). The never-urgent test is
    * a LEFT ANTI join against the date-independent slice of orders — at
    * 100 TB the urgent slice is pre-filtered before the shuffle, and the
    * rollup output is at most one row per nation.
    *
    * Plan note: the threshold crossJoin plans as a
    * BroadcastNestedLoopJoin — with a ONE-row broadcast side that is the
    * scalar-broadcast idiom (a map-side append of two constants, the same
    * physical shape Spark gives an uncorrelated scalar subquery), not a
    * quadratic nested loop. */
  def q45QuietWealth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.customer(spark, dir)
      .withColumn("bal_exact", $"c_acctbal".cast("decimal(14,2)"))
    val thresholds = customer
      .filter($"bal_exact" > lit(0))
      .agg(count(lit(1)).as("n_pos"), sum($"bal_exact").as("tot_pos"))
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey")
    customer
      .crossJoin(broadcast(thresholds))
      .filter($"bal_exact" * $"n_pos" > $"tot_pos")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum($"bal_exact").cast("double").as("totacctbal"))
      .orderBy($"c_nationkey")
  }

  val q45Sql: String =
    """WITH t AS (
      |  SELECT count(*) AS n_pos, sum(CAST(c_acctbal AS DECIMAL(14,2))) AS tot_pos
      |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(14,2)) > 0)
      |SELECT c.c_nationkey, count(*) AS numcust,
      |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS totacctbal
      |FROM customer c, t
      |WHERE CAST(c.c_acctbal AS DECIMAL(14,2)) * t.n_pos > t.tot_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin

  /** TPC-H Q20 shape (suppliers dominating a part's supply): a supplier
    * "dominates" a part when it ships more than 3x its fair share of the
    * part's total quantity (share > 3/n_suppliers) — a two-level
    * re-aggregation where the per-part totals derive from the per-
    * (part, supplier) aggregate itself.
    *
    * Shipped form: the flat re-aggregation. The (partkey, suppkey)
    * aggregate `ps` is consumed twice — once as rows, once re-aggregated to
    * per-part (total, supplier-count) — and ReuseExchange collapses the two
    * identical subtrees, so lineitem scans ONCE (spec-pinned). The
    * per-part rollup and the rejoin both key on l_partkey, reusing that
    * partitioning; supplier (dim) broadcasts.
    *
    * The same predicate as correlated scalar AGGREGATE subqueries under
    * HAVING (the classic Q20 wording, `q46CorrelatedSql`) is spec-pinned
    * equal: Catalyst decorrelates each subquery into a grouped aggregate
    * re-joined on l_partkey — no nested-loop, no per-group re-scan — but
    * the two subqueries read different column sets, so that face costs
    * three pruned fact scans (MergeScalarSubqueries does not merge
    * correlated aggregates). At 100 TB the flat single-scan form is the
    * one to run; the correlated face documents that the decorrelation
    * path is correct when a user writes it anyway.
    *
    * Quantities are integral doubles (exact below 2^53) and both predicate
    * sides are products of exact integers, so the 3x-fair-share boundary
    * is engine-stable. */
  def q46DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .filter($"l_partkey".isNotNull && $"l_suppkey".isNotNull)
    val ps = li.groupBy($"l_partkey", $"l_suppkey").agg(sum($"l_quantity").as("q"))
    val pt = ps.groupBy($"l_partkey")
      .agg(sum($"q").as("t"), count(lit(1)).as("ns"))
      .withColumnRenamed("l_partkey", "pt_partkey")
    ps.join(pt, $"l_partkey" === $"pt_partkey")
      .filter($"q" * $"ns" > lit(3) * $"t")
      .join(broadcast(Tables.supplier(spark, dir)), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_suppkey", $"s_name")
      .agg(count(lit(1)).as("n_dominant_parts"))
      .orderBy($"n_dominant_parts".desc, $"s_suppkey")
  }

  /** The correlated-HAVING face of q46 — exercised by Relational5Spec for
    * decorrelation parity, not shipped as the driver query (see scaladoc
    * above for why the flat form wins at scale). */
  def q46Correlated(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_q46")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_q46")
    spark.sql(
      """SELECT s.s_suppkey, s.s_name, count(*) AS n_dominant_parts
        |FROM (
        |  SELECT l_partkey, l_suppkey
        |  FROM lineitem_q46 l1
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING sum(l_quantity) *
        |           (SELECT count(DISTINCT l2.l_suppkey) FROM lineitem_q46 l2
        |            WHERE l2.l_partkey = l1.l_partkey)
        |         > 3 * (SELECT sum(l3.l_quantity) FROM lineitem_q46 l3
        |                WHERE l3.l_partkey = l1.l_partkey)
        |) d
        |JOIN supplier_q46 s ON s.s_suppkey = d.l_suppkey
        |GROUP BY s.s_suppkey, s.s_name
        |ORDER BY n_dominant_parts DESC, s.s_suppkey""".stripMargin)
  }

  val q46Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |pt AS (
      |  SELECT l_partkey, sum(q) AS t, count(*) AS ns
      |  FROM ps GROUP BY l_partkey)
      |SELECT s.s_suppkey, s.s_name, count(*) AS n_dominant_parts
      |FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
      |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      |WHERE ps.q * pt.ns > 3 * pt.t
      |GROUP BY s.s_suppkey, s.s_name
      |ORDER BY n_dominant_parts DESC, s.s_suppkey""".stripMargin

  /** TPC-H Q2 shape (cheapest supplier per part): for every small part
    * (p_size <= 10), the supplier(s) whose best unit price for that part
    * equals the part's minimum unit price — a correlated scalar MIN
    * subquery whose correlation key (p_partkey) is a join column of the
    * outer query.
    *
    * Scale shape: Catalyst decorrelates the min into ONE grouped aggregate
    * over the (partkey, suppkey) cost table re-joined on l_partkey — the
    * cost table is aggregated once per grouping, never once per outer row,
    * and because the CTE's explicit IS NOT NULL guards keep the two cost
    * consumers canonically identical, ReuseExchange collapses them: the
    * fact table scans ONCE (spec-pinned; without the guards the outer
    * join's inferred not-null filters land on one side only and force a
    * second scan). At 100 TB the cost table itself is a single
    * partial+final aggregate of the fact table; part and supplier are
    * broadcast dims. unit_cost is the same IEEE division then min in both
    * engines — bit-identical, so the equality keeps identical rows (ties
    * keep every winning supplier; the ORDER BY is total). */
  def q47CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_q47")
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_q47")
    Tables.part(spark, dir).createOrReplaceTempView("part_q47")
    spark.sql(
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem_q47
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, c.unit_cost
        |FROM part_q47 p
        |JOIN cost c ON c.l_partkey = p.p_partkey
        |JOIN supplier_q47 s ON s.s_suppkey = c.l_suppkey
        |WHERE p.p_size <= 10
        |  AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
        |                     WHERE c2.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey, s.s_suppkey""".stripMargin)
  }

  val q47Sql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |         min(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem
      |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      |  GROUP BY l_partkey, l_suppkey)
      |SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, c.unit_cost
      |FROM part p
      |JOIN cost c ON c.l_partkey = p.p_partkey
      |JOIN supplier s ON s.s_suppkey = c.l_suppkey
      |WHERE p.p_size <= 10
      |  AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
      |                     WHERE c2.l_partkey = p.p_partkey)
      |ORDER BY p.p_partkey, s.s_suppkey""".stripMargin

  /** Value-window functions with null skipping: first_value / last_value /
    * nth_value under IGNORE NULLS over a running frame — the "latest known
    * good value" idiom (gap-filling, last-seen enrichment) that rank/lag
    * windows (q07/q08/q31/q36) don't cover. A sparse signal is derived
    * deterministically (only orders above 150k carry a price), and each
    * order row reports the first / most recent / second big-order price
    * seen so far in its customer's history.
    *
    * Scale shape: ONE shuffle on o_custkey + a within-partition sort —
    * identical cost to any windowed scan; all three functions evaluate in
    * the same window pass. The ROWS frame with a (date, key) total order
    * makes results engine-stable under date ties; doubles pass through
    * unchanged (no re-aggregation), so the oracle hash is exact. */
  def q48ValueWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val big = when($"o_totalprice" > 150000, $"o_totalprice")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        first(big, ignoreNulls = true).over(w).as("first_big"),
        last(big, ignoreNulls = true).over(w).as("recent_big"),
        nth_value(big, 2, ignoreNulls = true).over(w).as("second_big"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q48Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  first_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
      |    OVER w AS first_big,
      |  last_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END IGNORE NULLS)
      |    OVER w AS recent_big,
      |  nth_value(CASE WHEN o_totalprice > 150000 THEN o_totalprice END, 2 IGNORE NULLS)
      |    OVER w AS second_big
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Three-valued-logic surface in one query: grouping BY a nullable key
    * (the NULL group must aggregate as one row in both engines),
    * `count(*)` vs `count(col)` (the latter skips NULLs), distinct
    * counting under NULLs, and NULLS FIRST ordering. The corpus tables are
    * NOT NULL throughout, so the nullable key is derived (only orders above
    * 150k carry a price bucket) — which is exactly how NULL semantics bite
    * in practice: a CASE/left-join introduces them mid-pipeline.
    *
    * Scale shape: one partial+final hash aggregate on the derived bucket —
    * the NULL group is a single grouping key like any other (it does NOT
    * fan out), and bucket cardinality is price-range-bounded. floor() is
    * BIGINT in Spark vs DOUBLE in DuckDB; the oracle casts, and the
    * division/floor pipeline is the same IEEE sequence in both engines. */
  def q49NullSemantics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = when($"o_totalprice" > 150000, $"o_totalprice")
    Tables.orders(spark, dir)
      .select(floor(big / 50000).as("bucket"), big.as("big"), $"o_custkey")
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"big").as("n_big"),
        countDistinct($"o_custkey").as("n_custs"))
      .orderBy($"bucket".asc_nulls_first)
  }

  val q49Sql: String =
    """SELECT CAST(floor(CASE WHEN o_totalprice > 150000 THEN o_totalprice END / 50000) AS BIGINT) AS bucket,
      |  count(*) AS n_rows,
      |  count(CASE WHEN o_totalprice > 150000 THEN o_totalprice END) AS n_big,
      |  count(DISTINCT o_custkey) AS n_custs
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket NULLS FIRST""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE): a BOM-style costed
    * explosion over the implicit binary hierarchy parent(k) = floor(k/2)
    * rooted at part 1 — every part except key 0 sits in one tree of depth
    * ~log2(|part|). The recursive step is an EQUI join (child's computed
    * parent key = frontier key), which is the shape that scales: each
    * iteration is one hash join of the current frontier against the
    * dimension, never a cartesian; iteration count is tree depth
    * (logarithmic), not row count. That shape plans as one
    * `plans/RecursiveExpandExec`: the levels expand in one driver pass,
    * with a job count that does not grow with depth. Subtree totals
    * aggregate per depth in exact DECIMAL. The acyclic parent function
    * makes UNION ALL safe (no revisits), so no global dedup fixpoint is
    * paid. */
  def q50RecursiveBom(spark: SparkSession, dir: String): DataFrame = {
    // materialize the dimension once (r13, guide §5). The recursion is a
    // linear equi-join over a small static side, so plans/RecursiveExpand
    // reads the dimension once and expands every level on the driver; the
    // checkpoint now serves the final join's second read of `part`, and
    // the over-cap fallback to Spark's loop, whose recursive step
    // re-resolves the view every level (a block read, not a fresh parquet
    // scan and decode of the same file). Intra-query reuse, not cross-run
    // caching: rows are identical, only the view's physical source moves.
    Tables.part(spark, dir).localCheckpoint(true)
      .createOrReplaceTempView("part_q50")
    spark.sql(
      """WITH RECURSIVE tree(pk, depth) AS (
        |  SELECT CAST(1 AS BIGINT) AS pk, 0 AS depth
        |  UNION ALL
        |  SELECT c.p_partkey, t.depth + 1
        |  FROM tree t JOIN part_q50 c
        |    ON CAST(floor(c.p_partkey / 2) AS BIGINT) = t.pk
        |  WHERE c.p_partkey >= 2)
        |SELECT depth, count(*) AS n_parts,
        |  CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS subtotal
        |FROM tree JOIN part_q50 p ON p.p_partkey = tree.pk
        |GROUP BY depth ORDER BY depth""".stripMargin)
  }

  val q50Sql: String =
    """WITH RECURSIVE tree(pk, depth) AS (
      |  SELECT CAST(1 AS BIGINT) AS pk, 0 AS depth
      |  UNION ALL
      |  SELECT c.p_partkey, t.depth + 1
      |  FROM tree t JOIN part c
      |    ON CAST(floor(c.p_partkey / 2) AS BIGINT) = t.pk
      |  WHERE c.p_partkey >= 2)
      |SELECT depth, count(*) AS n_parts,
      |  CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS subtotal
      |FROM tree JOIN part p ON p.p_partkey = tree.pk
      |GROUP BY depth ORDER BY depth""".stripMargin

  /** TPC-H Q7 shape (bilateral trade volume): revenue flowing between two
    * specific nations in BOTH directions, by shipment year — a five-table
    * star join where the pair filter must prune EARLY: the 1-row nation
    * filters reduce customer and supplier to their two-nation slices
    * BEFORE any fact join, so the orders leg is semi-filtered by a
    * broadcast hash join against the reduced customer dim and the
    * lineitem rows die at the reduced supplier broadcast — the fact-fact
    * lineitem⋈orders join still shuffles on the order key (both sides
    * big), but it shuffles only pair-relevant orders. Exact DECIMAL
    * revenue; year() is the same UTC extraction in both engines. */
  def q51TradeVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("n1_key"), $"n_name".as("cust_nation"))
      .filter($"cust_nation".isin("NATION_3", "NATION_7"))
    val n2 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("n2_key"), $"n_name".as("supp_nation"))
      .filter($"supp_nation".isin("NATION_3", "NATION_7"))
    val pairCusts = Tables.customer(spark, dir)
      .join(broadcast(n1), $"n1_key" === $"c_nationkey")
      .select($"c_custkey", $"cust_nation")
    val pairSupps = Tables.supplier(spark, dir)
      .join(broadcast(n2), $"n2_key" === $"s_nationkey")
      .select($"s_suppkey", $"supp_nation")
    Tables.orders(spark, dir)
      .join(broadcast(pairCusts), $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(pairSupps), $"s_suppkey" === $"l_suppkey")
      .filter($"cust_nation" =!= $"supp_nation")
      .groupBy($"cust_nation", $"supp_nation", year($"l_shipdate").cast("long").as("l_year"))
      .agg(sum($"l_extendedprice".cast("decimal(12,2)") *
        (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
        .cast("double").as("revenue"))
      .orderBy($"cust_nation", $"supp_nation", $"l_year")
  }

  val q51Sql: String =
    """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
      |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
      |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 shape (market share): one supplier nation's fraction of a
    * customer region's revenue, by order year — the ratio-of-conditional-
    * aggregates idiom. Both numerator and denominator accumulate in the
    * SAME exact-DECIMAL aggregate pass (a CASE inside sum, not two query
    * legs), so the ratio divides two identically-derived doubles and
    * rounds to the shared 6-decimal display grid. Region/nation dims
    * broadcast; the fact-fact lineitem⋈orders join shuffles on the order
    * key, then ONE aggregate shuffle for the year rollup. */
  def q52MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val custNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === "EUROPE")),
        $"r_regionkey" === $"n_regionkey")
      .select($"n_nationkey".as("n1_key"))
    val suppNations = Tables.nation(spark, dir)
      .select($"n_nationkey".as("n2_key"), $"n_name".as("supp_nation"))
    val vol = $"l_extendedprice".cast("decimal(12,2)") *
      (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"o_orderkey" === $"l_orderkey")
      .join(Tables.customer(spark, dir), $"c_custkey" === $"o_custkey")
      .join(broadcast(custNations), $"n1_key" === $"c_nationkey")
      .join(broadcast(Tables.supplier(spark, dir)), $"s_suppkey" === $"l_suppkey")
      .join(broadcast(suppNations), $"n2_key" === $"s_nationkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(round(
        sum(when($"supp_nation" === "NATION_3", vol)
          .otherwise(lit(0).cast("decimal(12,2)"))).cast("double") /
          sum(vol).cast("double"), 6).as("mkt_share"))
      .orderBy($"o_year")
  }

  val q52Sql: String =
    """WITH rev AS (
      |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l.l_extendedprice AS DECIMAL(12,2)) *
      |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS vol,
      |    n2.n_name AS supp_nation
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n1.n_regionkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |  WHERE r.r_name = 'EUROPE')
      |SELECT o_year,
      |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
      |                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
      |        CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
      |FROM rev GROUP BY o_year ORDER BY o_year""".stripMargin

  /** Spark 4 VARIANT type: `parse_json` materializes the semi-structured
    * column ONCE into the binary variant encoding, then `variant_get`
    * extracts typed paths without re-parsing — the engine-native
    * replacement for repeated `get_json_object` string walks (q15's face).
    * A missing path under `variant_get` yields NULL (pinned via the
    * n_no_missing count, exercising 3VL over semi-structured data).
    *
    * Scale shape: parse-once-extract-many is the point — at 100 TB a
    * per-extraction string re-parse multiplies scan CPU by the number of
    * paths; the variant decode costs once per row. One partial+final hash
    * aggregate on the extracted bucket. The oracle speaks DuckDB JSON
    * (same values, different machinery). */
  def q53Variant(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_q53")
    spark.sql(
      """SELECT k % 10 AS k_mod, count(*) AS n,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |  count(missing) AS n_missing
        |FROM (
        |  SELECT variant_get(v, '$.k', 'int') AS k,
        |         variant_get(v, '$.absent', 'int') AS missing
        |  FROM (SELECT parse_json(props) AS v FROM events_q53))
        |GROUP BY k_mod
        |ORDER BY k_mod""".stripMargin)
  }

  val q53Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
      |  count(*) AS n,
      |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS max_k,
      |  count(CAST(json_extract_string(props, '$.absent') AS INT)) AS n_missing
      |FROM events
      |GROUP BY k_mod
      |ORDER BY k_mod""".stripMargin

  /** Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    * MULTIPLICITIES (min / difference of per-value counts), which the
    * distinct forms q12 covers cannot express: a customer with three 1995
    * orders and one 2000 order contributes two rows to `95 EXCEPT ALL 00`
    * and one to the intersection. Each leg reduces to a deterministic
    * (count, keysum) pair so the report is one row per operator.
    *
    * Scale shape: Spark plans INTERSECT ALL / EXCEPT ALL as one
    * count-aggregate per side joined on the value with a generate for the
    * surviving multiplicity — shuffles carry (value, count) pairs, never
    * the raw bags; UNION ALL is a free concatenation. */
  def q54BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q54")
    spark.sql(
      """WITH a AS (SELECT o_custkey FROM orders_q54 WHERE year(o_orderdate) = 1995),
        |b AS (SELECT o_custkey FROM orders_q54 WHERE year(o_orderdate) = 2000)
        |SELECT 'except_all' AS op, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS keysum
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'intersect_all', count(*), CAST(sum(o_custkey) AS BIGINT)
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT 'union_all', count(*), CAST(sum(o_custkey) AS BIGINT)
        |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |ORDER BY op""".stripMargin)
  }

  val q54Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      |b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000)
      |SELECT 'except_all' AS op, count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS keysum
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      |UNION ALL
      |SELECT 'intersect_all', count(*), CAST(sum(o_custkey) AS BIGINT)
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      |UNION ALL
      |SELECT 'union_all', count(*), CAST(sum(o_custkey) AS BIGINT)
      |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      |ORDER BY op""".stripMargin

  /** Distinct aggregation OVER a window — "unique customers seen so far" —
    * which Spark's window functions cannot express as count(DISTINCT):
    * the standard idiom is size(collect_set() OVER w), pinned here against
    * DuckDB's native DISTINCT window aggregate.
    *
    * Scale note: as WRITTEN the running set is O(distinct-so-far) PER ROW
    * in the window buffer — measured 87 s at sf0.1 in a bare session. In a
    * session with the library's extensions the
    * `plans.RewriteRunningDistinct` optimizer rule replaces it with the
    * first-occurrence running sum (row_number = 1 per key, then a running
    * SUM of firsts — two windows, constant state): ~1 s at sf0.1, ~80x,
    * identical results (spec-pinned incl. NULLs/ties). The HLL sketch
    * union remains the substitute when even two sorted window passes are
    * too dear; q39 covers the entity-key-cardinality window family. One
    * shuffle on the partition key either way. */
  def q55DistinctWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey",
        size(collect_set($"o_custkey").over(w)).cast("long").as("run_dist"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  val q55Sql: String =
    """SELECT o_orderpriority, o_orderkey,
      |  count(DISTINCT o_custkey) OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_dist
      |FROM orders
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** ANSI ordered-set aggregates (Spark 4): LISTAGG ... WITHIN GROUP and
    * PERCENTILE_CONT / PERCENTILE_DISC ... WITHIN GROUP — the standard
    * syntax face of capabilities covered functionally elsewhere (q16's
    * top-k, q21's percentile()), pinned cross-engine because the
    * even-count DISC convention (both engines take the LOWER middle: the
    * first value whose cumulative distribution reaches the fraction) and
    * the CONT interpolation are classic silent-divergence spots. LISTAGG
    * aggregates only the per-group top-3 rows (WindowGroupLimit prunes
    * before the shuffle), so the string payload is bounded — the unbounded
    * form is the classic driver-killer and is deliberately not shipped.
    * The CONT median is display-rounded to 3 decimals (midpoints of
    * 2-decimal prices need at most 3). */
  def q56OrderedSet(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_q56")
    spark.sql(
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS rn
        |  FROM orders_q56),
        |top3 AS (
        |  SELECT o_orderpriority,
        |    listagg(CAST(o_orderkey AS STRING), ',')
        |      WITHIN GROUP (ORDER BY o_orderkey) AS cheapest_keys
        |  FROM ranked WHERE rn <= 3 GROUP BY o_orderpriority),
        |pct AS (
        |  SELECT o_orderpriority,
        |    round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 3) AS p50_cont,
        |    percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc
        |  FROM orders_q56 GROUP BY o_orderpriority)
        |SELECT p.o_orderpriority, t.cheapest_keys, p.p50_cont, p.p50_disc
        |FROM pct p JOIN top3 t ON t.o_orderpriority = p.o_orderpriority
        |ORDER BY p.o_orderpriority""".stripMargin)
  }

  val q56Sql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice, o_orderkey) AS rn
      |  FROM orders),
      |top3 AS (
      |  SELECT o_orderpriority,
      |    string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS cheapest_keys
      |  FROM ranked WHERE rn <= 3 GROUP BY o_orderpriority),
      |pct AS (
      |  SELECT o_orderpriority,
      |    round(quantile_cont(o_totalprice, 0.5), 3) AS p50_cont,
      |    quantile_disc(o_totalprice, 0.5) AS p50_disc
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT p.o_orderpriority, t.cheapest_keys, p.p50_cont, p.p50_disc
      |FROM pct p JOIN top3 t ON t.o_orderpriority = p.o_orderpriority
      |ORDER BY p.o_orderpriority""".stripMargin

  /** Null-preserving explode (LATERAL VIEW OUTER semantics):
    * posexplode_outer keeps a row for customers whose big-order array is
    * EMPTY — the left-join-shaped flattening plain explode silently drops
    * (30 customers vanish at sf0.01 with the inner form). The oracle
    * expresses the same contract in pure ANSI as ranked-rows UNION ALL an
    * anti-joined NULL leg, which is also exactly what the operator saves
    * the user from writing.
    *
    * Scale shape: one left join + one groupBy on the customer key, then a
    * generate that is map-side (no shuffle after the aggregate); per-group
    * array size is bounded by the selective price filter pushed to the
    * scan. */
  def q57ExplodeOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 300000)
      .select($"o_custkey", $"o_orderkey")
    Tables.customer(spark, dir)
      .join(big, $"o_custkey" === $"c_custkey", "left")
      .groupBy($"c_custkey")
      .agg(sort_array(collect_list($"o_orderkey")).as("keys"))
      .select($"c_custkey", posexplode_outer($"keys"))
      .select($"c_custkey", $"pos".cast("long").as("pos"), $"col".as("big_key"))
      .orderBy($"c_custkey", $"pos")
  }

  val q57Sql: String =
    """WITH big AS (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders WHERE o_totalprice > 300000)
      |SELECT c.c_custkey, b.pos, b.o_orderkey AS big_key
      |FROM customer c JOIN big b ON b.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT c.c_custkey, NULL, NULL FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_explode_outer" -> (q57ExplodeOuter _),
    "q56_ordered_set" -> (q56OrderedSet _),
    "q55_distinct_window" -> (q55DistinctWindow _),
    "q54_bag_setops" -> (q54BagSetOps _),
    "q53_variant" -> (q53Variant _),
    "q51_trade_volume" -> (q51TradeVolume _),
    "q52_market_share" -> (q52MarketShare _),
    "q50_recursive_bom" -> (q50RecursiveBom _),
    "q49_null_semantics" -> (q49NullSemantics _),
    "q48_value_windows" -> (q48ValueWindows _),
    "q44_top_supplier" -> (q44TopSupplier _),
    "q45_quiet_wealth" -> (q45QuietWealth _),
    "q46_dominant_suppliers" -> (q46DominantSuppliers _),
    "q47_cheapest_supplier" -> (q47CheapestSupplier _))

  val oracles: Map[String, String] = Map(
    "q57_explode_outer" -> q57Sql,
    "q56_ordered_set" -> q56Sql,
    "q55_distinct_window" -> q55Sql,
    "q54_bag_setops" -> q54Sql,
    "q53_variant" -> q53Sql,
    "q51_trade_volume" -> q51Sql,
    "q52_market_share" -> q52Sql,
    "q50_recursive_bom" -> q50Sql,
    "q49_null_semantics" -> q49Sql,
    "q48_value_windows" -> q48Sql,
    "q44_top_supplier" -> q44Sql,
    "q45_quiet_wealth" -> q45Sql,
    "q46_dominant_suppliers" -> q46Sql,
    "q47_cheapest_supplier" -> q47Sql)
}
