package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Store, Tables}

/** Generic incremental materialized aggregate view — the most common
  * production incremental-ETL shape of all: a keyed summary table (daily
  * revenue rollup, per-customer totals, ...) maintained by ADMITTING each
  * new fact batch as mergeable partial aggregates, never by recomputing
  * from the full fact history.
  *
  * The algebra: every measure kept in the store is a commutative monoid —
  * COUNT (+), SUM (+, exact DECIMAL), MIN (min), MAX (max) — so
  *
  *   - admission order cannot change the served result (the driver face
  *     admits interleaved halves and hash-matches the one-shot SQL);
  *   - serving is one small aggregate over |keys|-scale cells, not
  *     |facts|-scale rows;
  *   - compaction is the SAME merge as serving (passed to
  *     [[graft.sources.Store.maintain]] as the rewrite), so a compacted
  *     store is indistinguishable from an uncompacted one;
  *   - a replayed batch is made harmless by the Store's id-keyed
  *     idempotent append (unlike the bitmap store's OR, + is NOT
  *     replay-idempotent on its own — the id is load-bearing here, and the
  *     spec pins both directions: keyed replay is a no-op, unkeyed replay
  *     double-counts).
  *
  * AVG deliberately does not live in the store: it is not a monoid. It is
  * derived at serve time as sum/count — the classic materialized-view
  * decomposition.
  *
  * Scale shape: each admission shuffles ONE batch by the view key (the
  * same partial→final hash aggregate a batch groupBy would run, stopped at
  * the partial stage); the store holds |distinct keys| rows regardless of
  * fact volume; nothing ever rescans admitted facts. At 100 TB this is the
  * difference between a nightly full-table rollup and a constant-cost
  * micro-batch append — and it is exactly the contract of Spark's own
  * streaming `groupBy.agg` in update mode, made restart-durable and
  * batch/stream-symmetric by keeping the state in a crash-safe Store
  * instead of a streaming state store.
  */
object MaterializedAgg {

  /** Partial cells for one orders batch: key = (order day, status),
    * measures = count / exact-DECIMAL revenue sum / min / max. */
  private[graft] def orderPartials(batch: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    batch
      .select(to_date($"o_orderdate").as("day"), $"o_orderstatus",
        $"o_totalprice".cast("decimal(18,2)").as("price"))
      .groupBy($"day", $"o_orderstatus")
      .agg(count(lit(1)).as("n"), sum($"price").as("sum_exact"),
        min($"price").as("mn"), max($"price").as("mx"))
  }

  /** The monoid merge — used by serve AND compaction, so both are provably
    * the same operation. Input and output share one schema: cells in,
    * cells out. */
  private[graft] def mergeCells(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    cells.groupBy($"day", $"o_orderstatus")
      .agg(sum($"n").as("n"), sum($"sum_exact").as("sum_exact"),
        min($"mn").as("mn"), max($"mx").as("mx"))
  }

  /** Admit one orders batch into the view store. Returns false iff `id`
    * was already admitted (replay → no-op). */
  def admitOrders(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(orderPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeCells)
    admitted
  }

  /** Serve the view: merge cells, derive the non-monoid AVG as sum/count.
    * Doubles appear only here — the store is exact all the way down, and
    * both engines derive avg by dividing the SAME double sum by the SAME
    * integer count (bit-identical IEEE division). */
  def serveOrders(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    mergeCells(Store.read(spark, storeDir))
      .select($"day", $"o_orderstatus", $"n",
        $"sum_exact".cast("double").as("revenue"),
        ($"sum_exact".cast("double") / $"n").as("avg_price"),
        $"mn".cast("double").as("min_price"),
        $"mx".cast("double").as("max_price"))
      .orderBy($"day", $"o_orderstatus")
  }

  /** Streaming face: the SAME admission as the batch path through
    * [[Store.admissionSink]]. Here the id is load-bearing — a restart that
    * replays the last micro-batch must NOT double-count (+ is not
    * idempotent; contrast the bitmap store where the id is merely
    * belt-and-braces). */
  def ordersStreamingAdmission(orders: DataFrame, storeDir: String,
      maintainEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(orders, "mv") { (batch, id) =>
      admitOrders(batch.sparkSession, storeDir, batch, maintainEvery, id = Some(id)): Unit
    }

  /** Driver face (one-shot): the view computed directly over the full
    * orders table — the recompute the incremental face must be
    * indistinguishable from. */
  def mvOrdersDaily(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_mv_oneshot_").toString
    try {
      admitOrders(spark, store, Tables.orders(spark, dir))
      serveOrders(spark, store).localCheckpoint(true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val mvOrdersSql: String =
    """SELECT CAST(o_orderdate AS DATE) AS day, o_orderstatus,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS avg_price,
      |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS min_price,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS max_price
      |FROM orders
      |GROUP BY CAST(o_orderdate AS DATE), o_orderstatus
      |ORDER BY day, o_orderstatus""".stripMargin

  /** Driver face (incremental): admit the orders table in two INTERLEAVED
    * halves (the split that would corrupt an order-dependent store), then
    * serve. The oracle is the SAME SQL as [[mvOrdersDaily]] — the hash
    * check proves incremental admission is invisible in the served view. */
  def mvOrdersIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_mv_store_").toString
    try {
      val orders = Tables.orders(spark, dir)
      Phases.time("admit") {
        admitOrders(spark, store, orders.filter($"o_orderkey" % 2 === 0))
        admitOrders(spark, store, orders.filter($"o_orderkey" % 2 =!= 0))
      }
      Phases.time("serve") {
        serveOrders(spark, store).localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_orders_daily" -> (mvOrdersDaily _),
    "mv_orders_incremental" -> (mvOrdersIncremental _))

  val oracles: Map[String, String] = Map(
    "mv_orders_daily" -> mvOrdersSql,
    "mv_orders_incremental" -> mvOrdersSql)
}
