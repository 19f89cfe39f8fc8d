package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Time-series resampling with gap fill — the missing-bucket problem every
  * monitoring/feature pipeline hits: an hourly aggregate of events has holes
  * wherever nothing happened, but downstream consumers (charts, joins
  * against other hourly series, feature windows) need a dense grid. The
  * operator densifies each event type's hourly series over its own
  * [first, last] hour and carries the last observed value forward across
  * gaps (the `ffill` contract).
  *
  * Plan: ONE hourly aggregate of the fact table (map-side combinable) → a
  * per-type bounds row → a generated hour spine (`sequence` + explode) →
  * LEFT join of spine to the aggregate → one `last_value IGNORE NULLS`
  * window for the forward fill.
  *
  * The hourly rollup is MATERIALIZED once (localCheckpoint here; a real
  * deployment persists it as a table — it is the reusable artifact of this
  * pipeline) because two consumers need it: the spine bounds and the fill
  * join. Without materialization Catalyst "optimizes" the bounds branch by
  * collapsing min/max(hour) straight onto a second pruned fact scan —
  * cheaper at test scale, a second 100 TB read at production scale
  * (observed in the executed plan; the spec pins the single-scan form).
  *
  * Scale shape: the fact table is touched exactly once, by the hourly
  * aggregate; everything after operates on the RESAMPLED grid, whose
  * cardinality is calendar-bounded (types × hours-in-range — a decade of
  * hourly buckets is 87 660 rows per type regardless of whether the fact
  * table holds 60 k or 10^12 events). That bound is also why the per-type
  * window partition is safe here when it would be a skew hazard on raw
  * events: the window sorts grid rows, not event rows. Value sums ride as
  * integral micros (exact, order-independent) so the fill is engine-stable.
  */
object Resample {

  /** Hourly partial rollup of an events batch — the store row shape. */
  private def hourlyOf(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(
        count(lit(1)).as("n"),
        sum(round($"value" * 1000000).cast("long")).as("val_micro"))
  }

  /** Partial rollups merge by addition — count and micro sums are both
    * decomposable, which is WHY the incremental face can admit deltas
    * without touching history. */
  private def mergeHourly(partials: DataFrame): DataFrame = {
    val spark = partials.sparkSession
    import spark.implicits._
    partials.groupBy($"event_type", $"h")
      .agg(sum($"n").as("n"), sum($"val_micro").as("val_micro"))
  }

  /** Spine + gap flags + forward fill over a MATERIALIZED hourly rollup
    * (the caller checkpoints; see eventsResample's scaladoc for why). */
  private def gridOf(hourly: DataFrame): DataFrame = {
    val spark = hourly.sparkSession
    import spark.implicits._
    val spine = hourly
      .groupBy($"event_type")
      .agg(min($"h").as("lo"), max($"h").as("hi"))
      .select($"event_type".as("s_type"),
        explode(sequence($"lo", $"hi", expr("INTERVAL 1 HOUR"))).as("s_h"))

    val fillW = Window.partitionBy($"s_type")
      .orderBy($"s_h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    spine
      .join(hourly, $"s_type" === $"event_type" && $"s_h" === $"h", "left")
      .select(
        $"s_type".as("event_type"),
        date_format($"s_h", "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce($"n", lit(0L)).as("n_events"),
        ($"n".isNull).cast("int").as("is_gap"),
        last($"val_micro", ignoreNulls = true).over(fillW).as("filled_micro"))
      .orderBy($"event_type", $"hour")
  }

  def eventsResample(spark: SparkSession, dir: String): DataFrame =
    gridOf(hourlyOf(Tables.events(spark, dir)).localCheckpoint(true))

  /** Incremental admission into a persisted hourly store: append the
    * batch's PARTIAL rollup (crash-safe, see `sources/Store`), let
    * triggered maintenance sum-merge deltas flat, and serve the grid from
    * the merged store. Each admit costs one batch-sized rollup plus a
    * store-sized merge — history is never re-aggregated from raw events,
    * and late events simply land as another partial for an old hour. */
  def admitHourly(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8): DataFrame = {
    admitBatch(spark, storeDir, batch, maintainEvery)
    gridFromStore(spark, storeDir)
  }

  /** Admission only — append the partial rollup and run triggered
    * maintenance, without building the grid. The streaming sink calls
    * this per micro-batch; consumers serve [[gridFromStore]] on demand.
    * With a batch `id`, admission is IDEMPOTENT (a replayed id is a
    * no-op — see `Store.appendIdempotent`); returns whether this call
    * admitted the batch. */
  def admitBatch(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    val admitted = graft.sources.Store.appendMaybeIdempotent(hourlyOf(batch), storeDir, id)
    if (admitted)
      graft.sources.Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeHourly)
    admitted
  }

  /** Serve the current grid from the persisted store. */
  def gridFromStore(spark: SparkSession, storeDir: String): DataFrame =
    gridOf(mergeHourly(graft.sources.Store.read(spark, storeDir)).localCheckpoint(true))

  /** Streaming face: the SAME admission code as the batch/incremental
    * paths through [[graft.sources.Store.admissionSink]] — a replayed
    * micro-batch no-ops. Spec-pinned with a forced duplicate admission,
    * including one after compaction. */
  def streamingAdmission(events: DataFrame, storeDir: String,
      maintainEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    graft.sources.Store.admissionSink(events, "sb") { (batch, id) =>
      admitBatch(batch.sparkSession, storeDir, batch, maintainEvery, id = Some(id)): Unit
    }

  /** Driver face of the incremental path: admit the events table in two
    * interleaved halves (the second half carries timestamps EARLIER than
    * already-admitted ones — the late-arrival case) into a throwaway
    * store, then serve the grid. The oracle is the SAME SQL as
    * events_resample: incremental admission must be invisible in the
    * result, and the hash check proves it. */
  def eventsResampleIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_resample_store_").toString
    val events = Tables.events(spark, dir)
    Phases.time("admit") {
      admitBatch(spark, store, events.filter($"event_id" % 2 === 0))
      admitBatch(spark, store, events.filter($"event_id" % 2 =!= 0)): Unit
    }
    val grid = Phases.time("serve") { gridFromStore(spark, store) }
    // the grid is checkpointed past the store files — safe to sweep now
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    grid
  }

  val eventsResampleSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
      |    CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS val_micro
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
      |spine AS (SELECT event_type AS s_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS s_h
      |          FROM bounds)
      |SELECT s.s_type AS event_type,
      |  strftime(s.s_h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  coalesce(hr.n, 0) AS n_events,
      |  CAST(hr.n IS NULL AS INT) AS is_gap,
      |  last_value(hr.val_micro IGNORE NULLS)
      |    OVER (PARTITION BY s.s_type ORDER BY s.s_h
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_micro
      |FROM spine s
      |LEFT JOIN hourly hr ON hr.event_type = s.s_type AND hr.h = s.s_h
      |ORDER BY event_type, hour""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_resample" -> (eventsResample _),
    "events_resample_incremental" -> (eventsResampleIncremental _))

  // the incremental face must be indistinguishable from the batch form —
  // same oracle SQL, so the hash check proves admission-order invariance
  val oracles: Map[String, String] = Map(
    "events_resample" -> eventsResampleSql,
    "events_resample_incremental" -> eventsResampleSql)
}
