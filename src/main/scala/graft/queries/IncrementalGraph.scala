package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Store, Tables}

/** Incremental transition-graph maintenance — the store-backed face of
  * [[GraphQueries]]: event batches are admitted into a persisted edge
  * store and PageRank is served from the store alone, so the raw event
  * history is NEVER rescanned. At 100 TB the graph is maintained by
  * constant-cost micro-batch appends; only the aggregated |edges|-scale
  * cells persist.
  *
  * The hard part of incremental sessionization is the BOUNDARY: a user's
  * last event of batch k and first event of batch k+1 form a transition
  * no single batch can see. The store therefore holds two row kinds in ONE
  * crash-safe store, discriminated by a `kind` column:
  *
  *   - `e` cells: (src, dst, w) — additive edge weights (the + monoid);
  *   - `f` cells: (user_id, ts, event_id, event_type) — the per-user
  *     FRONTIER (latest event seen), an argmax-by-(ts, event_id) monoid.
  *
  * One admission appends both kinds in one [[Store]] batch — one staged
  * directory, one atomic rename — so a crash can never commit the edges
  * without the frontier advance (two separate stores would reintroduce
  * exactly the torn-state class the Store protocol exists to kill: edges
  * admitted + frontier stale → the next batch re-derives its boundary
  * transitions against the wrong previous event).
  *
  * ADMISSION-ORDER CONTRACT: batches must arrive in non-decreasing event
  * time per user (the contract a watermarked stream already guarantees,
  * and chronological backfill slices trivially satisfy). Under it, the
  * merged edge cells provably equal the one-shot
  * [[GraphQueries.transitionEdges]] over the union of admitted batches
  * (spec-pinned), so the served PageRank hash-matches the batch oracle.
  * Out-of-order admission attributes boundary transitions to the wrong
  * previous event — it corrupts edges silently, which is WHY the contract
  * is stated here and pinned by a spec demonstrating the corruption.
  *
  * Scale shape per admission: one lag window over the BATCH (within-batch
  * edges); the batch's per-user first events — ≤ |batch users| rows —
  * broadcast INTO the frontier scan (the index-never-moves discipline:
  * the |all users| frontier is never shuffled or broadcast); one
  * batch-scale aggregate each for edge partials and frontier partials.
  */
object IncrementalGraph {

  private val evOrd = struct(col("ts"), col("event_id"))

  /** The monoid merge for both kinds — compaction rewrite AND serve-time
    * fold, so a compacted store is indistinguishable. */
  private[graft] def mergeCells(cells: DataFrame): DataFrame = {
    import cells.sparkSession.implicits._
    val e = cells.filter($"kind" === "e")
      .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      .select(lit("e").as("kind"), $"src", $"dst", $"w",
        lit(null).cast("bigint").as("user_id"),
        lit(null).cast("timestamp").as("ts"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("string").as("event_type"))
    val f = cells.filter($"kind" === "f")
      .groupBy($"user_id")
      .agg(max_by(struct($"ts", $"event_id", $"event_type"), evOrd).as("last"))
      .select(lit("f").as("kind"),
        lit(null).cast("string").as("src"),
        lit(null).cast("string").as("dst"),
        lit(null).cast("bigint").as("w"),
        $"user_id", $"last.ts".as("ts"), $"last.event_id".as("event_id"),
        $"last.event_type".as("event_type"))
    e.unionByName(f)
  }

  /** Admit one chronological event batch. Returns false iff `id` was
    * already admitted (replay → no-op; edge + is not replay-idempotent,
    * so the id is load-bearing — same contract as the materialized view). */
  def admitEvents(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    import spark.implicits._
    val ev = batch.select($"user_id", $"ts", $"event_id", $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val within = ev.withColumn("src", lag($"event_type", 1).over(w))
      .filter($"src".isNotNull)
      .groupBy($"src", $"event_type".as("dst"))
      .agg(count(lit(1)).as("w"))
    val boundary =
      if (Store.hasData(storeDir)) {
        val frontier = mergeCells(Store.read(spark, storeDir))
          .filter($"kind" === "f")
          .select($"user_id", $"event_type".as("last_type"))
        boundaryEdges(ev, frontier)
      } else within.limit(0)
    val edgeCells = within.unionByName(boundary)
      .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      .select(lit("e").as("kind"), $"src", $"dst", $"w")
    val frontierCells = ev.groupBy($"user_id")
      .agg(max_by(struct($"ts", $"event_id", $"event_type"), evOrd).as("last"))
      .select(lit("f").as("kind"), $"user_id", $"last.ts".as("ts"),
        $"last.event_id".as("event_id"), $"last.event_type".as("event_type"))
    // ONE append carries both kinds (schema union: each side NULLs the
    // other's columns) — the atomicity argument in the header. Lineage is
    // cut eagerly first: the boundary join reads the store being appended.
    val delta = edgeCells
      .unionByName(frontierCells, allowMissingColumns = true)
      .localCheckpoint(true)
    val admitted = Store.appendMaybeIdempotent(delta, storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeCells)
    admitted
  }

  /** Cross-batch boundary transitions: each user's FIRST batch event paired
    * with the stored frontier's last event. The batch-derived `firsts` side
    * (≤ |batch users| rows) broadcasts INTO the frontier scan — the
    * index-never-moves discipline, split out so the spec can pin the plan. */
  private[graft] def boundaryEdges(ev: DataFrame, frontier: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val firsts = ev.groupBy($"user_id")
      .agg(min_by(struct($"ts", $"event_id", $"event_type"), evOrd)
        .as("first"))
      .select($"user_id", $"first.event_type".as("first_type"))
    frontier.join(broadcast(firsts), "user_id")
      .groupBy($"last_type".as("src"), $"first_type".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** The merged edge view of the store — provably equal (under the
    * admission-order contract) to [[GraphQueries.transitionEdges]] over
    * everything admitted. */
  def edgesFromStore(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    mergeCells(Store.read(spark, storeDir))
      .filter($"kind" === "e").select($"src", $"dst", $"w")
  }

  /** Serve PageRank from the store alone. */
  def pagerankFromStore(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    GraphQueries.pagerankOn(edgesFromStore(spark, storeDir))
      .select($"node".as("event_type"), round($"rank", 6).as("rank"))
      .orderBy($"event_type")
  }

  /** Streaming face: the SAME admission as the batch path through
    * [[Store.admissionSink]] — micro-batches of a time-ordered stream
    * satisfy the admission-order contract by construction. */
  def pagerankStreamingAdmission(events: DataFrame, storeDir: String,
      maintainEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(events, "pg") { (batch, id) =>
      admitEvents(batch.sparkSession, storeDir, batch, maintainEvery, id = Some(id)): Unit
    }

  /** Driver face: the events table admitted in three CHRONOLOGICAL slices
    * (cut at thirds of the observed time span — the split that exercises
    * both boundary-edge derivations), served from the store. The oracle is
    * the SAME unrolled SQL as `events_pagerank`: the hash proves
    * incremental maintenance is invisible in the ranks. */
  def eventsPagerankIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_pg_store_").toString
    try {
      val events = Tables.events(spark, dir)
      val bounds = events
        .agg(min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
      if (bounds.isNullAt(0)) {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("rank",
              org.apache.spark.sql.types.DoubleType))))
      } else {
        val (t0, t1) = (bounds.getLong(0), bounds.getLong(1))
        val cut1 = t0 + (t1 - t0) / 3
        val cut2 = t0 + 2 * ((t1 - t0) / 3)
        Phases.time("admit") {
          admitEvents(spark, store,
            events.filter(unix_micros($"ts") <= cut1), id = Some("slice0"))
          admitEvents(spark, store,
            events.filter(unix_micros($"ts") > cut1 &&
              unix_micros($"ts") <= cut2), id = Some("slice1"))
          admitEvents(spark, store,
            events.filter(unix_micros($"ts") > cut2), id = Some("slice2"))
        }
        Phases.time("serve") {
          pagerankFromStore(spark, store).localCheckpoint(true)
        }
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_pagerank_incremental" -> (eventsPagerankIncremental _))

  val oracles: Map[String, String] = Map(
    "events_pagerank_incremental" -> GraphQueries.eventsPagerankSql)
}
