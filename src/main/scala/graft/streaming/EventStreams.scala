package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time transforms shared by batch and Structured Streaming paths.
  *
  * The reference has no streaming at all (batch RDD only —
  * `/root/reference/src/main/scala/se/uu/it/mare/MaRe.scala`); this module is
  * part of the declared engine surface (SURVEY.md §2.B "Streaming"). Each
  * transform takes a DataFrame that may come from `spark.read` (batch) or
  * `spark.readStream`/MemoryStream (streaming) — the same Catalyst
  * expressions plan in both modes, which is the Structured Streaming design
  * point. StreamingSpec drives them through MemoryStream with watermarks;
  * the batch-mode equivalents are oracle-checked in EventsQueries.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond it is dropped, state evicted); keys are
  * (window, event_type) or (user, session) — high-cardinality enough to
  * spread across executors without salting.
  */
object EventStreams {

  /** Tumbling event-time window aggregation (counts + value sum). */
  def tumblingCounts(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding event-time window aggregation. */
  def slidingCounts(events: DataFrame, windowLen: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))

  /** Session windows per user: events closer than `gap` merge into one
    * session (Spark's native session_window — dynamic, state-merging). */
  def sessionStats(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Same transform with a watermark, for streaming use: state for windows
    * older than the watermark is finalized + evicted; events later than the
    * watermark are dropped. */
  def tumblingCountsWatermarked(events: DataFrame, windowLen: String,
      watermark: String): DataFrame =
    tumblingCounts(events.withWatermark("ts", watermark), windowLen)

  def sessionStatsWatermarked(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    sessionStats(events.withWatermark("ts", watermark), gap)

  /** Stream-static enrichment join: the streaming side keeps its event-time
    * columns; the static side is re-EXECUTED each micro-batch, but for
    * file-based dims the file LISTING was snapshotted when the DataFrame was
    * created, so rows appended as new files after query start are NOT picked
    * up (and replaced files can fail the scan). A dim that must track
    * updates needs to be re-created per batch (foreachBatch) or come from a
    * format whose index refreshes (a transactional table format). At scale
    * the static side should be broadcast — it participates in every
    * micro-batch, and a shuffle join would re-shuffle the stream's state
    * store keys. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** foreachBatch keyed-upsert sink (MERGE for plain parquet targets): keep
    * the batch's last row per key (by `orderCol`), drop replaced keys from
    * the current target, rewrite atomically via write-new + swap. The result
    * is a pure function of (target state, batch contents), so re-running a
    * batch after a sink-side failure converges to the identical state — the
    * idempotent-upsert pattern that gives exactly-once EFFECT on a
    * non-transactional sink. On a real deployment the swap step is the one
    * piece to replace with a transactional table format; the dataflow
    * (dedupe → anti-join → union) is unchanged. */
  def upsertByKey(target: String, key: String, orderCol: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.expressions.Window
    // tie-break equal orderCol values by a content hash: row_number ties
    // otherwise fall to partition-internal row order, which changes across
    // retries — and a replay that picks a different row breaks the
    // converges-on-replay guarantee this sink exists to provide
    val latest = batch
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(key))
          .orderBy(col(orderCol).desc, xxhash64(struct(batch.columns.map(col): _*)))))
      .filter(col("__rn") === 1).drop("__rn")
    val dir = new java.io.File(target)
    val bak = new java.io.File(target + ".old")
    // recovery: a missing target with a surviving .old means a previous
    // promote died between its two renames — restore the pre-batch state
    // FIRST, so the invariant "target holds the live state (when it exists)"
    // is re-established before anything reads or deletes. Without this, a
    // replay would treat the sink as empty and silently drop every key
    // upserted by earlier batches.
    if (!dir.exists() && bak.exists() && !bak.renameTo(dir))
      throw new java.io.IOException(s"could not restore $bak to $target")
    val merged =
      if (dir.exists()) {
        val current = spark.read.parquet(target)
        current.join(latest.select(col(key)), Seq(key), "left_anti")
          .unionByName(latest)
      } else latest
    val tmp = target + ".tmp"
    merged.write.mode("overwrite").parquet(tmp)
    // local-FS swap, crash-safe at every boundary: the live state is always
    // in target or .old — never deleted before the new state is promoted.
    // Transactional formats replace exactly this step.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    if (bak.exists()) rm(bak) // leftover of a fully-promoted prior swap
    if (dir.exists() && !dir.renameTo(bak))
      throw new java.io.IOException(s"could not move $target aside to $bak")
    if (!new java.io.File(tmp).renameTo(dir))
      throw new java.io.IOException(s"could not move $tmp to $target")
    rm(bak)
  }

  /** Watermarked stream-stream join: each left event pairs with right events
    * of the same user in [l_ts, l_ts + maxDelay] — the click→conversion /
    * impression→purchase correlation shape. Both inputs are watermarked and
    * the join condition time-bounds r_ts against l_ts, which is exactly what
    * Structured Streaming needs to bound the join state store: a buffered
    * left row is evictable once the right watermark passes l_ts + maxDelay
    * (and vice versa), so state is O(rate × (maxDelay + watermark)), not
    * unbounded. `joinType` "inner" or "left_outer" — outer emits the
    * null-padded left row only after the watermark proves no match can
    * arrive. Batch DataFrames plan the same expressions (withWatermark is a
    * batch no-op), so the join is differentially testable against a plain
    * batch join (StreamingSpec). */
  def correlatedJoin(left: DataFrame, right: DataFrame, maxDelay: String,
      watermark: String, joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_type").as("r_type"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelay"),
      joinType)
      .select(col("user_id"), col("l_ts"), col("l_type"), col("l_value"),
        col("r_ts"), col("r_type"))
  }

  /** The sequential-funnel fold shared by the streaming state function and
    * the spec recomputes: advance `acc` (step completion times in micros,
    * -1 = unset) over `events` in EVENT-TIME order, returning the updated
    * acc plus each newly-completed (stepIndex, time). Semantics identical to
    * the Column-tree fold in `EventsQueries.funnelSteps`: each event reads
    * the pre-event acc, so it completes at most one step, and step i needs
    * a strictly-later time than step i−1's completion. */
  private[graft] def foldFunnel(steps: IndexedSeq[String],
      acc: Array[Long], events: Seq[(Long, String)]): Seq[(Int, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    events.sorted.foreach { case (t, typ) =>
      val prev = acc.clone()
      var i = 0
      while (i < steps.length) {
        if (prev(i) < 0 && typ == steps(i) &&
            (i == 0 || (prev(i - 1) >= 0 && t > prev(i - 1)))) {
          acc(i) = t
          out += ((i, t))
        }
        i += 1
      }
    }
    out.toSeq
  }

  /** EVENT-TIME-CORRECT streaming funnel: emits (user_id, stage, time) the
    * moment a user completes a funnel step, with out-of-order arrivals
    * handled properly — events are BUFFERED in keyed state until the
    * watermark passes their event time, then folded in event-time order, so
    * a signup that ARRIVES after its click (but within the watermark) still
    * completes the funnel. An arrival-order fold (the tempting stateful
    * one-liner) gets exactly this case wrong.
    *
    * Late-event contract: Spark's standard watermark filtering applies —
    * the state operator itself drops input older than the current watermark
    * before this function sees it, exactly like a watermarked aggregation.
    * The state additionally tracks the fold's FINALIZATION HORIZON and
    * re-drops anything at-or-under it: defense in depth for the
    * at-the-boundary rows the exec-level filter admits, guaranteeing the
    * fold NEVER processes an event out of order relative to one already
    * folded.
    *
    * Mechanics: flatMapGroupsWithState with EventTimeTimeout. Each
    * invocation buffers new events, finalizes the ripe ones (ts ≤
    * watermark) through [[foldFunnel]], and — when anything is still
    * buffered — arms a timeout at the earliest buffered event time, so the
    * buffer drains as the watermark advances even if the user never sends
    * another event. Per-user state is the pending buffer (bounded by the
    * watermark window, the same bound windowed aggs hold) + one long per
    * step + the horizon. */
  def funnelStepsStream(events: DataFrame, steps: Seq[String],
      watermark: String): org.apache.spark.sql.Dataset[(Long, String, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stepsArr: IndexedSeq[String] = steps.toIndexedSeq
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin(steps.distinct: _*))
      // the watermarked ts column must reach the state operator AS a column
      // (the event-time-timeout checker requires it); micros are derived
      // inside the state function instead of a projection
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Seq[(Long, String)], Seq[Long], Long), (Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
            state: GroupState[(Seq[(Long, String)], Seq[Long], Long)]) =>
          val (pending0, acc0, horizon0) = state.getOption
            .getOrElse((Seq.empty[(Long, String)],
              Seq.fill(stepsArr.length)(-1L), Long.MinValue))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows.map { r =>
            val i = r._2.toInstant
            (i.getEpochSecond * 1000000L + i.getNano / 1000L, r._3)
          }.filter(_._1 > horizon0).toSeq
          val (ripe, hold) = (pending0 ++ arrived).partition(_._1 <= wmMicros)
          val acc = acc0.toArray
          val completed = foldFunnel(stepsArr, acc, ripe)
          state.update((hold, acc.toSeq, math.max(horizon0, wmMicros)))
          if (hold.nonEmpty) {
            // strictly above the current watermark by construction of hold;
            // +1 ms because the timeout must exceed the watermark, and a
            // micros-to-ms floor could land exactly on it
            state.setTimeoutTimestamp(hold.map(_._1).min / 1000L + 1L)
          }
          completed.iterator.map { case (i, t) =>
            (user, s"${i + 1}_${stepsArr(i)}", t)
          }
      }
  }
}
