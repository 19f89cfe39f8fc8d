package graft.queries

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan fan-out (optimization round 13, guide §2).
  *
  * The testdata tables are single-file, SINGLE-ROW-GROUP parquet: Spark
  * can split a parquet file only at row-group boundaries, so however the
  * byte ranges are sliced, ONE task decodes every row — and any heavy
  * per-row aggregate stacked directly on the scan (exact-NDV Expand,
  * decimal moment sums, PassJoin neighborhood generation) runs serially
  * while the other 31 cores idle (measured: prep_table_stats spent 4.2 s
  * in one 3-task job whose stragglers held all the rows).
  *
  * The fix is one round-robin exchange AFTER the scan so the heavy stage
  * uses every core — but only when the scan's planned parallelism is
  * actually below the session's. The condition derives from the input
  * (planned scan partitions vs `defaultParallelism`), never from a
  * constant: on a production lake the scan has thousands of splits, the
  * condition is false, and the plan is untouched — exactly the guide's
  * "scale-adaptive partitioning, not a constant tuned for local mode".
  * Cost when it fires: shuffling the scan's output once (bounded by the
  * small input that made the condition true). Aggregates downstream are
  * partition-order independent, so results are bit-identical.
  */
object FanOut {
  /** With `keys`, the exchange hash-partitions on them (no local sort —
    * keyless round-robin pays a whole-row sort per input partition for
    * retry determinism, measured +0.5 s on the single-row-group scan;
    * pass keys whose value combinations are plentiful, guide §2.5).
    * Without keys, round-robin. */
  def apply(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // planned physical partitions of the scan. No job is run by .rdd only
    // because every caller passes a plan without an exchange: under AQE,
    // .rdd on a plan with one runs each of its shuffle stages first
    if (df.rdd.getNumPartitions >= target) df
    else if (keys.nonEmpty) df.repartition(target, keys: _*)
    else df.repartition(target)
  }
}
