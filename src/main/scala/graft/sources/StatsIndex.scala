package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The admit/heal protocol of a file-level index kept in a SIBLING stats
  * store of a data [[Store]], shared by [[BloomIndex]] and [[ZoneMaps]].
  * Each face supplies only its stats function (data files → one stats row
  * per file, keyed by a canonical `file` column), its key-column checks,
  * and its [[ServeCache]].
  *
  * Each admitted delta carries its per-file stats into the stats store
  * under a paired idempotency id, and lookups treat the index as a
  * conservative ACCELERATOR: a live data file the stats do not cover is
  * read unconditionally, so a crash between the data commit and the stats
  * append — or a compaction, which renames every file — degrades pruning
  * to scanning, NEVER correctness. [[heal]] repairs both directions. */
private[sources] final class StatsIndex(kind: String, idPrefix: String,
    cache: ServeCache[_]) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Stats-store delta budget between hygiene rewrites (each heal appends
    * one delta; rows for dead files force a rewrite regardless). */
  private val hygieneDeltas = 8

  /** Admit `df` into the data store, then the stats of its delta under
    * the id `<idPrefix><id>` — replays no-op on both sides, and a replay
    * that finds the data admitted but the stats missing (the crash window)
    * writes them. Stats follow whenever the delta is still live; a delta
    * already compacted away is covered by [[heal]] instead. Returns
    * whether this call admitted the data batch. */
  def admit(df: DataFrame, dataDir: String, statsDir: String, id: String)(
      stats: Seq[String] => DataFrame): Boolean = {
    val admitted = Store.appendIdempotent(df, dataDir, id)
    val delta = new java.io.File(dataDir, s"delta-$id")
    // the delta's listing and read can RACE a maintenance compaction's
    // swap (exists() and the listing are two steps) — that race must not
    // fail an admission whose data already committed: skip the stats
    // instead, leaving the files uncovered until heal
    if (delta.exists()) {
      try {
        val files = Store.liveFiles(delta.toString)
        if (files.isEmpty)
          log.warn(s"$kind stats for delta-$id skipped (delta compacted " +
            "away mid-admission; heal covers it)")
        else Store.appendIdempotent(stats(files), statsDir, s"$idPrefix$id"): Unit
      } catch {
        // a path-shaped failure IS the tolerated race. Any OTHER analysis
        // error (unresolved key column, bad config) is deterministic:
        // absorbing it would disable pruning with zero signal, so rethrow.
        // Runtime job failures are logged, never silent.
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null && (
              e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist")) =>
          log.warn(s"$kind stats for delta-$id skipped (delta compacted " +
            s"away mid-admission; heal covers it): ${e.getMessage}")
        case e: org.apache.spark.sql.AnalysisException => throw e
        case scala.util.control.NonFatal(e) =>
          log.warn(s"$kind stats for delta-$id skipped (data admitted; " +
            "its files stay uncovered until heal)", e)
      }
      cache.invalidate(statsDir)
    }
    admitted
  }

  /** Heal the index: append stats for live-but-uncovered data files (one
    * pass over just those files), then rewrite the stats store down to
    * rows whose file is still live — only when there is something to
    * clean: rows for dead files (after a compaction), or enough heal
    * deltas accreted to matter. A skipped rewrite is result-invisible:
    * every lookup drops rows for dead files by name. */
  def heal(spark: SparkSession, dataDir: String, statsDir: String)(
      stats: Seq[String] => DataFrame): Unit = {
    import spark.implicits._
    val live = Store.liveFiles(dataDir).toSet
    val covered: Set[String] =
      if (Store.hasData(statsDir))
        Store.read(spark, statsDir).select($"file").as[String].collect().toSet
      else Set.empty
    val missing = (live -- covered).toSeq.sorted
    if (missing.nonEmpty) Store.append(stats(missing), statsDir)
    if (Store.hasData(statsDir) &&
        ((covered -- live).nonEmpty || Store.deltaCount(statsDir) >= hygieneDeltas)) {
      // the live listing is recomputed INSIDE the rewrite, at image time:
      // a semi-join against the listing taken above would drop the stats
      // of any delta admitted while the heal ran. The residual window
      // (admit between this listing and the image write) leaves that file
      // merely UNCOVERED — scanned unconditionally, healed next time —
      // never wrongly pruned. The file count is sized from the stats
      // store's own bytes: 10^6 files x ~100 KB blooms is a ~100 GB table.
      Store.compactToFileSize(spark, statsDir, targetBytes = 64L << 20,
        rewrite = { rows =>
          val liveNow = Store.liveFiles(dataDir).toDF("file")
          rows.join(broadcast(liveNow), Seq("file"), "left_semi")
        }): Unit
    }
    cache.invalidate(statsDir)
  }
}
