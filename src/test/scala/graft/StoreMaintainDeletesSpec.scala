package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Store, ZoneMaps}

/** Maintenance applies deletes: a due [[Store.maintain]] cycle, and the
  * zone face's `maintainIndexed` on top of it, run the full [[Store.compact]],
  * which consumes the store's live tombstones. Pinned for both:
  *
  *  - the banned rows are physically dropped (the PLAIN read lacks them);
  *  - the consumed tombstone deltas are retired;
  *  - a replayed `deleteByKeys(id)` stays a no-op;
  *  - a later re-admission of a banned key is visible.
  */
class StoreMaintainDeletesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def rows(ids: Seq[Long]) = ids.map(i => (i, s"doc$i")).toDF("id", "v")
  private def ids(df: DataFrame): Set[Long] = df.select($"id").as[Long].collect().toSet

  private val all = (1L to 20L).toSet
  private val banned = Seq(2L, 11L, 17L)

  test("Store.maintain on a store with live tombstones drops, retires, replays no-op, re-admits") {
    val base = java.nio.file.Files.createTempDirectory("graft_maintdel_")
    try {
      val dir = s"$base/store"
      val tsd = Store.tombstoneDir(dir)
      assert(Store.appendIdempotent(rows(1L to 10L), dir, "b1"))
      assert(Store.appendIdempotent(rows(11L to 20L), dir, "b2"))
      assert(Store.deleteByKeys(banned.toDF("id"), dir, Some("d1")))
      // not due: nothing compacted, the tombstone stays live
      assert(!Store.maintain(spark, dir, every = 3))
      assert(Store.deltaCount(tsd) == 1)
      assert(Store.read(spark, dir).count() == 20)

      assert(Store.maintain(spark, dir, every = 2, numFiles = 1))
      assert(Store.deltaCount(dir) == 0)
      assert(ids(Store.read(spark, dir)) == all -- banned)
      assert(Store.read(spark, dir).count() == 17)
      assert(Store.deltaCount(tsd) == 0)
      assert(!Store.hasData(tsd))

      assert(!Store.deleteByKeys(banned.toDF("id"), dir, Some("d1")))
      assert(ids(Store.readLive(spark, dir)) == all -- banned)

      assert(Store.appendIdempotent(rows(Seq(11L)), dir, "b3"))
      assert(ids(Store.readLive(spark, dir)) == all -- banned + 11L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  test("ZoneMaps.maintainIndexed on a store with live tombstones drops, retires, replays no-op, re-admits") {
    val base = java.nio.file.Files.createTempDirectory("graft_zmaintdel_")
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val tsd = Store.tombstoneDir(dataDir)
      val cols = Seq("id")
      val everything = Seq(("id", lit(0L), lit(100L)))
      assert(ZoneMaps.admitIndexed(rows(1L to 10L), dataDir, statsDir, cols, "b1"))
      assert(ZoneMaps.admitIndexed(rows(11L to 20L), dataDir, statsDir, cols, "b2"))
      assert(Store.deleteByKeys(banned.toDF("id"), dataDir, Some("d1")))

      ZoneMaps.maintainIndexed(spark, dataDir, statsDir, cols, every = 2, numFiles = 2)
      assert(Store.deltaCount(dataDir) == 0)
      assert(ids(Store.read(spark, dataDir)) == all -- banned)
      assert(Store.deltaCount(tsd) == 0)
      assert(!Store.hasData(tsd))
      // the healed index serves the post-delete data, unsuppressed
      val (hit, (_, total)) = ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir, everything)
      assert(ids(hit) == all -- banned)
      assert(total == Store.liveFiles(dataDir).size)
      assert(ZoneMaps.countRangeIndexed(spark, dataDir, statsDir, everything)._1 == 17L)

      assert(!Store.deleteByKeys(banned.toDF("id"), dataDir, Some("d1")))
      assert(ids(Store.readLive(spark, dataDir)) == all -- banned)

      assert(ZoneMaps.admitIndexed(rows(Seq(11L)), dataDir, statsDir, cols, "b3"))
      val (again, _) = ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir,
        Seq(("id", lit(11L), lit(12L))))
      assert(Store.suppressDeleted(spark, dataDir, again).count() == 1)
      assert(ZoneMaps.countRangeIndexed(spark, dataDir, statsDir, everything)._1 == 18L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }
}
