package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ProtocolPoints, Store, ZoneMaps}

/** Pins the four round-12 ADVICE findings.
  *
  *  1. minMaxRangeIndexed: a stats row that never tracked the TARGET
  *     column (admitted before targetCol entered `cols`, read back with
  *     NULL min_/max_/nnull_<target> through mergeSchema) must fall back
  *     to SCANNING the file — before the fix it was treated as
  *     metadata-eligible, contributed nothing (min/max ignore NULL), and
  *     its rows were silently dropped from the answer.
  *  2. commitStaged: the commit's sentinel claim must be stamped FRESH at
  *     claim time — renameTo preserves the stage-start mtime, so for
  *     exactly the slow stages the sweeper targets, the claim was born
  *     stale and a concurrent sweep could steal it mid-commit.
  *  3. Tombstone key column is recorded durably (sidecar): a mixed-schema
  *     tombstone store is refused loudly instead of silently skipping the
  *     non-head column's bans; the key survives full retirement.
  *  4. Delta-segment parsing is relative to the store layout: a store
  *     living under an ancestor directory named `delta-*` must still
  *     retire consumed tombstones and keep replay markers across
  *     compaction (the whole-path `find(startsWith("delta-"))` bound to
  *     the ancestor for every file).
  */
class AdviceR12FixSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_advfix12_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  test("minMax pushdown: file whose stats never tracked the target column is scanned, not dropped") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      // file A: proper stats tracking BOTH the predicate col v and the
      // target col w (w values 0..999)
      val a = spark.range(0, 1000)
        .select(($"id" % 100).as("v"), $"id".as("w"))
      assert(ZoneMaps.admitIndexed(a.coalesce(1), dataDir, statsDir,
        Seq("v", "w"), "a"))
      // file B: data admitted, stats row handcrafted tracking ONLY v —
      // the exact shape a store admitted before w entered `cols` reads
      // back through mergeSchema. B holds the TRUE max (9999).
      val b = spark.range(0, 500)
        .select(($"id" % 100).as("v"), ($"id" + 9500).as("w"))
      assert(Store.appendIdempotent(b.coalesce(1), dataDir, "b"))
      val bFile = graft.sources.BloomIndex.canonPath(
        new File(dataDir, "delta-b").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath)
      Store.append(Seq((bFile, 500L, 0L, 99L, 0L))
        .toDF("file", "n_rows", "min_v", "max_v", "nnull_v")
        .coalesce(1), statsDir)
      // the predicate box fully contains both files on v
      val (out, (scanned, total)) = ZoneMaps.minMaxRangeIndexed(spark,
        dataDir, statsDir, Seq(("v", lit(-1L), lit(1000L))), "w")
      assert(total == 2)
      assert(scanned == 1,
        s"only the untracked-target file must be scanned, got $scanned")
      val row = out.collect().head
      assert(row.getLong(0) == 0L && row.getLong(1) == 9999L,
        s"untracked file's rows must reach the MIN/MAX: $row")
    } finally sweep(base)
  }

  test("commitStaged claim is stamped fresh: a mid-commit sweep of a slow stage cannot steal it") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      val df = spark.range(0, 100).select($"id").coalesce(1)
      val (tmpEntry, fin) = Store.stage(df, dir)
      // simulate the pathologically slow stage the sweeper targets:
      // everything about the entry (sentinel included) is an hour old
      val old = System.currentTimeMillis() - 60 * 60 * 1000L
      def backdate(f: File): Unit = {
        f.setLastModified(old): Unit
        val kids = f.listFiles()
        if (kids != null) kids.foreach(backdate)
      }
      backdate(tmpEntry)
      backdate(new File(tmpEntry.getParentFile, s".live-${tmpEntry.getName}"))
      // committer claims, then PAUSES between the claim and the tmp→fin
      // rename — exactly the window the sweep guard must protect
      val claimed = new java.util.concurrent.CountDownLatch(1)
      val resume = new java.util.concurrent.CountDownLatch(1)
      @volatile var committerFailure: Throwable = null
      val committer = new Thread(() => {
        ProtocolPoints.install {
          case "store.claimed" => claimed.countDown(); resume.await()
          case _ => ()
        }
        try Store.commitStaged(tmpEntry, fin)
        catch { case t: Throwable => committerFailure = t }
        finally ProtocolPoints.uninstall()
      })
      committer.start()
      assert(claimed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // the sweep observes: entry stale (hour-old tree) but the commit
      // claim stamped moments ago — it must SKIP, not steal
      Store.sweepStaleStaging(dir)
      resume.countDown()
      committer.join(30000)
      assert(committerFailure == null,
        s"commit of a claimed batch must survive a concurrent sweep: $committerFailure")
      assert(Store.read(spark, dir).count() == 100L,
        "the whole batch must be visible after the raced commit")
    } finally sweep(base)
  }

  test("tombstone key column is durable: mixed schemas refused, key survives retirement") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      Store.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
      assert(Store.deleteByKeys(Seq(1L).toDF("id"), dir, Some("d1")))
      // consume + retire every tombstone: the tombstone store is empty again
      Store.compact(spark, dir, numFiles = 1)
      assert(!Store.hasData(Store.tombstoneDir(dir)),
        "tombstones must be retired by the deleting compaction")
      // the key column must survive retirement — a differently-keyed
      // delete is still refused (pre-fix: hasData=false skipped the check)
      intercept[IllegalArgumentException] {
        Store.deleteByKeys(Seq("b").toDF("name"), dir, Some("d2"))
      }
      assert(Store.deleteByKeys(Seq(2L).toDF("id"), dir, Some("d3")))
      assert(Store.readLive(spark, dir).count() == 0L)
      // a mixed-schema tombstone store (the lost race this fix prevents,
      // planted directly): reads refuse loudly instead of silently
      // skipping the non-head column's bans
      val dir2 = s"$base/store2"
      Store.append(Seq((1L, "a")).toDF("id", "name"), dir2)
      Store.append(Seq(1L).toDF("id"), Store.tombstoneDir(dir2))
      Store.append(Seq("a").toDF("name"), Store.tombstoneDir(dir2))
      intercept[IllegalArgumentException] {
        Store.readLive(spark, dir2).count()
      }
    } finally sweep(base)
  }

  test("store under an ancestor delta-* directory: markers survive compaction, tombstones retire") {
    val base = tmp()
    try {
      // the lake-path shape that broke whole-path delta-segment scans
      val dir = s"$base/delta-bronze/store"
      assert(Store.appendIdempotent(Seq((1L, "a")).toDF("id", "v"), dir, "x1"))
      assert(Store.appendIdempotent(Seq((2L, "b")).toDF("id", "v"), dir, "x2"))
      Store.compact(spark, dir, numFiles = 1)
      // replay of a folded id must still no-op — its marker must have been
      // derived from the REAL delta segment, not the ancestor's
      assert(!Store.appendIdempotent(Seq((1L, "dup")).toDF("id", "v"), dir, "x1"),
        "replay after compaction must no-op (marker from the real delta id)")
      assert(Store.read(spark, dir).count() == 2L)
      // deletes: consumed tombstones must physically retire so a
      // re-admitted key becomes visible again
      assert(Store.deleteByKeys(Seq(1L).toDF("id"), dir, Some("d1")))
      Store.compact(spark, dir, numFiles = 1)
      assert(!Store.hasData(Store.tombstoneDir(dir)),
        "tombstone deltas must retire even under an ancestor delta-* dir")
      Store.append(Seq((1L, "back")).toDF("id", "v"), dir)
      val live = Store.readLive(spark, dir)
      assert(live.count() == 2L &&
        live.filter($"id" === 1L && $"v" === "back").count() == 1L,
        "re-admission after the deleting compaction must be visible")
    } finally sweep(base)
  }
}
