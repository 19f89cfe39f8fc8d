package graft

import java.util.concurrent.Executors

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Store

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Concurrency contract of the Store protocol, stated precisely and
  * pinned from both sides:
  *
  *  - CONCURRENT APPENDS with distinct ids are safe — each stages into
  *    its own hidden directory and commits with an independent atomic
  *    rename, so parallel writers (e.g. two ingest jobs covering disjoint
  *    partitions) compose without coordination;
  *  - a delta APPEND racing a COMPACTION is tolerated: image membership
  *    comes from the image's frozen file index and the swap salvages
  *    every committed delta the image provably did not include — pinned
  *    from both sides (salvaged delta survives un-doubled with working
  *    replay markers; the raw Store.promote underneath really does drop
  *    the old copy wholesale, so the salvage step is load-bearing). The
  *    residual exclusion window is the two renames themselves.
  */
class StoreConcurrencySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshStore(): String = java.nio.file.Files
    .createTempDirectory("graft_conc_spec_").toString

  private def sweep(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
  }

  test("8 parallel appends with distinct ids: all land, byte-complete") {
    val store = freshStore()
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 8).map { i =>
        Future {
          Store.appendIdempotent(
            Seq.tabulate(100)(j => (i.toLong, (i * 100 + j).toLong))
              .toDF("writer", "n"),
            store, id = s"w$i")
        }
      }
      val results = Await.result(Future.sequence(fs), 120.seconds)
      assert(results.forall(identity), "every distinct-id admit must win")
      val got = Store.read(spark, store).as[(Long, Long)].collect().toSet
      val expect = (for (i <- 0 until 8; j <- 0 until 100)
        yield (i.toLong, (i * 100 + j).toLong)).toSet
      assert(got == expect)
      assert(Store.deltaCount(store) == 8)
    } finally { pool.shutdown(); sweep(store) }
  }

  test("a delta committed inside the compaction window is SALVAGED, not lost, not doubled") {
    val store = freshStore()
    try {
      Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"), store, "a")
      // compaction step 1: the image's file index freezes here
      val image = Store.read(spark, store)
      // a concurrent admission lands AFTER the freeze, BEFORE the swap —
      // the exact race that used to swap the delta into the dropped .old
      Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "b")
      Store.compactImage(spark, store, image, numFiles = 1, rewrite = identity)
      val after = Store.read(spark, store).as[(Long, Long)].collect().toSeq
      assert(after.toSet == Set((1L, 1L), (2L, 2L)),
        s"raced delta must survive compaction: $after")
      assert(after.size == 2, s"and must not be double-counted: $after")
      // the salvaged delta's own dir is its admission witness; the folded
      // delta's witness is its marker — replays of BOTH must still skip
      assert(!Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"), store, "a"))
      assert(!Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "b"))
      // and the next (un-raced) compaction folds the salvaged delta too
      Store.compact(spark, store, numFiles = 1)
      assert(Store.deltaCount(store) == 0)
      assert(Store.read(spark, store).count() == 2)
      assert(!Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "b"))
    } finally sweep(store)
  }

  test("promote without salvage still drops the old copy whole (the Layout contract)") {
    val store = freshStore()
    try {
      Store.append(Seq((1L, 1L)).toDF("writer", "n"), store)
      val stale = Store.read(spark, store).localCheckpoint(true)
      Store.append(Seq((2L, 2L)).toDF("writer", "n"), store)
      val tmp = store + ".compact"
      stale.repartition(1).write.mode("overwrite").parquet(tmp)
      Store.promote(tmp, store) // no salvage: raw swap semantics
      assert(Store.read(spark, store).as[(Long, Long)].collect().toSet ==
        Set((1L, 1L)),
        "raw promote replaces wholesale — Store.compactImage's salvage is " +
          "what adds the raced-delta recovery on top")
    } finally sweep(store)
  }

  test("recoverStale: a crash between the swap's two renames leaves no live dir; recovery restores the store wholesale") {
    val store = freshStore()
    try {
      Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"), store, "a")
      // emulate the crash: the live dir was moved aside and the promote
      // rename never ran — the store is unreadable at its path
      val dir = new java.io.File(store)
      val bak = new java.io.File(store + ".old")
      assert(dir.renameTo(bak))
      Store.recoverStale(store)
      assert(Store.read(spark, store).as[(Long, Long)].collect().toSet ==
        Set((1L, 1L)))
      assert(!bak.exists())
      assert(!Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"),
        store, "a"), "admission witness must survive recovery")
    } finally sweep(store)
  }

  test("a compaction crash after promote but before salvage strands raced deltas in .old; the next compact recovers them (no loss, no double)") {
    val store = freshStore()
    try {
      Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"), store, "a")
      val image = Store.read(spark, store)
      // raced admission lands after the image's file index froze
      Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "b")
      // by-hand compactImage, dying between the swap and the salvage step:
      // frozen image + folded-delta marker written, both renames done,
      // .old (holding the raced delta-b) left in place
      val tmp = store + ".compact"
      image.repartition(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp, ".admitted-a").createNewFile(): Unit
      val dir = new java.io.File(store)
      val bak = new java.io.File(store + ".old")
      assert(dir.renameTo(bak))
      assert(new java.io.File(tmp).renameTo(dir))
      // stranded state: the raced delta is invisible (pre-fix, the next
      // promote's blind rm of .old would silently delete it forever)
      assert(Store.read(spark, store).as[(Long, Long)].collect().toSet ==
        Set((1L, 1L)))
      Store.compact(spark, store, numFiles = 1)
      val after = Store.read(spark, store).as[(Long, Long)].collect().toSeq
      assert(after.toSet == Set((1L, 1L), (2L, 2L)),
        s"stranded raced delta must be recovered: $after")
      assert(after.size == 2, s"and not double-counted: $after")
      assert(!new java.io.File(store + ".old").exists())
      assert(!Store.appendIdempotent(Seq((1L, 1L)).toDF("writer", "n"), store, "a"),
        "folded delta's marker must survive the recovery compaction")
      assert(!Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "b"),
        "salvaged delta's replay must still skip")
    } finally sweep(store)
  }

  test("compaction lease: a second coordinator fails fast; a stale lease is reclaimed; admissions are never blocked") {
    val store = freshStore()
    try {
      Store.append(Seq((1L, 1L)).toDF("writer", "n"), store)
      Store.withCompactionLease(store) {
        // a second coordinator is refused with a clear failure mode —
        // the single-coordinator contract is now code, not a comment
        assertThrows[IllegalStateException](Store.compact(spark, store, numFiles = 1))
        // the lease gates COMPACTION only: admissions proceed under it
        assert(Store.appendIdempotent(Seq((2L, 2L)).toDF("writer", "n"), store, "x"))
      }
      // released: compaction runs again
      Store.compact(spark, store, numFiles = 1)
      assert(Store.read(spark, store).count() == 2)
      // a crashed coordinator's lease is reclaimed once stale
      val lease = new java.io.File(store + ".lease")
      assert(lease.createNewFile())
      assert(lease.setLastModified(System.currentTimeMillis() - 11L * 60 * 1000))
      Store.compact(spark, store, numFiles = 1)
      assert(!lease.exists(), "reclaimed lease must be released after the compact")
    } finally sweep(store)
  }

  test("lease clock-skew: a fresh lease with a FUTURE mtime is never reclaimed") {
    // a coordinator on a fast-clocked host (or an NFS server ahead of us)
    // stamps an mtime our local clock reads as future: its age is
    // negative, so however small staleMs is, the lease must hold
    val store = freshStore()
    try {
      val lease = new java.io.File(store + ".lease")
      new java.io.File(store).mkdirs()
      assert(lease.createNewFile())
      assert(lease.setLastModified(System.currentTimeMillis() + 5L * 60 * 1000))
      assertThrows[IllegalStateException](
        Store.withCompactionLease(store, staleMs = 1L, skewMarginMs = 0L) { fail("acquired a live lease") })
      assert(lease.exists(), "the future-stamped lease must be untouched")
      lease.delete(): Unit
    } finally sweep(store)
  }

  test("lease heartbeat: a holder running LONGER than staleMs is never reclaimed") {
    // pre-heartbeat this was the documented inherent caveat: a rewrite
    // outrunning staleMs let a second coordinator reclaim mid-run. The
    // heartbeat (staleMs/4 cadence) keeps a LIVE holder's lease fresh for
    // as long as the body runs; only a stalled/dead JVM ages out.
    val store = freshStore()
    try {
      new java.io.File(store).mkdirs()
      val contenderRejected = new java.util.concurrent.atomic.AtomicInteger(0)
      Store.withCompactionLease(store, staleMs = 1000L, skewMarginMs = 0L) {
        (1 to 3).foreach { _ =>
          Thread.sleep(1200) // each sleep alone exceeds staleMs
          try Store.withCompactionLease(store, staleMs = 1000L, skewMarginMs = 0L) {
            fail("contender reclaimed a heartbeating holder's lease")
          } catch { case _: IllegalStateException => contenderRejected.incrementAndGet(): Unit }
        }
      }
      assert(contenderRejected.get() == 3)
      // released cleanly: the next coordinator acquires immediately
      Store.withCompactionLease(store, staleMs = 1000L, skewMarginMs = 0L) { () }
    } finally sweep(store)
  }

  test("lease ownership token: an overrun holder never deletes its successor's lease") {
    // simulate the reclaim-while-running shape directly: mid-body, the
    // lease is replaced by a successor's (foreign token). The finally
    // must verify ownership and LEAVE the foreign lease in place —
    // deleting it would admit a third coordinator.
    val store = freshStore()
    try {
      new java.io.File(store).mkdirs()
      val lease = new java.io.File(store + ".lease")
      Store.withCompactionLease(store) {
        java.nio.file.Files.write(lease.toPath, "successor-token".getBytes)
      }
      assert(lease.exists(), "release must not delete a lease it no longer owns")
      assert(new String(java.nio.file.Files.readAllBytes(lease.toPath)) == "successor-token")
      lease.delete(): Unit
    } finally sweep(store)
  }

  test("maintain() from the single writer immediately after parallel appends folds all of them") {
    val store = freshStore()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until 4).map { i =>
        Future {
          Store.appendIdempotent(Seq((i.toLong, i.toLong)).toDF("writer", "n"),
            store, id = s"m$i")
        }
      }
      Await.result(Future.sequence(fs), 120.seconds)
      // writers have quiesced: the coordinator compacts (the contract's
      // intended usage) and nothing is lost, markers keep replays no-ops
      Store.maintain(spark, store, every = 1, numFiles = 1)
      assert(Store.deltaCount(store) == 0)
      assert(Store.read(spark, store).count() == 4)
      assert(!Store.appendIdempotent(Seq((9L, 9L)).toDF("writer", "n"),
        store, id = "m0"), "post-compaction replay must still skip")
    } finally { pool.shutdown(); sweep(store) }
  }
}
