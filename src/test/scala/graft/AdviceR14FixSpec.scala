package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ZoneScan
import graft.sources.{BloomIndex, ProtocolPoints, Store}

/** Pins two round-14 ADVICE findings on the Store write path.
  *
  *  1. Sidecar publish (`.keycols`, `.keycol`): the temp-file write sat
  *     OUTSIDE the `try` whose `finally` deletes the temp file, so a failed
  *     write leaked a hidden `.tmp-<uuid>` sibling. Both sidecars now go
  *     through `Store.publishOnce`; a write that fails leaves nothing
  *     behind and a later publish succeeds.
  *  2. `ZoneScan.bothAdmits` rethrew the first half's failure while the
  *     second half could still be writing, so the caller's `finally`
  *     deleted the temp store under it. Both halves are now awaited first.
  */
class AdviceR14FixSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_advfix14_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private def tempFiles(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName).filter(_.contains(".tmp-"))

  /** Run `body` with the sidecar write failing after its temp file exists. */
  private def failingPublish[A](body: => A): Unit = {
    ProtocolPoints.install { p =>
      if (p == "publish.write") throw new java.io.IOException("disk full")
    }
    try intercept[java.io.IOException](body): Unit
    finally ProtocolPoints.uninstall()
  }

  test("sidecar publish: a failed write leaks no temp file; a later publish succeeds") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val rows = spark.range(0, 100).select($"id".as("k")).coalesce(1)
      // the bloom index's key-column sidecar
      failingPublish(BloomIndex.admitIndexed(rows, dataDir, statsDir, "k", "b0"))
      assert(tempFiles(base.toFile).isEmpty, tempFiles(base.toFile))
      assert(!new File(s"$statsDir.keycols").exists())
      assert(BloomIndex.admitIndexed(rows, dataDir, statsDir, "k", "b0"))
      val (hit, _) = BloomIndex.lookupIndexed(spark, dataDir, statsDir, "k", lit(42L))
      assert(hit.count() == 1)
      // the tombstone store's key-column sidecar
      failingPublish(Store.deleteByKeys(Seq(42L).toDF("k"), dataDir))
      assert(tempFiles(base.toFile).isEmpty, tempFiles(base.toFile))
      assert(Store.deleteByKeys(Seq(42L).toDF("k"), dataDir))
      assert(Store.publishOnce(new File(s"$dataDir.tombstones.keycol"), "k") == "k")
    } finally sweep(base)
  }

  test("bothAdmits: a failing half surfaces only after its sibling has finished") {
    val base = tmp()
    try {
      val injected = new RuntimeException("injected admit failure")
      val fired = new AtomicBoolean(false)
      val failing = new CountDownLatch(1)
      val siblingDone = new AtomicBoolean(false)
      // futures run on pool threads, so the hook is process-wide; it fires
      // once, in the first half — the second waits until that has thrown
      ProtocolPoints.installGlobal { p =>
        if (p == "store.staged" && fired.compareAndSet(false, true)) {
          failing.countDown()
          throw injected
        }
      }
      val rows = spark.range(0, 1000).toDF("k").coalesce(1)
      val caught =
        try intercept[RuntimeException] {
          ZoneScan.bothAdmits(
            Store.appendIdempotent(rows, s"$base/a", "a"),
            {
              assert(failing.await(60, TimeUnit.SECONDS))
              Thread.sleep(500) // an early rethrow would reach the caller first
              val ok = Store.appendIdempotent(rows, s"$base/b", "b")
              siblingDone.set(true)
              ok
            })
        } finally ProtocolPoints.uninstallGlobal()
      assert(caught eq injected)
      assert(siblingDone.get, "the exception reached the caller while the sibling still ran")
      assert(Store.read(spark, s"$base/b").count() == 1000)
      // both halves failing: the first surfaces, the second suppressed on it
      val (e1, e2) = (new RuntimeException("a"), new RuntimeException("b"))
      val both = intercept[RuntimeException](
        ZoneScan.bothAdmits[Unit, Unit](throw e1, throw e2))
      assert((both eq e1) && both.getSuppressed.toSeq == Seq(e2))
    } finally sweep(base)
  }
}
