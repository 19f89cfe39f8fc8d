package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, ServeCache, Store, ZoneMaps}

/** The serve-path stats cache (round-12 verdict #5): point lookups against
  * a warm bloom-indexed store must not pay a Spark job for the stats
  * decision — the filters live driver-side, keyed by the stats store's
  * content version.
  *
  *  - warm probe: ZERO stats executions (only the candidate read runs);
  *  - a racing DATA admit under a stale cache still returns exact rows
  *    (the new file is uncovered -> scanned unconditionally);
  *  - a stats-store change from outside this JVM (version drift) triggers
  *    exactly one refresh, then probes are in-process again;
  *  - admissions in this JVM invalidate proactively;
  *  - an over-budget store falls back to the distributed pass with
  *    identical results — on the bloom face and on every zone face.
  */
class ServeCacheSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_servecache_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private def batch(grp: Int, n: Int) =
    spark.range(0, n.toLong)
      .select(($"id" + grp * 100000L).as("k"),
        concat(lit(s"g$grp-"), $"id").as("payload"))
      .coalesce(1)

  /** Run `body` counting how many query executions it triggers. */
  private def countingExecutions[A](body: => A): (A, Int) = {
    val captured = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { captured.add(qe.executedPlan): Unit }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // flush events from EARLIER actions before registering: the bus is
    // async, and under a loaded full-suite run a preceding write's
    // onSuccess can otherwise land inside the counted window
    GraftBridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val a = body
      GraftBridge.drainListenerBus(spark)
      (a, captured.size)
    } finally spark.listenerManager.unregister(listener)
  }

  private def probe(dataDir: String, statsDir: String, k: Long)
      : (Seq[String], (Int, Int), Int) = {
    val ((rows, counts), execs) = countingExecutions {
      val (df, c) = BloomIndex.lookupIndexed(spark, dataDir, statsDir,
        "k", lit(k))
      (df.collect().map(_.getAs[String]("payload")).toSeq.sorted, c)
    }
    (rows, counts, execs)
  }

  test("warm probe runs zero stats executions; racing data admit degrades to scanning, exact rows") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      (0 until 4).foreach { g =>
        assert(BloomIndex.admitIndexed(batch(g, 1000), dataDir, statsDir,
          "k", s"b$g"))
      }
      // cold probe warms the cache (one refresh execution + the read)
      val (r0, (read0, total0), _) = probe(dataDir, statsDir, 100007L)
      assert(total0 == 4 && read0 <= 2 && r0 == Seq("g1-7"))
      // warm probe: the ONLY execution is the candidate-file read
      val (r1, (read1, _), execs1) = probe(dataDir, statsDir, 200042L)
      assert(r1 == Seq("g2-42") && read1 <= 2)
      assert(execs1 == 1,
        s"warm probe must not run a stats job: $execs1 executions")
      // absent key: zero candidate files -> zero executions end to end
      val (rA, (readA, _), execsA) = probe(dataDir, statsDir, 999999999L)
      assert(rA.isEmpty && readA <= 1)
      assert(execsA <= 1, s"absent-key probe ran $execsA executions")
      // racing DATA admit (no stats — the crash window): the stats store
      // is untouched, the cache stays version-valid, and the new file
      // must be read UNCONDITIONALLY — exact rows, zero false pruning
      assert(Store.appendIdempotent(batch(9, 50), dataDir, "race"))
      val (r2, (read2, total2), execs2) = probe(dataDir, statsDir, 900004L)
      assert(total2 == 5)
      assert(r2 == Seq("g9-4"),
        s"stale cache must DEGRADE TO SCANNING, never lose rows: $r2")
      assert(read2 >= 1, "the uncovered file must be in the read set")
      assert(execs2 == 1, s"still served from cache: $execs2 executions")
      // and the old keys still resolve exactly (uncovered file scanned
      // alongside, bloom-pruned files stay pruned)
      val (r3, (read3, _), _) = probe(dataDir, statsDir, 100007L)
      assert(r3 == Seq("g1-7") && read3 <= 3)
    } finally sweep(base)
  }

  test("version drift from an outside writer triggers exactly one refresh; this-JVM admits invalidate proactively") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      assert(BloomIndex.admitIndexed(batch(0, 1000), dataDir, statsDir,
        "k", "b0"))
      probe(dataDir, statsDir, 7L) // warm
      val (_, _, warmExecs) = probe(dataDir, statsDir, 8L)
      assert(warmExecs == 1)
      // OUTSIDE writer: change the stats store without going through this
      // JVM's BloomIndex (mtime bump on a stats entry = listing change)
      val entry = new java.io.File(statsDir).listFiles()
        .filter(!_.getName.startsWith(".")).head
      assert(entry.setLastModified(entry.lastModified() + 12345L))
      val (r, _, driftExecs) = probe(dataDir, statsDir, 9L)
      assert(r == Seq("g0-9"))
      assert(driftExecs == 2,
        s"version drift must trigger exactly one refresh: $driftExecs")
      val (_, _, reWarmExecs) = probe(dataDir, statsDir, 10L)
      assert(reWarmExecs == 1, "back to in-process probes after refresh")
      // this-JVM admit invalidates proactively: next probe refreshes and
      // must see the NEW batch pruned correctly
      assert(BloomIndex.admitIndexed(batch(1, 1000), dataDir, statsDir,
        "k", "b1"))
      val (rNew, (readNew, totalNew), _) = probe(dataDir, statsDir, 100005L)
      assert(rNew == Seq("g1-5") && totalNew == 2 && readNew <= 2)
      val (_, _, warmAgain) = probe(dataDir, statsDir, 100006L)
      assert(warmAgain == 1)
    } finally sweep(base)
  }

  test("over-budget store falls back to the distributed pass with identical results") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      (0 until 3).foreach { g =>
        assert(BloomIndex.admitIndexed(batch(g, 500), dataDir, statsDir,
          "k", s"b$g"))
      }
      // the zone faces share the one budget: answers and (scanned, total)
      // read from parquet must equal those served from the warm cache
      val (zData, zStats) = (s"$base/zdata", s"$base/zstats")
      val rows = spark.range(0, 10000)
        .select($"id", pmod($"id", lit(1000)).as("v"))
      ZoneMaps.admitIndexed(
        rows.repartitionByRange(8, $"v").sortWithinPartitions($"v"),
        zData, zStats, Seq("v", "id"), "z0"): Unit
      val preds = Seq(("v", lit(100L), lit(900L)))
      def zoneAnswers() = {
        val (n, nFiles) = ZoneMaps.countRangeIndexed(spark, zData, zStats, preds)
        val (mm, mmFiles) = ZoneMaps.minMaxRangeIndexed(spark, zData, zStats,
          preds, "id")
        val (sm, smFiles) = ZoneMaps.sumRangeIndexed(spark, zData, zStats,
          preds, "id")
        val (lk, lkFiles) = ZoneMaps.lookupRangeIndexed(spark, zData, zStats,
          preds)
        Seq(n -> nFiles, mm.head().toSeq -> mmFiles,
          sm.head().toSeq -> smFiles, lk.count() -> lkFiles)
      }
      zoneAnswers() // warm
      val warm = zoneAnswers()
      val (_, (zScanned, zTotal)) = warm.head
      assert(zScanned >= 1 && zScanned < zTotal, s"boundary files only: $warm")
      val wasBudget = ServeCache.maxBytes
      try {
        ServeCache.maxBytes = 0L
        val (r, (read, total), execs) = probe(dataDir, statsDir, 200013L)
        assert(r == Seq("g2-13") && total == 3 && read <= 2)
        assert(execs == 2,
          s"over budget must run the distributed stats pass: $execs")
        assert(zoneAnswers() == warm, "over-budget zone faces diverged")
      } finally ServeCache.maxBytes = wasBudget
      // budget restored: serving resumes
      probe(dataDir, statsDir, 13L) // warm
      val (_, _, execs2) = probe(dataDir, statsDir, 14L)
      assert(execs2 == 1)
    } finally sweep(base)
  }

  test("expression-valued probe keys fall back to the distributed pass, exact rows") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      assert(BloomIndex.admitIndexed(batch(0, 100), dataDir, statsDir,
        "k", "b0"))
      probe(dataDir, statsDir, 0L) // warm
      // a composite expression (`lit(3)+lit(4)`) is UNRESOLVED until the
      // analyzer binds it — the driver must NOT guess its hash (a wrong
      // guess would wrongly prune the owning file); the lookup falls back
      // to the distributed stats pass and still answers exactly
      val ((rows, (read, total)), execs) = countingExecutions {
        val (df, c) = BloomIndex.lookupIndexed(spark, dataDir, statsDir,
          "k", lit(3L) + lit(4L))
        (df.collect().map(_.getAs[String]("payload")).toSeq, c)
      }
      assert(rows == Seq("g0-7"), s"expression probe lost its row: $rows")
      assert(read <= total)
      assert(execs == 2,
        s"expression probe must run the distributed pass: $execs executions")
    } finally sweep(base)
  }
}
