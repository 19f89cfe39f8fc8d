package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{BloomIndex, Layout, Tables, ZoneMaps}

/** Driver face for [[graft.sources.ZoneMaps]] — the data-skipping scan.
  *
  * The query lays out a clustered copy of lineitem (range-sliced on
  * l_shipdate, the layout that MAKES zone maps effective), builds the
  * per-file stats table, then answers a quarter-range revenue rollup
  * reading only files whose range intersects the predicate.
  *
  * The ORACLE deliberately checks the aggregate against the ORIGINAL
  * table: data skipping is an access-path optimization and must be
  * result-invisible — the hash proves the pruned scan loses and invents
  * nothing. How MUCH was pruned is pinned in ZoneMapsSpec instead:
  * `repartitionByRange`'s sampler makes the exact file boundaries
  * session-dependent, so a file count would be a flaky oracle but is a
  * sound spec assertion (strictly fewer files than the layout's total).
  */
object ZoneScan {

  /** Both admission halves shaped through ONE sampler pass and ONE range
    * shuffle (r14, guide §2.4 "share one exchange"): the per-half
    * `repartitionByRange` paid a sample job plus a full scan-and-shuffle
    * EACH — 4 scans of the fact table for 2 admits. Range-partitioning on
    * (half, key) instead produces the same per-half layout (each half's
    * rows land in ~`partsPerHalf` contiguous key ranges, sorted within
    * files; the half boundary adds at most one straddling partition), and
    * the eager checkpoint lets both delta writes read the
    * already-shuffled blocks — 2 scans total, one sampler. The half split
    * is the same pmod(xxhash64(l_orderkey), 2) as before, so each delta
    * carries exactly the rows it used to; file-boundary placement within
    * a half may differ by the shared sampler, which the oracles are
    * immune to by design (skipping is result-invisible; the pruning-ratio
    * specs pin their own fixtures, not these queries' file counts).
    *
    * The third element RELEASES the checkpoint's block-manager storage —
    * callers invoke it after the second admit, so a long-lived session
    * (the bench JVM, a deployment) doesn't accrete a fact-table-sized
    * checkpoint per query until GC gets around to it (measured: lingering
    * blocks degraded UNRELATED later queries in the same bench JVM). */
  private def shapedHalves(li: DataFrame, rangeCol: String,
      partsPerHalf: Int): (DataFrame, DataFrame, () => Unit) = {
    import li.sparkSession.implicits._
    val all = li
      .withColumn("__half", pmod(xxhash64($"l_orderkey"), lit(2)))
      .repartitionByRange(2 * partsPerHalf, $"__half", col(rangeCol))
      .sortWithinPartitions($"__half", col(rangeCol))
      .localCheckpoint(true)
    (all.filter($"__half" === 0).drop("__half"),
      all.filter($"__half" === 1).drop("__half"),
      () => org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(all))
  }

  /** Name prefix of [[admitPool]]'s threads. */
  private[graft] val AdmitThreadPrefix = "graft-admit-"

  /** The pool [[bothAdmits]] runs its halves on: a fixed number of named
    * daemon threads (`graft-admit-<n>`), so concurrent callers queue
    * instead of sharing the global fork-join pool with unrelated work, a
    * JVM never waits on an admit thread to exit, and idle threads retire
    * after 30 s. Four threads let two callers overlap their halves. A
    * half must not call [[bothAdmits]] itself: it would wait on threads
    * its own caller may hold. */
  private lazy val admitPool: scala.concurrent.ExecutionContext = {
    import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val pool = new ThreadPoolExecutor(4, 4, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"$AdmitThreadPrefix${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    scala.concurrent.ExecutionContext.fromExecutorService(pool)
  }

  /** Run two INDEPENDENT admissions concurrently (r14, guide §2.6 —
    * overlap independent jobs): actions are only sequential because the
    * driver calls them sequentially, and the Store protocol supports
    * concurrent writers by design (shared-side admission lock, per-id
    * staging siblings, pinned by the multi-JVM contest). The two halves
    * carry disjoint batch ids, so overlapping them back-fills the first
    * admit's straggler tail with the second's map work. Used ONLY where
    * the operator contract has no admission-order requirement — the
    * chronological event slices (IncrementalGraph) and the
    * admit→compact→admit interleavings (q83/q84) stay sequential.
    *
    * BOTH halves are awaited before anything is rethrown: callers delete
    * the temp store in a `finally`, which must never run under a sibling
    * that is still writing. The first failure surfaces, with the second
    * attached as suppressed. There is deliberately no timeout — a wait
    * that gave up would return while the sibling still writes, the same
    * race again. The halves run on [[admitPool]], under the caller's
    * query and phase tags ([[Phases.carried]]). */
  private[graft] def bothAdmits[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success}
    implicit val ec: scala.concurrent.ExecutionContext = admitPool
    val (ra, rb) = (Phases.carried(a), Phases.carried(b))
    val fa = Future(ra())
    val fb = Future(rb())
    (Await.ready(fa, Duration.Inf).value.get,
      Await.ready(fb, Duration.Inf).value.get) match {
      case (Success(x), Success(y)) => (x, y)
      case (Failure(e), rb) =>
        rb.failed.foreach(e.addSuppressed)
        throw e
      case (_, Failure(e)) => throw e
    }
  }

  def q79ZonemapScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zone_")
    val (dataDir, statsDir) =
      (s"$base/data", s"$base/stats")
    try {
      Layout.writeClustered(Tables.lineitem(spark, dir), dataDir,
        Seq("l_shipdate"), numFiles = 16)
      ZoneMaps.build(spark, dataDir, Seq("l_shipdate"), statsDir)
      val (slice, _) = ZoneMaps.scanPruned(spark, dataDir, statsDir,
        "l_shipdate", lit("1997-01-01").cast("timestamp"),
        lit("1997-04-01").cast("timestamp"))
      slice
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_extendedprice".cast("decimal(14,2)") *
            (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
            .cast("double").as("revenue"))
        .orderBy($"l_returnflag")
        .localCheckpoint(true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q79Sql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
      |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-04-01'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Point lookup through the per-file Bloom index
    * ([[graft.sources.BloomIndex]]) — the equality-probe complement of
    * q79's range pruning. Lays out a clustered copy of lineitem keyed on
    * l_orderkey, builds the per-file blooms, and fetches ONE order's
    * lines reading only files whose filter might contain the key. The
    * probe key is max(l_orderkey) — deterministic and oracle-expressible;
    * the 1-row agg collect is bounded by construction. As with q79, the
    * oracle checks the result against the ORIGINAL table (skipping must
    * be result-invisible); how many files were pruned is pinned in
    * BloomIndexSpec (file counts depend on the range sampler). */
  def q82BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloom_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      Layout.writeClustered(li, dataDir, Seq("l_orderkey"), numFiles = 16)
      BloomIndex.build(spark, dataDir, "l_orderkey", statsDir,
        expectedPerFile = 100000L)
      val key = li.agg(max($"l_orderkey")).as[Long].head() // bounded: 1 row
      val (rows, _) = BloomIndex.scanPointLookup(spark, dataDir, statsDir,
        "l_orderkey", lit(key))
      rows
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
        .orderBy($"l_linenumber")
        .localCheckpoint(true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  /** The INCREMENTAL face of the Bloom index — a bloom-indexed
    * [[graft.sources.Store]]: lineitem admitted in two interleaved halves
    * (per-delta blooms ride each admission under the same idempotency
    * id), the data store compacted mid-stream (which renames every file
    * and makes all stats stale — lookups stay CORRECT via the
    * uncovered-file fallback), the index healed by maintainIndex, and the
    * point lookup served from store + index alone. Same oracle as q82:
    * the entire admit/compact/heal protocol must be result-invisible. */
  def q83BloomIndexedStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloomstore_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val h0 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 0)
      val h1 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 1)
      Phases.time("admit") {
        BloomIndex.admitIndexed(h0, dataDir, statsDir, "l_orderkey", "h0"): Unit
      }
      Phases.time("build") { // maintenance: the once-per-epoch cost
        graft.sources.Store.compact(spark, dataDir, numFiles = 4)
      }
      Phases.time("admit") {
        BloomIndex.admitIndexed(h1, dataDir, statsDir, "l_orderkey", "h1"): Unit
      }
      Phases.time("build") {
        // SELECTIVE maintenance (round-12): fold only the h1 delta — the
        // compacted generation keeps its names/bytes (hard-linked), its
        // stats rows stay valid, and the heal covers just the fold
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 64L << 20): Unit
        BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      }
      // key derivation scans the RAW table — bench scaffolding, not a cost
      // any phase should claim (the serve number is what a deployed reader
      // pays per lookup)
      val key = li.agg(max($"l_orderkey")).as[Long].head() // bounded: 1 row
      Phases.time("serve") {
        val (rows, _) = BloomIndex.lookupIndexed(spark, dataDir, statsDir,
          "l_orderkey", lit(key))
        rows
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
          .orderBy($"l_linenumber")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q82Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
      |ORDER BY l_linenumber""".stripMargin

  /** The INCREMENTAL face of the zone map — a zone-mapped
    * [[graft.sources.Store]] whose RANGE pruning survives maintenance:
    * lineitem admitted in two range-shaped halves (per-file min/max stats
    * ride each admission), the data store compacted mid-stream WITH
    * `clusterBy = l_shipdate` (the order-preserving rewrite — a
    * round-robin compact would hand every file the full date range and
    * permanently kill skipping, the r10 verdict's #1 gap), the index
    * healed by maintainIndex, and a quarter-range revenue rollup served
    * from store + index alone. Same oracle as q79: the whole
    * admit/compact/heal protocol must be result-invisible. */
  def q84ZoneIndexedStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zonestore_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val (shaped0, shaped1, release) = Phases.time("admit") {
        shapedHalves(li, "l_shipdate", 8)
      }
      Phases.time("admit") {
        ZoneMaps.admitIndexed(shaped0,
          dataDir, statsDir, Seq("l_shipdate"), "h0"): Unit
      }
      Phases.time("build") { // maintenance: ORDER-PRESERVING rewrite
        graft.sources.Store.compact(spark, dataDir, numFiles = 8,
          clusterBy = Seq("l_shipdate"))
      }
      Phases.time("admit") {
        ZoneMaps.admitIndexed(shaped1,
          dataDir, statsDir, Seq("l_shipdate"), "h1"): Unit
        release()
      }
      Phases.time("build") {
        // SELECTIVE clustered maintenance (round-12): only h1's delta is
        // re-clustered; the compacted generation keeps its files (and its
        // zone stats) — the two generations' ranges overlap only at
        // boundaries, so pruning still holds on both
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 64L << 20,
          clusterBy = Seq("l_shipdate")): Unit
        ZoneMaps.maintainIndex(spark, dataDir, statsDir, Seq("l_shipdate"))
      }
      Phases.time("serve") {
        val (slice, _) = ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir,
          Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
            lit("1997-04-01").cast("timestamp"))))
        slice
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_lines"),
            sum($"l_extendedprice".cast("decimal(14,2)") *
              (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
              .cast("double").as("revenue"))
          .orderBy($"l_returnflag")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  /** COUNT pushdown to metadata ([[graft.sources.ZoneMaps.countRangeIndexed]])
    * — the aggregate that never reads the interior: over the same zone-
    * indexed store as q84 (admit -> order-preserving compact -> heal),
    * "how many lines shipped in Q1/H1 1997" is answered from per-file
    * `n_rows - nulls` for every fully-contained file, scanning only the
    * boundary-straddling files. The oracle recomputes both counts from
    * the raw table — the metadata/scan split must be result-invisible;
    * how FEW files are scanned is pinned in ZoneMapStoreSpec. */
  def q87ZoneCountPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zonecount_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      Phases.time("admit") {
        val (shaped0, shaped1, release) = shapedHalves(li, "l_shipdate", 8)
        ZoneMaps.admitIndexed(shaped0, dataDir, statsDir, Seq("l_shipdate"), "h0"): Unit
        ZoneMaps.admitIndexed(shaped1, dataDir, statsDir, Seq("l_shipdate"), "h1"): Unit
        release()
      }
      Phases.time("build") {
        // selective clustered fold (round-12): here every entry is a delta
        // so everything folds, but the maintenance path — and its
        // byte-derived output sizing — is the one a production store runs
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 256L << 10,
          clusterBy = Seq("l_shipdate")): Unit
        ZoneMaps.maintainIndex(spark, dataDir, statsDir, Seq("l_shipdate"))
      }
      Phases.time("serve") {
        def cnt(hi: String): Long = ZoneMaps.countRangeIndexed(spark, dataDir,
          statsDir, Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
            lit(hi).cast("timestamp"))))._1
        Seq((cnt("1997-04-01"), cnt("1997-07-01"))).toDF("n_q1", "n_h1")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q87Sql: String =
    """SELECT
      |  (SELECT count(*) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-04-01') AS n_q1,
      |  (SELECT count(*) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-07-01') AS n_h1""".stripMargin

  /** Join-driven file pruning ([[graft.sources.BloomIndex.prunedJoinScan]])
    * — the star-join completion of the skipping family: q32 prunes row
    * groups WITHIN a scan from a runtime bloom, q82 prunes files for a
    * LITERAL key; this prunes the fact side's FILE SET from a selective
    * dim side's key set before the join. Lineitem admitted bloom-indexed
    * on l_orderkey (64 range slices, stats riding the admissions); the
    * dim is a 1-month 1-URGENT slice of orders (~0.25%); the fact scan
    * reads only files whose bloom might hold a dim key, then the ordinary
    * broadcast join + rollup runs. Oracle: the same join over the
    * original tables — file skipping must be result-invisible. How MUCH
    * is pruned is pinned in BloomIndexSpec (survivor counts follow the
    * keys-to-files ratio: strong at 10^6 files or a concentrated dim,
    * modest at 64 files x 38 scattered keys — the spec pins both). */
  def q85JoinFilePruning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_joinprune_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      Phases.time("admit") {
        val li = Tables.lineitem(spark, dir)
        val (shaped0, shaped1, release) = shapedHalves(li, "l_orderkey", 32)
        BloomIndex.admitIndexed(shaped0, dataDir, statsDir,
          "l_orderkey", "h0", expectedPerFile = 100000L): Unit
        BloomIndex.admitIndexed(shaped1, dataDir, statsDir,
          "l_orderkey", "h1", expectedPerFile = 100000L): Unit
        release()
      }
      Phases.time("serve") {
        val dim = Tables.orders(spark, dir)
          .filter($"o_orderdate" >= lit("1997-03-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-04-01").cast("timestamp") &&
            $"o_orderpriority" === "1-URGENT")
        val (fact, _) = BloomIndex.prunedJoinScan(spark, dataDir, statsDir,
          "l_orderkey", dim.select($"o_orderkey"))
        fact.join(broadcast(dim), $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_lines"),
            sum($"l_extendedprice".cast("decimal(14,2)") *
              (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(4,2)")))
              .cast("double").as("revenue"))
          .orderBy($"l_returnflag")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q85Sql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)) *
      |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |    AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1997-03-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** BATCHED point lookup over the bloom-indexed Store
    * ([[graft.sources.BloomIndex.lookupIndexedBatch]]): the same
    * admit/heal protocol as q83, then BOTH the max and the min order key
    * fetched through ONE stats pass — the shape production lookup traffic
    * actually has (K keys per request, not one), where K sequential
    * probes would pay K stats scans. Oracle: the union of the two keys'
    * lines from the original table — the batch path must be
    * result-identical to two single lookups. */
  def q86BloomLookupBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloombatch_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val h0 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 0)
      val h1 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 1)
      Phases.time("admit") {
        bothAdmits(
          BloomIndex.admitIndexed(h0, dataDir, statsDir, "l_orderkey", "h0"),
          BloomIndex.admitIndexed(h1, dataDir, statsDir, "l_orderkey", "h1")): Unit
      }
      Phases.time("build") {
        BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      }
      val (lo, hi) = li.agg(min($"l_orderkey"), max($"l_orderkey"))
        .as[(Long, Long)].head() // bounded: 1 row
      Phases.time("serve") {
        val (rows, _, _) = BloomIndex.lookupIndexedBatch(spark, dataDir,
          statsDir, "l_orderkey", Seq(lit(lo), lit(hi)))
        rows
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
          .orderBy($"l_orderkey", $"l_linenumber")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q86Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
      |   OR l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** MIN/MAX pushdown to zone metadata
    * ([[graft.sources.ZoneMaps.minMaxRangeIndexed]]) — q87's sibling: over
    * the same admit → selective clustered compact → heal protocol, the
    * min/max sale price inside Q1-1997 and the exact first/last ship date
    * inside H1-1997 are answered from covered files' stored stats,
    * scanning only boundary files. Tracking (l_shipdate, l_extendedprice)
    * together is the production shape: cluster on the predicate column,
    * carry the answer columns' ranges as passengers. The oracle recomputes
    * all four scalars from the raw table — the metadata/scan split must be
    * result-invisible; how few files scan is pinned in ZoneMapStoreSpec. */
  def q89ZoneMinMaxPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zoneminmax_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val cols = Seq("l_shipdate", "l_extendedprice")
      Phases.time("admit") {
        val (shaped0, shaped1, release) = shapedHalves(li, "l_shipdate", 8)
        ZoneMaps.admitIndexed(shaped0, dataDir, statsDir, cols, "h0"): Unit
        ZoneMaps.admitIndexed(shaped1, dataDir, statsDir, cols, "h1"): Unit
        release()
      }
      Phases.time("build") {
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 256L << 10,
          clusterBy = Seq("l_shipdate")): Unit
        ZoneMaps.maintainIndex(spark, dataDir, statsDir, cols)
      }
      Phases.time("serve") {
        val q1 = Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
          lit("1997-04-01").cast("timestamp")))
        val h1 = Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
          lit("1997-07-01").cast("timestamp")))
        val (price, _) = ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir,
          q1, "l_extendedprice")
        val (dates, _) = ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir,
          h1, "l_shipdate")
        // both are 1-row aggregates BY CONSTRUCTION: assemble the result
        // row driver-side instead of cross-joining two checkpoint scans
        // (a BNLJ whose build side the plan linter cannot prove bounded)
        val (p, d) = (price.head(), dates.head()) // bounded: 1-row aggs
        import org.apache.spark.sql.types.{StructField, StructType}
        spark.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(p.get(0), p.get(1), d.get(0), d.get(1))),
          StructType(Seq(
            StructField("min_price", price.schema(0).dataType),
            StructField("max_price", price.schema(1).dataType),
            StructField("min_sd", dates.schema(0).dataType),
            StructField("max_sd", dates.schema(1).dataType))))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q89Sql: String =
    """SELECT
      |  (SELECT min(l_extendedprice) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-04-01') AS min_price,
      |  (SELECT max(l_extendedprice) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-04-01') AS max_price,
      |  (SELECT min(l_shipdate) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-07-01') AS min_sd,
      |  (SELECT max(l_shipdate) FROM lineitem
      |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |       AND l_shipdate <  TIMESTAMP '1997-07-01') AS max_sd""".stripMargin

  /** The Store DELETE face ([[graft.sources.Store.deleteByKeys]] /
    * [[graft.sources.Store.compact]]) — takedown semantics for
    * a corpus lake: lineitem admitted in two idempotent halves, every
    * tenth order key tombstoned (a crash-safe admission like any other),
    * the deleting compaction physically dropping the banned rows AND
    * consuming the tombstones, and the rollup served from the live read.
    * The oracle recomputes the survivor aggregate from the raw table —
    * admission, tombstone suppression, physical drop, and tombstone
    * retirement must compose to exactly "corpus minus the banned keys".
    * Replay idempotency, pre-compaction suppression, re-admission
    * semantics, and index composition are pinned in StoreDeleteSpec. */
  def q88StoreDelete(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_delstore_")
    val dataDir = s"$base/data"
    try {
      val li = Tables.lineitem(spark, dir)
      val h0 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 0)
      val h1 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 1)
      Phases.time("admit") {
        bothAdmits(
          graft.sources.Store.appendIdempotent(h0, dataDir, "h0"),
          graft.sources.Store.appendIdempotent(h1, dataDir, "h1")): Unit
      }
      Phases.time("admit") { // the takedown batch, admitted like any other
        graft.sources.Store.deleteByKeys(
          li.filter(pmod($"l_orderkey", lit(10)) === 3)
            .select($"l_orderkey").distinct(),
          dataDir, Some("takedown1")): Unit
      }
      Phases.time("build") { // deleting compaction: drop + retire
        graft.sources.Store.compact(spark, dataDir, numFiles = 4)
      }
      Phases.time("serve") {
        graft.sources.Store.readLive(spark, dataDir)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_lines"),
            sum($"l_quantity".cast("decimal(14,2)")).cast("double").as("sum_qty"))
          .orderBy($"l_returnflag")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q88Sql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey % 10 <> 3
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** COMPOSITE-key point lookup over the bloom-indexed Store
    * ([[graft.sources.BloomIndex.admitIndexedMulti]] /
    * [[graft.sources.BloomIndex.lookupIndexedMulti]]): production point
    * lookups are often multi-column — here (l_orderkey, l_linenumber),
    * the lineitem primary key. The per-file bloom holds the variadic
    * `xxhash64` of both columns; the key-column contract rides a sidecar
    * so a mismatched-arity probe is rejected instead of silently pruning
    * everything (spec-pinned in CompositeKeyBloomSpec). Protocol: admit
    * two halves, selective compact, heal, serve ONE exact line. Oracle:
    * the same two-column equality on the raw table. */
  def q90BloomCompositeLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_bloomcomp_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val keyCols = Seq("l_orderkey", "l_linenumber")
      val h0 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 0)
      val h1 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 1)
      Phases.time("admit") {
        bothAdmits(
          BloomIndex.admitIndexedMulti(h0, dataDir, statsDir, keyCols, "h0"),
          BloomIndex.admitIndexedMulti(h1, dataDir, statsDir, keyCols, "h1")): Unit
      }
      Phases.time("build") {
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 64L << 20): Unit
        BloomIndex.maintainIndexMulti(spark, dataDir, statsDir, keyCols)
      }
      val key = li.agg(max($"l_orderkey")).as[Long].head() // bounded: 1 row
      Phases.time("serve") {
        val (rows, _) = BloomIndex.lookupIndexedMulti(spark, dataDir,
          statsDir, keyCols, Seq(lit(key), lit(1).cast("int")))
        rows
          .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q90Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
      |  AND l_linenumber = 1""".stripMargin

  /** SUM/AVG pushdown to zone metadata
    * ([[graft.sources.ZoneMaps.sumRangeIndexed]]) — completes the
    * aggregate-pushdown family (q87 COUNT, q89 MIN/MAX): the Q1-1997
    * quantity SUM, non-null COUNT, and their AVG are answered from
    * covered files' stored per-file sums, scanning only boundary files.
    * l_quantity is integer-valued, so the metadata sum (sum of per-file
    * sums) is exact in any addition order and hash-matches the oracle's
    * full-table sum. The metadata/scan split must be result-invisible;
    * eligibility proofs (pre-sum rows, all-null slices, untracked
    * targets) are pinned in ZoneMapStoreSpec. */
  def q91ZoneSumPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zonesum_")
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val li = Tables.lineitem(spark, dir)
      val cols = Seq("l_shipdate", "l_quantity")
      Phases.time("admit") {
        val (shaped0, shaped1, release) = shapedHalves(li, "l_shipdate", 8)
        ZoneMaps.admitIndexed(shaped0, dataDir, statsDir, cols, "h0"): Unit
        ZoneMaps.admitIndexed(shaped1, dataDir, statsDir, cols, "h1"): Unit
        release()
      }
      Phases.time("build") {
        graft.sources.Store.compactSelective(spark, dataDir,
          minFileBytes = 1L, targetBytes = 256L << 10,
          clusterBy = Seq("l_shipdate")): Unit
        ZoneMaps.maintainIndex(spark, dataDir, statsDir, cols)
      }
      Phases.time("serve") {
        val q1 = Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
          lit("1997-04-01").cast("timestamp")))
        val (agg, _) = ZoneMaps.sumRangeIndexed(spark, dataDir, statsDir,
          q1, "l_quantity")
        agg.select($"sum_l_quantity".as("sum_qty"),
            $"cnt_l_quantity".as("cnt_qty"),
            ($"sum_l_quantity" / $"cnt_l_quantity").as("avg_qty"))
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }

  val q91Sql: String =
    """SELECT sum(l_quantity) AS sum_qty,
      |       count(l_quantity) AS cnt_qty,
      |       sum(l_quantity) / count(l_quantity) AS avg_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-04-01'""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q79_zonemap_scan" -> (q79ZonemapScan _),
    "q82_bloom_lookup" -> (q82BloomLookup _),
    "q83_bloom_indexed_store" -> (q83BloomIndexedStore _),
    "q84_zone_indexed_store" -> (q84ZoneIndexedStore _),
    "q85_join_file_pruning" -> (q85JoinFilePruning _),
    "q86_bloom_lookup_batch" -> (q86BloomLookupBatch _),
    "q87_zone_count_pushdown" -> (q87ZoneCountPushdown _),
    "q88_store_delete" -> (q88StoreDelete _),
    "q89_zone_minmax_pushdown" -> (q89ZoneMinMaxPushdown _),
    "q90_bloom_composite_lookup" -> (q90BloomCompositeLookup _),
    "q91_zone_sum_pushdown" -> (q91ZoneSumPushdown _))

  val oracles: Map[String, String] = Map(
    "q79_zonemap_scan" -> q79Sql,
    "q82_bloom_lookup" -> q82Sql,
    "q83_bloom_indexed_store" -> q82Sql,
    "q84_zone_indexed_store" -> q79Sql,
    "q85_join_file_pruning" -> q85Sql,
    "q86_bloom_lookup_batch" -> q86Sql,
    "q87_zone_count_pushdown" -> q87Sql,
    "q88_store_delete" -> q88Sql,
    "q89_zone_minmax_pushdown" -> q89Sql,
    "q90_bloom_composite_lookup" -> q90Sql,
    "q91_zone_sum_pushdown" -> q91Sql)
}
