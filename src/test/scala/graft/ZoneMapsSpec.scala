package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, Layout, Store, Tables, ZoneMaps}

/** Zone-map contract: pruning is result-invisible on ANY layout, effective
  * on a clustered one, exact (zero files) on an empty range, and
  * conservative on all-null slices.
  */
class ZoneMapsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_zm_spec_")

  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private val lo = lit("1997-01-01").cast("timestamp")
  private val hi = lit("1997-07-01").cast("timestamp")

  private def expected(): Map[Long, Long] = Tables.lineitem(spark, sf)
    .filter($"l_shipdate" >= lo && $"l_shipdate" < hi)
    .groupBy($"l_orderkey").count()
    .as[(Long, Long)].collect().toMap

  test("clustered layout: strictly fewer files read, identical rows") {
    val base = tmp()
    try {
      Layout.writeClustered(Tables.lineitem(spark, sf), s"$base/data",
        Seq("l_shipdate"), numFiles = 16)
      ZoneMaps.maintainIndex(spark, s"$base/data", s"$base/stats",
        Seq("l_shipdate"))
      val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(spark,
        s"$base/data", s"$base/stats", Seq(("l_shipdate", lo, hi)))
      assert(total == 16, s"expected 16 file slices, saw $total")
      assert(read < total,
        s"a half-year range over a 7-year clustered span must prune ($read/$total)")
      assert(read > 0)
      val got = df.groupBy($"l_orderkey").count()
        .as[(Long, Long)].collect().toMap
      assert(got == expected())
      // surviving files still push the residual predicate to row groups
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
        s"residual predicate must still reach parquet:\n$plan")
    } finally sweep(base)
  }

  test("adversarial random layout: nothing prunes, result still identical") {
    val base = tmp()
    try {
      // shuffle rows uniformly: every file straddles every date range
      Tables.lineitem(spark, sf).repartition(16)
        .write.parquet(s"$base/data")
      ZoneMaps.maintainIndex(spark, s"$base/data", s"$base/stats",
        Seq("l_shipdate"))
      val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(spark,
        s"$base/data", s"$base/stats", Seq(("l_shipdate", lo, hi)))
      assert(read == total,
        s"random layout cannot prune a mid-span range ($read/$total)")
      val got = df.groupBy($"l_orderkey").count()
        .as[(Long, Long)].collect().toMap
      assert(got == expected())
    } finally sweep(base)
  }

  test("range beyond the data: zero files read, empty frame, no data scan") {
    val base = tmp()
    try {
      Layout.writeClustered(Tables.lineitem(spark, sf), s"$base/data",
        Seq("l_shipdate"), numFiles = 8)
      ZoneMaps.maintainIndex(spark, s"$base/data", s"$base/stats",
        Seq("l_shipdate"))
      val (df, (read, _)) = ZoneMaps.lookupRangeIndexed(spark,
        s"$base/data", s"$base/stats", Seq(("l_shipdate",
          lit("2050-01-01").cast("timestamp"), lit("2051-01-01").cast("timestamp"))))
      assert(read == 0)
      assert(df.count() == 0)
      assert(df.schema.fieldNames.contains("l_orderkey"),
        "empty result must keep the data schema")
    } finally sweep(base)
  }

  test("all-null file slices are conservatively kept, not pruned") {
    val base = tmp()
    try {
      // two files: one real dates, one all-null tracked column
      Seq((1L, Some(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))),
        (2L, Some(java.sql.Timestamp.valueOf("1996-06-01 00:00:00"))))
        .toDF("id", "d").coalesce(1).write.parquet(s"$base/data")
      Seq((3L, None: Option[java.sql.Timestamp]), (4L, None))
        .toDF("id", "d").coalesce(1)
        .write.mode("append").parquet(s"$base/data")
      ZoneMaps.maintainIndex(spark, s"$base/data", s"$base/stats", Seq("d"))
      val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(spark,
        s"$base/data", s"$base/stats", Seq(("d",
          lit("1996-01-01").cast("timestamp"), lit("1997-01-01").cast("timestamp"))))
      assert(total == 2 && read == 2,
        s"a NULL-bounds file can never be excluded ($read/$total)")
      // the residual filter still removes the null rows from the result
      assert(df.select($"id").as[Long].collect().toSet == Set(1L, 2L))
    } finally sweep(base)
  }

  test("2-D box over z-order: both conjuncts prune; 1-D clustering can't prune the other dim") {
    val zBase = tmp()
    val cBase = tmp()
    try {
      val li = Tables.lineitem(spark, sf)
      // z-ordered on (partkey, suppkey): every file is a small 2-D box
      Layout.writeZOrdered(li, s"$zBase/data",
        Seq("l_partkey", "l_suppkey"), numFiles = 16)
      ZoneMaps.maintainIndex(spark, s"$zBase/data", s"$zBase/stats",
        Seq("l_partkey", "l_suppkey"))
      // linearly clustered on partkey only: suppkey spans every file
      Layout.writeClustered(li, s"$cBase/data",
        Seq("l_partkey"), numFiles = 16)
      ZoneMaps.maintainIndex(spark, s"$cBase/data", s"$cBase/stats",
        Seq("l_partkey", "l_suppkey"))

      val pk = li.agg(max($"l_partkey")).head().getLong(0)
      val sk = li.agg(max($"l_suppkey")).head().getLong(0)
      val box = Seq(
        ("l_partkey", lit(0L), lit(pk / 4 + 1)),
        ("l_suppkey", lit(0L), lit(sk / 4 + 1)))

      val (zdf, (zRead, zTotal)) =
        ZoneMaps.lookupRangeIndexed(spark, s"$zBase/data", s"$zBase/stats", box)
      val (cdf, (cRead, cTotal)) =
        ZoneMaps.lookupRangeIndexed(spark, s"$cBase/data", s"$cBase/stats", box)
      assert(zRead < zTotal, s"z-order must prune the 2-D box ($zRead/$zTotal)")
      // on the linear layout only the partkey conjunct prunes; the z-order
      // layout must do at least as well BECAUSE the suppkey conjunct also
      // bites there (a quarter-range box on 16 z-files)
      assert(zRead <= cRead,
        s"2-D layout must not read more than 1-D for a 2-D box ($zRead vs $cRead)")
      // suppkey-only predicate: linear-on-partkey layout reads EVERYTHING
      val (_, (sRead, sTotal)) = ZoneMaps.lookupRangeIndexed(
        spark, s"$cBase/data", s"$cBase/stats",
        Seq(("l_suppkey", lit(0L), lit(sk / 4 + 1))))
      assert(sRead == sTotal,
        s"the unclustered dimension cannot prune on a linear layout ($sRead/$sTotal)")
      // and both layouts agree with each other on the rows
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select($"l_orderkey", $"l_linenumber")
          .as[(Long, Int)].collect().toSet
      assert(key(zdf) == key(cdf) && key(zdf).nonEmpty)
    } finally { sweep(zBase); sweep(cBase) }
  }

  test("a plain directory grown after indexing: both faces read the new file as uncovered") {
    val base = tmp()
    val (data, zStats, bStats) = (s"$base/data", s"$base/zstats", s"$base/bstats")
    try {
      def rows(ks: Seq[Long], day: String) =
        ks.map(k => (k, java.sql.Timestamp.valueOf(s"$day 00:00:00"))).toDF("k", "d")
      rows(1L to 50L, "1996-01-01").coalesce(1).write.parquet(data)
      rows(51L to 100L, "1996-06-01").coalesce(1).write.mode("append").parquet(data)
      ZoneMaps.maintainIndex(spark, data, zStats, Seq("d"))
      BloomIndex.maintainIndex(spark, data, bStats, "k")
      val indexed = Store.liveFiles(data).toSet
      // a plain Spark append after the index: no stats cover this file
      rows(Seq(777L), "2030-01-01").coalesce(1).write.mode("append").parquet(data)
      val added = (Store.liveFiles(data).toSet -- indexed).toSeq
      assert(added.size == 1, s"one appended file, saw $added")
      val (zdf, (zRead, zTotal)) = ZoneMaps.lookupRangeIndexed(spark, data, zStats,
        Seq(("d", lit("2029-01-01").cast("timestamp"), lit("2031-01-01").cast("timestamp"))))
      // both indexed files provably end before 2029: the read is the new file
      assert((zRead, zTotal) == ((1, 3)), s"zone face read $zRead/$zTotal")
      assert(zdf.select($"k").as[Long].collect().toSeq == Seq(777L))
      val (bdf, (bRead, bTotal)) = BloomIndex.lookupIndexed(spark, data, bStats, "k", lit(777L))
      assert(bTotal == 3 && bRead >= 1, s"bloom face read $bRead/$bTotal")
      assert(bdf.inputFiles.map(BloomIndex.canonPath).toSet.contains(added.head),
        s"the uncovered file must be in the bloom read set: ${bdf.inputFiles.toSeq}")
      assert(bdf.select($"k").as[Long].collect().toSeq == Seq(777L))
    } finally sweep(base)
  }

  test("stats build is |files|-scale: footer-derived (zero data scans) or one aggregate pass") {
    val base = tmp()
    try {
      Layout.writeClustered(Tables.lineitem(spark, sf), s"$base/data",
        Seq("l_shipdate"), numFiles = 8)
      ZoneMaps.maintainIndex(spark, s"$base/data", s"$base/stats",
        Seq("l_shipdate"))
      val stats = Store.read(spark, s"$base/stats")
      assert(stats.count() == 8)
      // r13: the heal goes through statsForPaths, which also records the
      // null counts the COUNT/MIN-MAX pushdown faces guard on (footer
      // path and scan path emit the identical shape — ZoneFooterStatsSpec
      // pins value equality between the two)
      assert(stats.columns.toSet ==
        Set("file", "n_rows", "min_l_shipdate", "max_l_shipdate",
          "nnull_l_shipdate"))
      // per-file counts must reconcile with the table: stats lie → prune lies
      val nTotal = stats.agg(sum($"n_rows")).head().getLong(0)
      assert(nTotal == Tables.lineitem(spark, sf).count())
    } finally sweep(base)
  }
}
