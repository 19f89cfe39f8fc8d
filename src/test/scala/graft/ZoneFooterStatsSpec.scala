package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Store, Tables, ZoneMaps}

/** The r13 footer-derived zone stats contract: when every tracked column
  * is a footer-exact type (timestamp/date), `statsForPaths` reconstructs
  * the per-file stats rows from parquet footers driver-side — zero Spark
  * jobs, zero data pages — and those rows must be VALUE-IDENTICAL to what
  * the scan aggregate computes, because minMaxRangeIndexed SERVES min/max
  * straight out of them. Anything outside the gate (numeric columns that
  * need sum_c, strings with their truncation hazard) must fall back to
  * the scan, proven by the sum_c the scan path alone records. */
class ZoneFooterStatsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_zfooter_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  /** Independent per-file recompute of what the stats store must hold. */
  private def recompute(dataFiles: Seq[String], c: String) =
    Store.readFiles(spark, dataFiles)
      .select(col("_metadata.file_path").as("raw"), col(c))
      .groupBy($"raw")
      .agg(count(lit(1)).as("n_rows"),
        min(col(c)).as("mn"), max(col(c)).as("mx"),
        count(when(col(c).isNull, 1)).as("nn"))
      .drop("raw")
      .collect().map(_.toSeq).toSet

  test("footer stats equal the scan aggregate on a timestamp column with nulls and an all-null slice") {
    val base = tmp()
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      // micro-precision values + NULLs; repartitionByRange puts the NULLs
      // in their own file, so one slice is ALL-null (min/max must be NULL,
      // nnull == n_rows) while others carry exact micro timestamps
      val rows = (1 to 12).map { i =>
        val ts =
          if (i <= 4) null
          else Timestamp.valueOf(f"2024-01-${i}%02d 08:30:15.12345$i%d")
        (i.toLong, ts)
      }
      val df = rows.toDF("id", "ts").repartitionByRange(3, $"ts")
      val before = ZoneMaps.footerStatsServed.get()
      assert(ZoneMaps.admitIndexed(df, dataDir, statsDir, Seq("ts"), "b0"))
      assert(ZoneMaps.footerStatsServed.get() == before + 1,
        "timestamp tracking must be served from footers")
      val stats = Store.read(spark, statsDir)
        .select($"n_rows", $"min_ts".as("mn"), $"max_ts".as("mx"),
          $"nnull_ts".as("nn"))
        .collect().map(_.toSeq).toSet
      val expect = recompute(Store.liveFiles(dataDir), "ts")
      assert(stats == expect, s"footer stats diverge:\n got=$stats\n exp=$expect")
      assert(stats.exists(r => r(1) == null && r(3) == r(0)),
        "the all-null slice must read as NULL min/max with nnull == n_rows")
      // and the serve path that trusts these values as EXACT must agree
      // with a raw recompute over the original rows
      val (mm, _) = ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir,
        Seq(("ts", lit("2024-01-01").cast("timestamp"),
          lit("2025-01-01").cast("timestamp"))), "ts")
      val got = mm.collect().head
      val exp = df.filter($"ts" >= "2024-01-01" && $"ts" < "2025-01-01")
        .agg(min($"ts"), max($"ts")).collect().head
      assert(got == exp, s"served MIN/MAX $got != recomputed $exp")
    } finally sweep(base)
  }

  test("lineitem l_shipdate admit serves stats from footers, identical to the scan recompute") {
    val base = tmp()
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val before = ZoneMaps.footerStatsServed.get()
      ZoneMaps.admitIndexed(
        Tables.lineitem(spark, sf).repartitionByRange(4, $"l_shipdate"),
        dataDir, statsDir, Seq("l_shipdate"), "h0"): Unit
      assert(ZoneMaps.footerStatsServed.get() == before + 1)
      val stats = Store.read(spark, statsDir)
        .select($"n_rows", $"min_l_shipdate".as("mn"),
          $"max_l_shipdate".as("mx"), $"nnull_l_shipdate".as("nn"))
        .collect().map(_.toSeq).toSet
      assert(stats == recompute(Store.liveFiles(dataDir), "l_shipdate"))
    } finally sweep(base)
  }

  test("numeric and string tracked columns fall back to the scan (sum_c recorded, no footer serve)") {
    val base = tmp()
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val before = ZoneMaps.footerStatsServed.get()
      ZoneMaps.admitIndexed(
        Tables.lineitem(spark, sf).limit(100).repartition(2),
        dataDir, statsDir, Seq("l_quantity", "l_returnflag"), "n0"): Unit
      assert(ZoneMaps.footerStatsServed.get() == before,
        "numeric/string tracking must use the scan path")
      // the scan path's extra obligation: per-file sums for the numeric
      // column (the SUM-pushdown contract footers cannot supply)
      val got = Store.read(spark, statsDir)
        .agg(sum($"sum_l_quantity").cast("double")).collect().head.getDouble(0)
      val exp = Store.read(spark, dataDir)
        .agg(sum($"l_quantity").cast("double")).collect().head.getDouble(0)
      assert(math.abs(got - exp) < 1e-6)
    } finally sweep(base)
  }

  test("mixed timestamp+numeric tracking falls back whole-call; stats stay complete") {
    val base = tmp()
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      val before = ZoneMaps.footerStatsServed.get()
      ZoneMaps.admitIndexed(
        Tables.lineitem(spark, sf).limit(100).repartition(2),
        dataDir, statsDir, Seq("l_shipdate", "l_quantity"), "m0"): Unit
      assert(ZoneMaps.footerStatsServed.get() == before)
      val cols = Store.read(spark, statsDir).columns.toSet
      assert(Set("min_l_shipdate", "nnull_l_shipdate", "sum_l_quantity")
        .subsetOf(cols))
    } finally sweep(base)
  }

  test("the static build face records footer stats on eligible layouts, scan-identical") {
    val base = tmp()
    val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
    try {
      graft.sources.Layout.writeClustered(Tables.lineitem(spark, sf),
        dataDir, Seq("l_shipdate"), numFiles = 4)
      val before = ZoneMaps.footerStatsServed.get()
      ZoneMaps.maintainIndex(spark, dataDir, statsDir, Seq("l_shipdate"))
      assert(ZoneMaps.footerStatsServed.get() == before + 1)
      val stats = Store.read(spark, statsDir)
        .select($"n_rows", $"min_l_shipdate".as("mn"),
          $"max_l_shipdate".as("mx"), $"nnull_l_shipdate".as("nn"))
        .collect().map(_.toSeq).toSet
      assert(stats == recompute(Store.liveFiles(dataDir), "l_shipdate"))
      // the range face still prunes and returns exact rows over these stats
      val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(spark, dataDir,
        statsDir, Seq(("l_shipdate", lit("1997-01-01").cast("timestamp"),
          lit("1997-04-01").cast("timestamp"))))
      val expect = Tables.lineitem(spark, sf)
        .filter($"l_shipdate" >= "1997-01-01" && $"l_shipdate" < "1997-04-01")
        .count()
      assert(df.count() == expect)
      assert(read < total, "a clustered layout must prune")
    } finally sweep(base)
  }
}
