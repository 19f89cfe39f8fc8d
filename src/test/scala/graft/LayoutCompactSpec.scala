package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Store, Tables}

/** Size-targeted compaction of a plain Spark-written parquet directory (a
  * Store with a flat base and no deltas): the file count is DERIVED from
  * the directory's real byte volume ([[Store.liveBytes]]), the rewrite is
  * result-invisible, and the realized sizes land in the target's order of
  * magnitude (compression drift documented, not corrected). */
class LayoutCompactSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_layoutc_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("small-file sprawl compacts to ceil(bytes/target) files, losing nothing") {
    val base = tmp()
    try {
      val dir = s"$base/data"
      val li = Tables.lineitem(spark, sf)
      li.repartition(64).write.parquet(dir) // micro-batch-style sprawl
      val before = dataFiles(dir)
      assert(before.size == 64)
      val fingerprint = (df: org.apache.spark.sql.DataFrame) =>
        df.agg(count(lit(1)),
          sum($"l_extendedprice".cast("decimal(18,2)")), // exact, order-free
          bit_xor(xxhash64($"l_orderkey", $"l_linenumber"))) // no ANSI overflow
          .collect().head.toString
      val want = fingerprint(spark.read.parquet(dir))
      val bytes = before.map(_.length()).sum
      val target = bytes / 4
      // clustered: the rewrite writes exactly `planned` range slices (a
      // bin-pack coalesce writes AT MOST that many — fewer when Spark packs
      // the 64 input files into fewer read partitions)
      val planned = Store.compactToFileSize(spark, dir, target,
        clusterBy = Seq("l_orderkey"))
      assert(planned == 4 || planned == 5, s"ceil(bytes/target) ≈ 4, got $planned")
      val after = dataFiles(dir)
      assert(after.size == planned)
      assert(fingerprint(spark.read.parquet(dir)) == want,
        "compaction must be result-invisible")
      // order-of-magnitude economics: no file more than ~2.5x the target
      // (row-group granularity + compression drift), none degenerate-tiny
      assert(after.forall(_.length() <= target * 5 / 2),
        s"file sizes ${after.map(_.length())} vs target $target")
    } finally sweep(base)
  }

  test("target above the total volume folds to one file") {
    val base = tmp()
    try {
      val dir = s"$base/data"
      Tables.supplier(spark, sf).repartition(8).write.parquet(dir)
      val planned = Store.compactToFileSize(spark, dir, targetBytes = 1L << 40)
      assert(planned == 1 && dataFiles(dir).size == 1)
    } finally sweep(base)
  }

  test("hidden staging entries do not count toward the volume estimate") {
    val base = tmp()
    try {
      val dir = s"$base/data"
      Tables.supplier(spark, sf).coalesce(1).write.parquet(dir)
      val visible = Store.liveBytes(dir)
      assert(visible == dataFiles(dir).map(_.length()).sum)
      // a crashed admit's staging dir must not inflate the estimate
      val staged = new java.io.File(dir, ".inprogress-zz")
      staged.mkdirs()
      val junk = new java.io.File(staged, "part-junk.parquet")
      val out = new java.io.FileOutputStream(junk)
      out.write(new Array[Byte](1 << 20)); out.close()
      assert(Store.liveBytes(dir) == visible)
    } finally sweep(base)
  }
}
