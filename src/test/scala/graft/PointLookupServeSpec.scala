package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BoundLiteral
import graft.sources.{BloomIndex, Store, Tables, ZoneMaps}

/** The warm serve path of a point lookup: the index decides on the
  * driver, then the candidate read runs as ONE Spark job (a one-partition
  * candidate set is read as `coalesce(1)`, so `count()` needs no
  * exchange) and compiles no class for a new probe value (the filter's
  * literal is bound as a codegen reference), through `count()` (the
  * adaptive path) and `collect()` (no exchange, so not adaptive). */
class PointLookupServeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._
  import spark.implicits._

  private val base = java.nio.file.Files.createTempDirectory("graft_point_lookup_")
  private val (bData, bStats) = (s"$base/bloom/data", s"$base/bloom/stats")
  private val (zData, zStats) = (s"$base/zone/data", s"$base/zone/stats")
  private def li = Tables.lineitem(spark, sf)

  override def beforeAll(): Unit = {
    assert(BloomIndex.admitIndexed(
      li.repartitionByRange(4, $"l_orderkey").sortWithinPartitions("l_orderkey"),
      bData, bStats, "l_orderkey", "b0"))
    assert(ZoneMaps.admitIndexed(
      li.repartitionByRange(4, $"l_shipdate").sortWithinPartitions("l_shipdate"),
      zData, zStats, Seq("l_shipdate"), "z0"))
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The value of `body` and the Spark jobs it launched, none untagged. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (a, p) = metrics.measure("point_lookup")(body)
    assert(p.untagged == 0, s"${p.untagged} jobs ran outside the scope's tag")
    (a, p.total.jobs)
  }

  private def lookup(key: Long): (DataFrame, (Int, Int)) =
    BloomIndex.lookupIndexed(spark, bData, bStats, "l_orderkey", lit(key))

  private lazy val rowsPerKey: Map[Long, Long] =
    li.groupBy("l_orderkey").count().as[(Long, Long)].collect().toMap

  /** Keys whose lookup reads exactly one of the store's files. */
  private lazy val oneFileKeys: Seq[Long] =
    rowsPerKey.keys.toSeq.sorted.iterator.filter(k => lookup(k)._2._1 == 1).take(17).toSeq

  private def window(days: Int): Seq[(String, Column, Column)] = {
    val lo = java.time.Instant.parse("1995-01-01T00:00:00Z").plusSeconds(86400L * days)
    Seq(("l_shipdate", lit(lo), lit(lo.plusSeconds(86400L * 5))))
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case _ => p.collect { case s: FileSourceScanExec => s }
  }

  test("a warm lookup compiles no class for a new key, through count() and collect()") {
    val keys = oneFileKeys
    assert(keys.size == 17, s"only ${keys.size} one-file keys")
    // warm-up: the first lookup of each action shape compiles its classes
    assert(lookup(keys.head)._1.count() == rowsPerKey(keys.head))
    assert(lookup(keys.head)._1.collect().length == rowsPerKey(keys.head))
    val (counted, collected) = keys.tail.splitAt(8)
    val c0 = compiles
    counted.foreach(k => assert(lookup(k)._1.count() == rowsPerKey(k), s"count of $k"))
    val c1 = compiles
    collected.foreach(k => assert(lookup(k)._1.collect().length == rowsPerKey(k), s"rows of $k"))
    val c2 = compiles
    assert((c1 - c0, c2 - c1) == ((0L, 0L)), s"over 8 new keys each, count() compiled " +
      s"${c1 - c0} classes and collect() ${c2 - c1}")
    // the two actions take the two planning paths the rule must run in
    val df = lookup(counted.head)._1
    assert(df.groupBy().count().queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
  }

  test("a single-file point lookup's count() runs one job") {
    oneFileKeys.take(4).foreach { k =>
      val (df, (read, total)) = lookup(k)
      assert(read == 1 && total == 4, s"$k read $read of $total files")
      val (n, jobs) = jobsOf(df.count())
      assert(n == rowsPerKey(k))
      assert(jobs == 1, s"lookup of $k: count() ran $jobs jobs")
    }
  }

  test("a single-file lookupRangeIndexed window's count() runs one job") {
    val ws = (0 until 400 by 20).map(window).filter(w =>
      ZoneMaps.lookupRangeIndexed(spark, zData, zStats, w)._2._1 == 1)
    assert(ws.size >= 2, "no single-file window")
    ws.take(2).foreach { w =>
      val (df, (read, _)) = ZoneMaps.lookupRangeIndexed(spark, zData, zStats, w)
      assert(read == 1)
      val (lo, hi) = (w.head._2, w.head._3)
      val expected = li.filter($"l_shipdate" >= lo && $"l_shipdate" < hi).count()
      val (n, jobs) = jobsOf(df.count())
      assert(n == expected && n > 0, s"window count $n, expected $expected")
      assert(jobs == 1, s"window count() ran $jobs jobs")
    }
  }

  test("the scan keeps the real literal: pushed and data filters, only the filter binds") {
    val k = oneFileKeys.head
    val plan = lookup(k)._1.queryExecution.executedPlan
    val scan = scans(plan).head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains(s"EqualTo(l_orderkey,$k)"), s"pushed filters: $pushed")
    assert(scan.dataFilters.exists(_.exists(_ == org.apache.spark.sql.catalyst.expressions
      .Literal(k))), s"data filters: ${scan.dataFilters}")
    val conds = plan.collect { case f: FilterExec => f.condition }
    assert(conds.exists(_.exists(_ == BoundLiteral(k, org.apache.spark.sql.types.LongType))),
      s"filter conditions: $conds")
    // and the filter prints as the literal it replaced
    assert(plan.toString.contains(s"(l_orderkey#") && plan.toString.contains(s" = $k)"),
      plan.toString)
  }

  test("a candidate set Spark packs into more than one partition keeps its partitions") {
    // a key in every file: the batch reads the whole store
    val perFile = Store.liveFiles(bData).map(f => spark.read.parquet(f)
      .agg(min($"l_orderkey")).as[Long].head())
    val (df, _, (read, _)) = BloomIndex.lookupIndexedBatch(spark, bData, bStats,
      "l_orderkey", perFile.map(k => lit(k)))
    assert(read == 4, s"batch read $read files")
    val packed = Store.readFiles(spark, Store.liveFiles(bData)).rdd.getNumPartitions
    assert(packed > 1, s"Spark packs the 4 files into $packed partition(s)")
    assert(df.rdd.getNumPartitions == packed)
    assert(df.count() == perFile.map(rowsPerKey).sum)
  }
}
