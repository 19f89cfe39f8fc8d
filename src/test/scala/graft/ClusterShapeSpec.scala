package graft

import java.io.File

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Layout, Store}

/** Plan pins for the one clustering shape that the clustered writers and
  * the `clusterBy` compaction share: N > 1 files is exactly one N-way
  * range exchange plus an in-partition sort; one file is a coalesce plus
  * the sort, with no exchange at all. The pins read the final physical
  * plan of the call's one write execution (z-order's min/max stats pass
  * is a separate, driver-bound aggregate). */
class ClusterShapeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_shape_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  /** The final physical plan of the one execution `body` runs that writes
    * to `target` — matched by path, because the listener bus may still
    * deliver an earlier execution (a fixture's admission) after
    * registration. */
  private def writePlan(target: String)(body: => Unit): SparkPlan = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { captured.add(qe.executedPlan): Unit }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener fires on a bus thread: drain until stable
      var last = -1; var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val n = captured.size
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val writes = captured.asScala.toSeq.filter(p => nodes(p).exists {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString.endsWith(target)
        case _ => false
      }
      case _ => false
    })
    assert(writes.size == 1, s"expected one write execution, got ${writes.size}")
    writes.head
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }
  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    nodes(plan).collect { case e: ShuffleExchangeExec => e }
  private def sorts(plan: SparkPlan): Seq[SortExec] =
    nodes(plan).collect { case s: SortExec => s }

  private def twoDeltaStore(dir: String): Unit = {
    val rows = (0 until 4000).map(i => ((i * 7919L) % 4000, (i % 13).toLong))
    assert(Store.appendIdempotent(rows.take(2000).toDF("a", "b"), dir, "d0"))
    assert(Store.appendIdempotent(rows.drop(2000).toDF("a", "b"), dir, "d1"))
  }

  private def parquetFiles(dir: String): Seq[File] = new File(dir).listFiles().toSeq
    .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("two-column clustered compaction into 16 files plans one 16-way range exchange and a sort") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      twoDeltaStore(dir)
      val plan = writePlan(s"$dir.compact")(
        Store.compact(spark, dir, numFiles = 16, clusterBy = Seq("a", "b")))
      val ex = exchanges(plan)
      assert(ex.size == 1, s"one exchange expected: ${ex.map(_.outputPartitioning)}")
      ex.head.outputPartitioning match {
        case r: RangePartitioning =>
          assert(r.numPartitions == 16)
          assert(r.ordering.flatMap(_.child.references.map(_.name)) == Seq("a", "b"))
        case other => fail(s"expected rangepartitioning(a, b, 16), got $other")
      }
      assert(sorts(plan).size == 1, s"one sort expected: ${sorts(plan)}")
      assert(parquetFiles(dir).size == 16 && Store.deltaCount(dir) == 0)
      assert(Store.read(spark, dir).count() == 4000)
    } finally sweep(base)
  }

  test("one-file clustered compaction plans no exchange, lexicographic and z-order alike") {
    Seq(false, true).foreach { zOrder =>
      val base = tmp()
      try {
        val dir = s"$base/store"
        twoDeltaStore(dir)
        val plan = writePlan(s"$dir.compact")(Store.compact(spark, dir, numFiles = 1,
          clusterBy = Seq("a", "b"), zOrder = zOrder))
        val ex = exchanges(plan)
        assert(ex.isEmpty, s"zOrder=$zOrder: one-file fold must not shuffle: " +
          ex.map(_.outputPartitioning).mkString("; "))
        assert(sorts(plan).size == 1, s"zOrder=$zOrder: the in-file sort")
        assert(parquetFiles(dir).size == 1)
        assert(Store.read(spark, dir).count() == 4000)
      } finally sweep(base)
    }
  }

  test("writeClustered into one file plans no exchange and writes one sorted file") {
    val base = tmp()
    try {
      val path = s"$base/out"
      val df = (0 until 3000).map(i => ((i * 7919L) % 3000, i.toLong))
        .toDF("k", "v")
      val plan = writePlan(path)(Layout.writeClustered(df, path, Seq("k"), numFiles = 1))
      val ex = exchanges(plan)
      assert(ex.isEmpty, s"one-file clustered write must not shuffle: " +
        ex.map(_.outputPartitioning).mkString("; "))
      val files = parquetFiles(path)
      assert(files.size == 1)
      val ks = spark.read.parquet(files.head.toString).select("k").as[Long].collect()
      assert(ks.length == 3000 && ks.sameElements(ks.sorted), "file must be sorted by k")
    } finally sweep(base)
  }
}
