package graft.operators

import java.io.File
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

/** Records the (command, stage) of every command run inside a Spark task.
  * Local mode runs tasks in this JVM, so one process-wide queue sees them
  * all. */
object CountingRunner extends CommandRunner {
  val runs = new ConcurrentLinkedQueue[(String, Int)]()

  override def run(command: String, binds: Seq[(File, String)]): Unit = {
    SubprocessRunner.run(command, binds)
    Option(TaskContext.get()).foreach(tc => runs.add((command, tc.stageId())))
  }
}

/** The tree reduce's merge schedule, and that each stage of the tree runs
  * exactly once under AQE: the widths are planned from the pre-combined
  * partition count, never probed from a Dataset that holds an exchange. */
class TreeReduceSpec extends AnyFunSuite {
  import graft.TestSpark._
  import spark.implicits._

  private val Sum = "awk '{s+=$1} END {print s}' in.txt > out.txt"
  private val Echo = "cat in.txt > out.txt"

  test("treeWidths follows the reference schedule (hand-worked table)") {
    // scale = max(ceil(n^(1/depth)), 2) while depth > 2, then collapse to 1
    val table = Seq(
      (0, 3) -> Nil,
      (1, 2) -> Nil,
      (1, 4) -> Nil,
      (2, 3) -> Seq(1),          // scale 2
      (5, 2) -> Seq(1),
      (5, 3) -> Seq(2, 1),       // 5^(1/3) = 1.71 → scale 2
      (5, 4) -> Seq(2, 1),       // 5^(1/4) = 1.50 → 2; 2^(1/3) = 1.26 → 2
      (16, 2) -> Seq(1),
      (16, 3) -> Seq(5, 1),      // 16^(1/3) = 2.52 → 3
      (16, 4) -> Seq(8, 4, 1),   // 16^(1/4) = 2 → 2; 8^(1/3) = 2 → 2
      (100, 3) -> Seq(20, 1),    // 100^(1/3) = 4.64 → 5
      (100, 4) -> Seq(25, 8, 1), // 100^(1/4) = 3.16 → 4; 25^(1/3) = 2.92 → 3
      (1000, 5) -> Seq(250, 62, 15, 1), // 3.98 → 4; 250^(1/4) = 3.98 → 4; 62^(1/3) = 3.96 → 4
      (7, 10) -> Seq(3, 1))      // 7^(1/10) = 1.21 → 2; 3^(1/9) = 1.13 → 2
    table.foreach { case ((n, depth), widths) =>
      assert(Pipeline.treeWidths(n, depth) == widths, s"n=$n depth=$depth")
    }
    intercept[IllegalArgumentException](Pipeline.treeWidths(16, 1))
  }

  /** Per-stage run counts of `command` in stage order, plus the jobs and
    * the submitted stages that building and collecting `body` launched. */
  private case class Trace[A](result: A, stageRuns: Seq[Int], jobs: Int, stages: Int)

  private def traced[A](command: String)(body: => A): Trace[A] = {
    val group = s"tree_reduce_${UUID.randomUUID()}"
    def inGroup(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val jobs, stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties)) { jobs.incrementAndGet(); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties)) { stages.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    CountingRunner.runs.clear()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val result = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val byStage = CountingRunner.runs.asScala.toSeq.filter(_._1 == command)
        .groupBy(_._2).toSeq.sortBy(_._1).map(_._2.size)
      Trace(result, byStage, jobs.get, stages.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  /** 16 partitions with no exchange: a scan-like input. */
  private def sixteen = Pipeline(spark.range(0, 160, 1, 16).map(_.toString))

  test("each tree stage runs once at depths 2..4: 16 pre-combines, then the merges") {
    val expected = Map(2 -> Seq(16, 1), 3 -> Seq(16, 5, 1), 4 -> Seq(16, 8, 4, 1))
    for ((depth, stageRuns) <- expected) {
      val t = traced(Sum) {
        sixteen.treeReduce(TextFile("/in.txt"), TextFile("/out.txt"), Sum, depth = depth,
          runner = CountingRunner).ds.collect().toSeq
      }
      assert(t.result == Seq((0 until 160).sum.toString), s"depth=$depth")
      assert(t.stageRuns == stageRuns, s"depth=$depth")
      // collect: one job per stage, e.g. 3 for depth 3
      assert(t.jobs == stageRuns.size, s"depth=$depth jobs: ${t.jobs}")
      assert(t.stages == stageRuns.size, s"depth=$depth stages: ${t.stages}")
    }
  }

  test("an upstream pipe before a repartition runs once per partition") {
    val expected = Map(2 -> Seq(5, 1), 3 -> Seq(5, 2, 1), 4 -> Seq(5, 2, 1))
    for ((depth, stageRuns) <- expected) {
      val t = traced(Sum) {
        sixteen
          .mapPartitionsThrough(TextFile("/in.txt"), TextFile("/out.txt"), Echo, CountingRunner)
          .repartition(5)
          .treeReduce(TextFile("/in.txt"), TextFile("/out.txt"), Sum, depth = depth,
            runner = CountingRunner).ds.collect().toSeq
      }
      val upstream = CountingRunner.runs.asScala.count(_._1 == Echo)
      assert(t.result == Seq((0 until 160).sum.toString), s"depth=$depth")
      assert(upstream == 16, s"depth=$depth: upstream pipe ran $upstream times")
      assert(t.stageRuns == stageRuns, s"depth=$depth")
      // one job for the upstream shuffle, run by treeReduce's partition
      // count; collect then reads its output back and runs one job per stage
      assert(t.jobs == 1 + stageRuns.size, s"depth=$depth jobs: ${t.jobs}")
      assert(t.stages == 1 + stageRuns.size, s"depth=$depth stages: ${t.stages}")
    }
  }
}
