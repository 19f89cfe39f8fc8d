package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}

import graft.queries.Phases

/** The one record of "which Spark jobs did this block launch, and what
  * did they cost": a listener that charges each job to the query and the
  * phase named by its `graft.query` / `graft.phase` local properties
  * ([[Phases]]), and each stage's task metrics to the jobs that ran it.
  *
  * Only diagnostic mains ([[Bench]], [[JobProfile]]) and specs register
  * it; engine code only sets the tags. It keeps jobs only while a
  * [[measure]] scope is open and drops them when the scope is read, so a
  * long session holds no more than its open scopes. */
final class JobMetrics private (spark: SparkSession) extends SparkListener {
  import JobMetrics._

  private final case class Job(id: Int, query: Option[String], phase: Option[String],
      site: String, startMs: Long, stageIds: Seq[Int]) { var endMs = -1L }
  private final class Stage {
    var submitted = false
    var tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  }

  private val open = mutable.Set.empty[String]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open.nonEmpty) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = Job(e.jobId, prop(Phases.QueryProperty),
        prop(Phases.PhaseProperty), e.stageInfos.maxByOption(_.stageId).fold("")(_.name),
        e.time, e.stageIds)
      e.stageIds.foreach(stages.getOrElseUpdate(_, new Stage))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submitted = true)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Run `body` tagged as `query` (and no phase) on this thread; return its
    * value and the [[Profile]] of the jobs it launched. A scope that
    * throws is dropped unread. */
  def measure[A](query: String)(body: => A): (A, Profile) = {
    GraftBridge.drainListenerBus(spark)
    val t0 = System.currentTimeMillis()
    val compiles0 = compiles
    synchronized(require(open.add(query), s"scope $query is already open"))
    try {
      val (a, walls) = Phases.collecting(Phases.tagged(Phases.QueryProperty, query)(
        Phases.tagged(Phases.PhaseProperty, null)(body)))
      val t1 = System.currentTimeMillis()
      val compiled = compiles - compiles0
      GraftBridge.drainListenerBus(spark)
      synchronized {
        val mine = jobs.values.filter(_.query.contains(query)).toSeq.sortBy(_.id)
        val byPhase = mine.groupBy(_.phase).collect { case (Some(p), js) => p -> js }
        (a, Profile(record(mine, Seq(t0 -> t1)),
          (walls.keySet ++ byPhase.keySet).map(p =>
            p -> record(byPhase.getOrElse(p, Nil), walls.getOrElse(p, Nil))).toMap,
          jobs.values.count(j => !j.query.contains(query) && j.startMs >= t0 && j.startMs <= t1),
          compiled,
          mine.map(j => Run(j.id, j.phase.getOrElse(""), j.site, j.startMs - t0,
            (if (j.endMs < 0) t1 else j.endMs) - j.startMs, ran(Seq(j)).map(_.tasks).sum))))
      }
    } finally synchronized {
      // forget the scope's jobs, and every job once no scope is open
      open -= query
      jobs.filterInPlace((_, j) => open.nonEmpty && !j.query.contains(query))
      stages.filterInPlace((id, _) => jobs.values.exists(_.stageIds.contains(id)))
    }
  }

  private def ran(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.submitted)

  /** Totals of `js`, whose wall clock is the summed `windows`; the driver
    * gap is that wall minus the union of the job intervals inside it. */
  private def record(js: Seq[Job], windows: Seq[(Long, Long)]): Record = {
    val st = ran(js)
    val wallMs = windows.map { case (a, b) => b - a }.sum
    val coveredMs = windows.map { case (a, b) =>
      union(js.map(j => (j.startMs max a, (if (j.endMs < 0) b else j.endMs) min b)))
    }.sum
    Record(js.size, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3,
      st.map(_.cpuNs).sum / 1e9, st.map(_.shuffleRead).sum,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum, wallMs / 1e3,
      (wallMs - coveredMs) / 1e3)
  }
}

object JobMetrics {

  /** Spark totals of one (query, phase): the wall clock and driver gap in
    * seconds, executor run and CPU seconds summed over tasks, bytes. */
  final case class Record(jobs: Int, stages: Int, tasks: Long, runS: Double,
      cpuS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      wallS: Double, driverGapS: Double) {
    /** JSON fields, snake_case, seconds to the millisecond. */
    def fields: String = productElementNames.zip(productIterator).map { case (k, v) =>
      "\"" + "[A-Z]".r.replaceAllIn(k, m => "_" + m.matched.toLowerCase) + "\":" +
        (v match { case d: Double => math.rint(d * 1000) / 1000; case x => x })
    }.mkString(",")
  }

  /** One job of a scope: its phase ("" outside any), call site (its
    * result stage's name), start
    * offset from the scope's start and duration in ms, and tasks run. */
  final case class Run(id: Int, phase: String, site: String, offMs: Long,
      durMs: Long, tasks: Long)

  /** A scope's record, one per phase it ran, the jobs that started
    * during it without its tag, the classes codegen compiled while it
    * ran, and its jobs in launch order. The compile count is read from
    * Spark's JVM-wide `CodegenMetrics`, so it is kept per scope only:
    * phases may overlap, and a concurrent scope's compiles count in both. */
  final case class Profile(total: Record, phases: Map[String, Record],
      untagged: Int, codegenCompiles: Long, runs: Seq[Run]) {
    /** The total's fields, `untagged`, `codegen_compiles`, and `phases`
      * when it ran any. */
    def json: String =
      s"""{${total.fields},"untagged":$untagged,"codegen_compiles":$codegenCompiles""" +
      (if (phases.isEmpty) "" else phases.toSeq.sortBy(_._1)
        .map { case (p, r) => s""""$p":{${r.fields}}""" }
        .mkString(""","phases":{""", ",", "}")) + "}"
  }

  /** Classes Spark's codegen has compiled in this JVM (cache hits do not
    * count). */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Register a listener on `spark`'s context. */
  def register(spark: SparkSession): JobMetrics = {
    val l = new JobMetrics(spark); spark.sparkContext.addSparkListener(l); l
  }

  /** Length of the union of [a, b) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
      (sum + math.max(0L, b - math.max(a, hi)), math.max(hi, b))
    }._1
}
