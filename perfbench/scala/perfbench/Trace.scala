package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a benchmark-side call into a layer of the program. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long = -1L)

/** Spark work seen by the listener for one job. */
final class JobRecord(val jobId: Int, val span: Option[Int], val startMs: Long,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageTotals {
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** Job, stage and task metrics, attributed to the span that was open on
  * the launching thread through the `perfbench.span` local property. Jobs
  * launched from threads that never saw the property (the program's own
  * pools) carry none; [[Tracer]] attributes those by time interval. */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)
    jobs.put(e.jobId, new JobRecord(e.jobId, span, e.time, e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    t.tasks.incrementAndGet()
    if (m != null) {
      t.runMs.addAndGet(m.executorRunTime)
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }
}

/** Spark totals over a set of jobs. */
final case class SparkTotals(jobs: Int, poolJobs: Int, stages: Int,
    tasks: Long, runS: Double, cpuS: Double, shuffleWrite: Long, spill: Long,
    jobIntervals: Seq[(Long, Long)])

/** In-memory spans around the benchmark's calls into each layer, plus the
  * listener that counts the Spark work under them. Disabled, every call is
  * a bare passthrough and no listener is registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val epochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  /** Spans are recorded only inside the measured loop, and there only on
    * alternate steps, so a traced run also prices its own overhead. */
  @volatile var paused = true
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) }
    else None

  def active: Boolean = enabled && !paused

  def span[A](name: String, layer: String)(body: => A): A =
    if (!active) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, layer,
        System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }

  def all: Seq[Span] = { drain(); spans.toSeq }

  private def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

  private def msOf(ns: Long): Long = (ns - epochNs) / 1000000L

  /** Jobs of the given spans and their descendants, plus unlabelled jobs
    * (pool threads) that started inside one of them. */
  def totals(select: Span => Boolean): SparkTotals = listener match {
    case None => SparkTotals(0, 0, 0, 0, 0, 0, 0, 0, Nil)
    case Some(l) =>
      drain()
      // a span is chosen when it or one of its ancestors is selected
      def rootsSelected(id: Int): Boolean =
        id >= 0 && (select(spans(id)) || rootsSelected(spans(id).parent))
      val chosen = spans.filter(s => rootsSelected(s.id))
      val windows = chosen.map(s => (msOf(s.startNs), msOf(s.endNs)))
      val jobs = l.jobs.values.asScala.toSeq
      val labelled = jobs.filter(_.span.exists(rootsSelected))
      val pool = jobs.filter(j => j.span.isEmpty &&
        windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b })
      val picked = labelled ++ pool
      val stageIds = picked.flatMap(_.stageIds).distinct
      val st = stageIds.flatMap(id => Option(l.stages.get(id)))
      SparkTotals(picked.size, pool.size, st.size,
        st.map(_.tasks.get).sum, st.map(_.runMs.get).sum / 1e3,
        st.map(_.cpuNs.get).sum / 1e9, st.map(_.shuffleWrite.get).sum,
        st.map(_.spill.get).sum,
        picked.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)))
  }

  /** The top-level span `s` descends from. */
  def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(spans(s.parent))

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).toSeq.map(c => (c.startNs, c.endNs)))
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Length of the union of [a, b) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b }
      else if (b > hi) hi = b
    }
    if (hi > lo) total += hi - lo
    total
  }

  /** Spans as JSON lines: id, parent, name, layer, start/end (ms since the
    * first span), self seconds and Spark job count. */
  def spanLines: Seq[String] = {
    val self = selfSeconds
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val jobsBySpan = listener.fold(Map.empty[Int, Int])(l =>
      l.jobs.values.asScala.flatMap(_.span).groupBy(identity).map(kv => kv._1 -> kv._2.size))
    spans.toSeq.map { s =>
      Main.json(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_s" -> self(s.id),
        "jobs" -> jobsBySpan.getOrElse(s.id, 0)))
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
