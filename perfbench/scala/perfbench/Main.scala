package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM:
  *
  *   perfbench.Main --workload <name> --data <inputs> --work <scratch>
  *     --out <results> --seconds <s> --trace <0|1> --t0 <epoch s>
  *
  * The workload sets itself up `reps` times from scratch (the first runs
  * cold, the last is the one measured), warms up once, then runs its
  * closed loop - one client, the next operation starts when the previous
  * one returns - until `seconds` have passed. Every operation's result is checked. Results go
  * to `<out>/result.json`; a traced run also writes `<out>/spans.jsonl`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val out = new File(opt("out"))
    out.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, opt("work"))
    val sessionS = System.currentTimeMillis() / 1e3 - opt("t0").toDouble
    try {
      val tracer = new Tracer(spark.sparkContext, opt("trace") == "1")
      val run = new Run(spark, tracer, opt("data"), opt("work"), out.getPath,
        opt("seconds").toDouble)
      val w: Workload = name match {
        case "mare_pipe" => new MarePipe
        case "query_deck" => new QueryDeck
        case "index_serve" => new IndexServe
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // a traced run also traces its last set-up and the warm-up
      val repS = (0 until w.reps).map { rep =>
        tracer.paused = rep < w.reps - 1
        Run.seconds(w.setup(run, rep))
      }
      val warmS = Run.seconds(w.warm(run))
      tracer.paused = true
      val measureS = run.loop(w.step)
      w.finish(run)
      val layers = if (tracer.enabled) run.layerMetrics(w) else Nil
      val result = ListMap(
        "workload" -> name,
        "cpus" -> cpus,
        "session_s" -> sessionS,
        "setup_reps_s" -> repS,
        "warm_s" -> warmS,
        "measure_s" -> measureS,
        "steps" -> run.steps,
        "ops" -> run.latencies.map { case (k, v) => k -> v.toSeq }.toMap,
        "attempted" -> run.attempted,
        "failed" -> run.failed,
        "failures" -> run.failures.take(50).toSeq,
        "counters" -> run.counters.toMap,
        "layers" -> layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
        "peak_rss_mb" -> Run.peakRssMb())
      write(new File(out, "result.json"), json(result) + "\n")
      if (tracer.enabled)
        write(new File(out, "spans.jsonl"), tracer.spanLines.mkString("", "\n", "\n"))
    } finally spark.stop()
  }

  /** The deployed configuration of graft.Bench: local[nproc], the graft
    * extensions, AQE, UTC, micros timestamps; every scratch path inside
    * the work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  /** JSON text of Scala maps, sequences, strings and numbers. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def write(f: File, s: String): Unit = {
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8)); ()
  }
}

/** One workload: `reps` from-scratch set-ups, a warm-up, then steps. */
trait Workload {
  def reps: Int
  /** Build the state to measure from scratch; repetition `rep` of `reps`. */
  def setup(r: Run, rep: Int): Unit
  def warm(r: Run): Unit = ()
  /** One step of the closed loop (one operation or one cycle). */
  def step(r: Run, i: Int): Unit
  /** End-of-run checks, untimed. */
  def finish(r: Run): Unit = ()
  /** Span layer whose self time is reported as `layer.self_s`. */
  def layer: String
  /** Workload-specific per-layer metrics (name, value, unit), traced runs. */
  def layers(r: Run): Seq[(String, Double, String)]
}

/** Measurement state of one run. */
final class Run(val spark: SparkSession, val tracer: Tracer, val data: String,
    val work: String, val out: String, seconds: Double) {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** (kind, ms, traced) of every timed op in the loop, for the overhead. */
  val samples = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var steps = 0
  private var measuring = false

  /** Time one operation of the loop (a top-level span when traced). */
  def timed[A](kind: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = tracer.span(kind, "bench")(body)
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      record(kind, ms)
      samples += ((kind, ms, tracer.active))
    }
    a
  }

  def record(kind: String, ms: Double): Unit =
    latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Time one set-up operation (a top-level `setup` span when traced);
    * `record` keeps its latency under `setup.<kind>`. */
  def setupTimed[A](kind: String, record: Boolean)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = tracer.span(kind, "setup")(body)
    if (record) this.record(s"setup.$kind", (System.nanoTime() - t0) / 1e6)
    a
  }

  /** Mean Spark jobs of the traced top-level spans of one kind. */
  def jobsPerOp(kind: String, layer: String = "bench"): Double = {
    val ops = tracer.all.filter(s => s.parent < 0 && s.layer == layer && s.name == kind)
    if (ops.isEmpty) 0.0
    else ops.map(s => tracer.totals(_.id == s.id).jobs.toDouble).sum / ops.size
  }

  /** A call into one of the program's layers (a child span when traced). */
  def call[A](layer: String, function: String)(body: => A): A =
    tracer.span(function, layer)(body)

  /** Count one attempted operation; a wrong result is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  /** Closed loop until `seconds` have passed; returns the wall seconds.
    * A traced run pauses tracing on every other step, so traced and
    * untraced steps of the same run give the tracing overhead; it runs at
    * least two steps for that. A step that throws is one failed operation. */
  def loop(step: (Run, Int) => Unit): Double = {
    measuring = true
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || (tracer.enabled && i < 2)) {
      tracer.paused = tracer.enabled && i % 2 == 1
      try step(this, i)
      catch {
        case scala.util.control.NonFatal(e) =>
          attempted += 1; failed += 1; failures += s"step $i: $e"
      }
      i += 1
    }
    tracer.paused = true
    measuring = false
    steps = i
    (System.nanoTime() - t0) / 1e9
  }

  /** Per traced operation: Spark engine totals, the self time of the
    * workload's layer, the tracing overhead, plus the workload's own. */
  def layerMetrics(w: Workload): Seq[(String, Double, String)] = {
    val spans = tracer.all
    val isOp = (s: Span) => s.parent < 0 && s.layer == "bench"
    val tops = spans.filter(isOp)
    val n = math.max(tops.size, 1).toDouble
    val t = tracer.totals(isOp)
    val wall = tops.map(s => s.endNs - s.startNs).sum / 1e9
    val jobWall = tracer.union(t.jobIntervals.map { case (a, b) => (a * 1000000L, b * 1000000L) }) / 1e9
    val self = tracer.selfSeconds
    val layerSelf = spans.filter(s => s.layer == w.layer && isOp(tracer.rootOf(s)))
      .map(s => self(s.id)).sum
    val overhead = {
      val kinds = samples.map(_._1).distinct
      val ratios = kinds.flatMap { k =>
        val on = samples.filter(s => s._1 == k && s._3).map(_._2)
        val off = samples.filter(s => s._1 == k && !s._3).map(_._2)
        if (on.isEmpty || off.isEmpty) None else Some(Run.median(on.toSeq) / Run.median(off.toSeq))
      }
      if (ratios.isEmpty) 0.0 else (Run.median(ratios.toSeq) - 1) * 100
    }
    Seq(
      ("spark.jobs", t.jobs / n, "count/op"),
      ("spark.pool_jobs", t.poolJobs / n, "count/op"),
      ("spark.stages", t.stages / n, "count/op"),
      ("spark.tasks", t.tasks / n, "count/op"),
      ("spark.executor_run_s", t.runS / n, "s/op"),
      ("spark.executor_cpu_s", t.cpuS / n, "s/op"),
      ("spark.shuffle_write_bytes", t.shuffleWrite / n, "B/op"),
      ("spark.spill_bytes", t.spill / n, "B/op"),
      ("spark.driver_gap_s", (wall - jobWall) / n, "s/op"),
      ("layer.self_s", layerSelf / n, "s/op"),
      ("trace.ops", tops.size.toDouble, "count"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.overhead_pct", overhead, "%")) ++ w.layers(this)
  }
}

object Run {
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** VmHWM of this JVM, MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8).split("\n").find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Regular files under `dir` with their sizes. */
  def files(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val s = Files.walk(dir.toPath)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => Files.isRegularFile(p))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }

  /** Parquet files under a store directory. */
  def parquetFiles(dir: String): Int =
    files(new File(dir)).keys.count(_.endsWith(".parquet"))

  def deleteRecursive(f: File): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(f): Unit
}
