package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{CommandRunner, Pipeline, SubprocessRunner, TextFile}
import graft.sources.{BloomIndex, ZoneMaps}

/** Delegates to SubprocessRunner and times every command run. Local mode
  * runs tasks in this JVM, so the totals are plain process-wide counters. */
object TimedRunner extends CommandRunner {
  val runs = new AtomicLong
  val nanosByCommand = new ConcurrentHashMap[String, AtomicLong]()
  /** (command, stage, partition) of every run inside a Spark task. */
  val tasks = new ConcurrentLinkedQueue[(String, Int, Int)]()

  override def run(command: String, binds: Seq[(File, String)]): Unit = {
    val t0 = System.nanoTime()
    try SubprocessRunner.run(command, binds)
    finally {
      runs.incrementAndGet()
      nanosByCommand.computeIfAbsent(command, _ => new AtomicLong)
        .addAndGet(System.nanoTime() - t0)
      Option(TaskContext.get()).foreach(tc => tasks.add((command, tc.stageId(), tc.partitionId())))
    }
  }

  def nanos(command: String): Long = Option(nanosByCommand.get(command)).fold(0L)(_.get)
}

/** MaRe's virtual-screening shape: score every SDF record with an awk
  * command per partition, then keep the top k with a `sort | head` tree
  * reduce of depth 3. One step is one job over the whole corpus. */
final class MarePipe extends Workload {
  val reps = 2
  val layer = "operators"
  val TopK = 25
  val Scorer: String =
    "awk 'BEGIN { split(\"12 14 16 32 19 35 80 127\", w, \" \") } " +
      "/^MOL_/ { id = $1; s = 0; next } " +
      "/^A / { x = $3 < 0 ? -$3 : $3; y = $4 < 0 ? -$4 : $4; " +
      "z = $5 < 0 ? -$5 : $5; s += w[$2] * (x + 2 * y + 3 * z); next } " +
      "/^M  END/ { printf \"%d\\t%s\\n\", s, id }' in.sdf > out.txt"
  val Reduce: String = s"LC_ALL=C sort -k1,1nr -k2,2 in.txt | head -n $TopK > out.txt"
  val Delim = "\n$$$$\n"
  private implicit val stringEncoder: Encoder[String] = Encoders.STRING
  private var expected: Seq[String] = Nil
  /** Runner totals of the traced jobs: runs, scorer ns, reduce ns. */
  private var tracedRuns, tracedMapNs, tracedReduceNs = 0L
  /** Tree levels of each traced job that ran the reduce command. */
  private val treeLevels = mutable.ArrayBuffer.empty[Double]

  private def job(r: Run): Seq[String] = {
    val corpus = Pipeline.textFile(r.spark, s"${r.data}/corpus", Delim)
    r.counters("partitions") = corpus.getNumPartitions.toDouble
    val scored = r.call("operators", "Pipeline.mapPartitionsThrough") {
      corpus.mapPartitionsThrough(TextFile("/in.sdf", Delim), TextFile("/out.txt"),
        Scorer, TimedRunner)
    }
    r.call("operators", "Pipeline.treeReduce") {
      scored.treeReduce(TextFile("/in.txt"), TextFile("/out.txt"), Reduce,
        depth = 3, runner = TimedRunner).ds.collect().toSeq
    }
  }

  def setup(r: Run, rep: Int): Unit = {
    // one file per partition: the corpus is many more partitions than cores
    r.spark.conf.set("spark.sql.files.maxPartitionBytes", 1L << 20)
    r.spark.conf.set("spark.sql.files.openCostInBytes", 1L << 20)
    expected = new String(Files.readAllBytes(Paths.get(s"${r.data}/expected.txt")),
      StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).toSeq
    val got = job(r)
    r.check(got == expected, s"set-up top-k mismatch: ${got.take(3)}")
  }

  def step(r: Run, i: Int): Unit = {
    val traced = r.tracer.active
    val (runs0, map0, red0) = (TimedRunner.runs.get, TimedRunner.nanos(Scorer), TimedRunner.nanos(Reduce))
    val tasks0 = TimedRunner.tasks.size
    val got = r.timed("pipe_job") { job(r) }
    if (traced) {
      tracedRuns += TimedRunner.runs.get - runs0
      tracedMapNs += TimedRunner.nanos(Scorer) - map0
      tracedReduceNs += TimedRunner.nanos(Reduce) - red0
      // a level is a width of the tree: the partitions of one stage that
      // ran the reduce command; a re-executed stage repeats its width
      val reduceTasks = TimedRunner.tasks.asScala.drop(tasks0).filter(_._1 == Reduce).toSeq
      treeLevels += reduceTasks.groupBy(_._2).values.map(_.map(_._3).distinct.size)
        .toSeq.distinct.size.toDouble
    }
    r.check(got == expected, s"step $i top-k mismatch: ${got.take(3)}")
  }

  override def finish(r: Run): Unit =
    r.counters("corpus_bytes") = Run.files(new File(s"${r.data}/corpus")).values.sum.toDouble

  def layers(r: Run): Seq[(String, Double, String)] = {
    val ops = r.tracer.all.filter(_.name == "pipe_job")
    val n = math.max(ops.size, 1).toDouble
    val t = r.tracer.totals(_.name == "pipe_job")
    val commandS = (tracedMapNs + tracedReduceNs) / 1e9
    Seq(
      ("operators.command_runs", tracedRuns / n, "count/op"),
      ("operators.command_s", commandS / n, "s/op"),
      ("operators.mount_s", (t.runS - commandS) / n, "s/op"),
      ("operators.map_s", tracedMapNs / 1e9 / n, "s/op"),
      ("operators.reduce_s", tracedReduceNs / 1e9 / n, "s/op"),
      ("operators.tree_rounds", Run.median(treeLevels.toSeq), "count"))
  }
}

/** A fixed deck of SparkEntry queries, each run to the `noop` sink. One
  * step is one pass over the deck. Each set-up is one pass too: the first
  * loads the tables and writes every result as parquet for the DuckDB
  * oracle check, the second runs to the `noop` sink like the measured
  * passes. Pass times still fall for two more passes, so one unmeasured
  * pass warms up before the loop. */
final class QueryDeck extends Workload {
  val reps = 2
  val layer = "queries"
  val Deck = Seq("q50_recursive_bom", "q55_distinct_window", "dedup_canonical")
  private def tables(r: Run) = s"${r.data}/tables"
  /** Queries whose checked pass threw; they stay in the deck. */
  private val broken = mutable.LinkedHashMap.empty[String, String]

  def setup(r: Run, rep: Int): Unit =
    if (rep > 0) Deck.filterNot(broken.contains).foreach(q => noop(r, q))
    else {
      val dir = s"${r.out}/deck"
      Deck.foreach { q =>
        try SparkEntry.queries(q)(r.spark, tables(r))
          .write.mode("overwrite").parquet(s"$dir/$q")
        catch { case scala.util.control.NonFatal(e) => broken(q) = e.toString }
      }
      Main.write(new File(s"$dir/oracle_sql.json"),
        Main.json(Deck.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap) + "\n")
      Main.write(new File(s"$dir/broken.json"), Main.json(broken.toMap) + "\n")
      Main.write(new File(s"$dir/queries.json"), Main.json(Deck) + "\n")
    }

  override def warm(r: Run): Unit = {
    r.tracer.paused = true
    Deck.filterNot(broken.contains).foreach(q => noop(r, q))
  }

  private def noop(r: Run, q: String): Unit =
    SparkEntry.queries(q)(r.spark, tables(r)).write.format("noop").mode("overwrite").save()

  def step(r: Run, i: Int): Unit = {
    val t0 = System.nanoTime()
    Deck.foreach { q =>
      try {
        r.timed(q) {
          r.call("queries", s"SparkEntry.queries($q)")(noop(r, q))
        }
        r.check(!broken.contains(q), s"$q failed in the checked pass")
      } catch {
        case scala.util.control.NonFatal(e) => r.check(ok = false, s"$q: $e")
      }
    }
    r.record("deck_pass", (System.nanoTime() - t0) / 1e6)
  }

  def layers(r: Run): Seq[(String, Double, String)] = {
    val spans = r.tracer.all
    Deck.map { q =>
      val d = spans.filter(_.name == q).map(s => (s.endNs - s.startNs) / 1e9)
      (s"queries.${q}_s", Run.median(d), "s")
    }
  }
}

/** Paths of the two indexed stores under one base directory. */
final class Stores(base: String) {
  val bData = s"$base/bloom/data"
  val bStats = s"$base/bloom/stats"
  val zData = s"$base/zone/data"
  val zStats = s"$base/zone/stats"
}

/** Read-only traffic against a bloom-indexed store (l_orderkey) and a
  * zone-indexed store (l_shipdate, l_quantity). The set-up builds both
  * from admits of every batch, replays one admit (which must no-op) and
  * clusters the zone store with one maintenance pass; those writes are
  * timed too. One step is one block of the seeded serve schedule (see
  * gen.py): 4 point lookups and one probe of a month by each zone read
  * face, plus a batch lookup in the first of every eight blocks. */
final class IndexServe extends Workload {
  val reps = 2
  val layer = "sources"
  private var blocks: IndexedSeq[Seq[Array[String]]] = IndexedSeq.empty
  private var s = new Stores("")
  private var base = ""
  private val lookupFiles = mutable.ArrayBuffer.empty[(Int, Int)]
  private val aggFiles = mutable.ArrayBuffer.empty[Int]
  /** Write-path totals of the last set-up. */
  private var seen = Map.empty[String, Long]
  private var userBytes, writtenBytes, compactionBytes, maintainS = 0.0

  /** New bytes under the store directories since the last look. */
  private def written(): Double = {
    val now = Run.files(new File(base))
    val fresh = now.iterator.map { case (p, n) => n - seen.getOrElse(p, 0L) }.filter(_ > 0).sum
    seen = now
    fresh.toDouble
  }

  def setup(r: Run, rep: Int): Unit = {
    if (base.nonEmpty) Run.deleteRecursive(new File(base))
    base = s"${r.work}/serve$rep"
    s = new Stores(base)
    seen = Map.empty
    userBytes = 0; writtenBytes = 0
    blocks = Serve.lines(s"${r.data}/ops.tsv").groupBy(_(0).toInt).toSeq.sortBy(_._1)
      .map(_._2.map(_.drop(1)).toSeq).toIndexedSeq
    // the first set-up runs cold: only the later ones give admit samples
    val record = rep > 0
    val batches = new File(s"${r.data}/batches").list().filter(_.endsWith(".parquet")).sorted
    def admit(b: String): (Boolean, Boolean) = {
      val id = b.stripSuffix(".parquet")
      val df = r.spark.read.parquet(s"${r.data}/batches/$b")
      (r.call("sources", "BloomIndex.admitIndexed") {
        BloomIndex.admitIndexed(
          df.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey"),
          s.bData, s.bStats, "l_orderkey", id, expectedPerFile = Serve.RowsPerFile)
      }, r.call("sources", "ZoneMaps.admitIndexed") {
        ZoneMaps.admitIndexed(df, s.zData, s.zStats, Serve.ZoneCols, id)
      })
    }
    batches.foreach { b =>
      val ok = r.setupTimed("admit", record)(admit(b))
      r.check(ok == ((true, true)), s"admit $b returned $ok")
      userBytes += new File(s"${r.data}/batches/$b").length()
      writtenBytes += written()
    }
    val again = r.setupTimed("replay", record)(admit(batches.head))
    r.check(again == ((false, false)), s"replayed admit ${batches.head} returned $again")
    writtenBytes += written()
    // one maintenance pass clusters the zone store on l_shipdate
    val t0 = System.nanoTime()
    r.setupTimed("maintain", record) {
      r.call("sources", "ZoneMaps.maintainIndexed") {
        ZoneMaps.maintainIndexed(r.spark, s.zData, s.zStats, Serve.ZoneCols, every = 1,
          numFiles = 16)
      }
    }
    maintainS = (System.nanoTime() - t0) / 1e9
    compactionBytes = written()
    writtenBytes += compactionBytes
  }

  /** The first read after the writes refreshes the driver serve caches;
    * then the first `Serve.WarmBlocks` blocks of the schedule, checked but
    * not measured, warm the read path. Latencies fall for about that many
    * blocks; a loop that started earlier would time a share of cold
    * operations that depends on the host's speed. */
  override def warm(r: Run): Unit = {
    val f = blocks.flatten.find(_(0) == "lookup").get
    val (n, _) = r.setupTimed("refresh_lookup", record = true)(Serve.lookup(r, s, f(1).toLong))
    r.check(n == f(2).toLong, s"refresh lookup ${f(1)}: $n rows, expected ${f(2)}")
    r.tracer.paused = true
    blocks.take(Serve.WarmBlocks).foreach(_.foreach(op(r, _)))
  }

  def step(r: Run, i: Int): Unit = blocks((Serve.WarmBlocks + i) % blocks.size).foreach(op(r, _))

  private def op(r: Run, f: Array[String]): Unit = {
    val traced = r.tracer.active
    f(0) match {
      case "lookup" =>
        val (n, files) = r.timed("lookup") { Serve.lookup(r, s, f(1).toLong) }
        if (traced) lookupFiles += files
        r.check(n == f(2).toLong, s"lookup ${f(1)}: $n rows, expected ${f(2)}")
      case "batch" =>
        val keys = f(1).split(",").map(k => lit(k.toLong)).toSeq
        val n = r.timed("batch_lookup") {
          r.call("sources", "BloomIndex.lookupIndexedBatch") {
            BloomIndex.lookupIndexedBatch(r.spark, s.bData, s.bStats, "l_orderkey", keys)._1.count()
          }
        }
        r.check(n == f(2).toLong, s"batch lookup: $n rows, expected ${f(2)}")
      case "range" =>
        val n = r.timed("range_lookup") {
          r.call("sources", "ZoneMaps.lookupRangeIndexed") {
            ZoneMaps.lookupRangeIndexed(r.spark, s.zData, s.zStats, Serve.window(f(1), f(2)))
              ._1.count()
          }
        }
        r.check(n == f(3).toLong, s"range lookup ${f(1)}..${f(2)}: $n rows, expected ${f(3)}")
      case kind =>
        val pred = Serve.window(f(1), f(2))
        val (n, mn, mx, sm) = (f(3).toLong, Serve.opt(f(4)), Serve.opt(f(5)), f(6).toDouble)
        val (ok, scanned) = r.timed("range_agg") {
          kind match {
            case "count" =>
              val (c, fs) = r.call("sources", "ZoneMaps.countRangeIndexed") {
                ZoneMaps.countRangeIndexed(r.spark, s.zData, s.zStats, pred)
              }
              (c == n, fs._1)
            case "minmax" =>
              val (df, fs) = r.call("sources", "ZoneMaps.minMaxRangeIndexed") {
                ZoneMaps.minMaxRangeIndexed(r.spark, s.zData, s.zStats, pred, "l_quantity")
              }
              val row = df.head()
              (Serve.optOf(row, 0) == mn && Serve.optOf(row, 1) == mx, fs._1)
            case "sum" =>
              val (df, fs) = r.call("sources", "ZoneMaps.sumRangeIndexed") {
                ZoneMaps.sumRangeIndexed(r.spark, s.zData, s.zStats, pred, "l_quantity")
              }
              val row = df.head()
              ((if (row.isNullAt(0)) 0.0 else row.getDouble(0)) == sm && row.getLong(1) == n, fs._1)
          }
        }
        if (traced) aggFiles += scanned
        r.check(ok, s"range $kind ${f(1)}..${f(2)} wrong")
    }
  }

  /** Store sizes against the serve-cache budgets, and against the same
    * rows as plain parquet: the admitted batch files, once per store. */
  override def finish(r: Run): Unit = {
    r.counters("bloom_stats_bytes") = Run.files(new File(s.bStats)).values.sum.toDouble
    r.counters("zone_stats_bytes") = Run.files(new File(s.zStats)).values.sum.toDouble
    r.counters("plain_bytes") = 2 * userBytes
    r.counters("store_bytes") = Run.files(new File(base)).values.sum.toDouble
    r.counters("store_files") = Seq(s.bData, s.bStats, s.zData, s.zStats)
      .map(Run.parquetFiles).sum.toDouble
  }

  def layers(r: Run): Seq[(String, Double, String)] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Seq(
      ("sources.lookup_jobs", r.jobsPerOp("lookup"), "count/op"),
      ("sources.lookup_files_read", mean(lookupFiles.map(_._1.toDouble).toSeq), "count/op"),
      ("sources.lookup_prune_ratio", mean(lookupFiles.filter(_._2 > 0)
        .map { case (a, b) => (b - a).toDouble / b }.toSeq), "ratio"),
      ("sources.batch_lookup_p50_ms",
        r.latencies.get("batch_lookup").fold(0.0)(b => Run.median(b.toSeq)), "ms"),
      ("sources.agg_jobs", r.jobsPerOp("range_agg"), "count/op"),
      ("sources.agg_files_scanned", mean(aggFiles.map(_.toDouble).toSeq), "count/op"),
      ("sources.admit_jobs", r.jobsPerOp("admit", "setup"), "count/op"),
      ("sources.maintain_s", maintainS, "s"),
      ("sources.compaction_bytes_rewritten", compactionBytes, "B"),
      ("sources.write_amp", if (userBytes > 0) writtenBytes / (2 * userBytes) else 0.0, "ratio"),
      ("sources.store_files", r.counters.getOrElse("store_files", 0.0), "count"),
      ("sources.refresh_jobs", r.jobsPerOp("refresh_lookup", "setup"), "count/op"))
  }
}

/** Shared pieces of the store workload. */
object Serve {
  val ZoneCols = Seq("l_shipdate", "l_quantity")
  /** Bloom filters are sized for the stores' rows per file. */
  val RowsPerFile = 10000L
  /** Blocks of the schedule run as the read path's warm-up. */
  val WarmBlocks = 4

  def lines(path: String): IndexedSeq[Array[String]] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).map(_.split("\t", -1)).toIndexedSeq

  /** Timestamp literal from epoch microseconds. */
  def ts(us: String): Column = lit(java.time.Instant.ofEpochSecond(0, us.toLong * 1000L))

  /** The l_shipdate range [lo, hi) in epoch microseconds. */
  def window(lo: String, hi: String): Seq[(String, Column, Column)] =
    Seq(("l_shipdate", ts(lo), ts(hi)))

  def opt(s: String): Option[Double] = if (s == "null") None else Some(s.toDouble)

  def optOf(row: Row, i: Int): Option[Double] =
    if (row.isNullAt(i)) None else Some(row.getDouble(i))

  /** Rows of one order key, and (files read, live files). */
  def lookup(r: Run, s: Stores, key: Long): (Long, (Int, Int)) = {
    val (rows, fs) = r.call("sources", "BloomIndex.lookupIndexed") {
      BloomIndex.lookupIndexed(r.spark, s.bData, s.bStats, "l_orderkey", lit(key))
    }
    (rows.count(), fs)
  }
}
