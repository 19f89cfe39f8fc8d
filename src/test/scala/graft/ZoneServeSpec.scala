package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, ServeCache, Store, ZoneMaps}

/** The zone faces decide which files to serve from metadata and which to
  * scan with ONE projection of the stats rows: no Spark job when the stats
  * are cached, one bounded stats scan over the serve-cache budget. Pins
  * the job ceilings of every face, and that the live-file rules (stale
  * rows dropped, duplicate rows counted once, uncovered files scanned,
  * provably empty slices skipped) give the same answers and the same
  * (scanned, total) on both paths as a brute-force filter. */
class ZoneServeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_zoneserve_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private type Preds = Seq[(String, Column, Column)]

  /** The value of `body` and the Spark jobs it launched, none untagged. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (a, p) = metrics.measure("zone_serve")(body)
    assert(p.untagged == 0, s"${p.untagged} jobs ran outside the scope's tag")
    (a, p.total.jobs)
  }

  private def withBudget[A](bytes: Long)(body: => A): A = {
    val was = ServeCache.maxBytes
    ServeCache.maxBytes = bytes
    try body finally ServeCache.maxBytes = was
  }

  /** id, v in [0, 1000) with every 10th v NULL, w = 3 * id with every 7th
    * w NULL; admitted range-shaped on v into 8 files tracking v and w. */
  private def admitted(dataDir: String, statsDir: String): DataFrame = {
    val rows = spark.range(0, 16000).select($"id",
      when(pmod($"id", lit(10)) === 0, lit(null).cast("long"))
        .otherwise(pmod($"id" * 2654435761L, lit(1000))).as("v"),
      when(pmod($"id", lit(7)) === 0, lit(null).cast("long"))
        .otherwise($"id" * 3L).as("w"))
    assert(ZoneMaps.admitIndexed(
      rows.repartitionByRange(8, $"v").sortWithinPartitions($"v"),
      dataDir, statsDir, Seq("v", "w"), "h0"))
    rows
  }

  test("job ceilings: each aggregate face ≤2 jobs warm; lookupRangeIndexed returns having run none") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      admitted(dataDir, statsDir)
      val preds: Preds = Seq(("v", lit(100L), lit(900L)))
      // each call reads its answer back, as a caller would
      def headed(r: (DataFrame, (Int, Int))) = { r._1.head(); r._2 }
      def faces() = Seq[(String, () => (Int, Int))](
        "count" -> (() => ZoneMaps.countRangeIndexed(spark, dataDir, statsDir, preds)._2),
        "minmax" -> (() => headed(
          ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir, preds, "w"))),
        "sum" -> (() => headed(
          ZoneMaps.sumRangeIndexed(spark, dataDir, statsDir, preds, "w"))))
      faces().foreach(_._2()) // warm the serve cache
      faces().foreach { case (face, call) =>
        val ((scanned, total), jobs) = jobsOf(call())
        assert(scanned >= 1 && scanned < total, s"$face: boundary files only")
        assert(jobs <= 2, s"$face ran $jobs jobs with a warm cache")
      }
      val ((df, (read, total)), inCall) = jobsOf(
        ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir, preds))
      assert(read >= 1 && read < total)
      assert(inCall == 0, s"warm lookupRangeIndexed ran $inCall jobs before its action")
      val (_, counted) = jobsOf(df.count())
      assert(counted <= 2, s"reading the chosen files ran $counted jobs")
    } finally sweep(base)
  }

  test("one boundary file: each aggregate face runs exactly 1 job warm") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val rows = admitted(dataDir, statsDir)
      // the NULLs of v all range-partition into the first file, which also
      // holds v = 100: every other file lies inside [100, 2000]
      val preds: Preds = Seq(("v", lit(100L), lit(2000L)))
      def faces() = Seq[(String, () => (Row, (Int, Int)))](
        "count" -> (() => {
          val (n, files) = ZoneMaps.countRangeIndexed(spark, dataDir, statsDir, preds)
          (Row(n), files)
        }),
        "minmax" -> (() => {
          val (df, files) = ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir, preds, "w")
          (df.head(), files)
        }),
        "sum" -> (() => {
          val (df, files) = ZoneMaps.sumRangeIndexed(spark, dataDir, statsDir, preds, "w")
          (df.head(), files)
        }))
      faces().foreach(_._2()) // warm the serve cache
      val in = rows.filter($"v".between(100L, 2000L))
      val brute = Map(
        "count" -> Row(in.count()),
        "minmax" -> in.agg(min($"w"), max($"w")).head(),
        "sum" -> in.agg(sum($"w"), count($"w")).head())
      faces().foreach { case (face, call) =>
        val ((answer, (scanned, total)), jobs) = jobsOf(call())
        assert(scanned == 1 && total == 8, s"$face scanned $scanned of $total files")
        assert(answer == brute(face), s"$face answered $answer")
        assert(jobs == 1, s"$face ran $jobs jobs with a warm cache and one boundary file")
      }
    } finally sweep(base)
  }

  test("job ceilings over budget: the decision is exactly one stats job") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      admitted(dataDir, statsDir)
      val preds: Preds = Seq(("v", lit(100L), lit(900L)))
      withBudget(0L) {
        ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir, preds): Unit
        val (_, inCall) = jobsOf(ZoneMaps.lookupRangeIndexed(spark, dataDir,
          statsDir, preds))
        assert(inCall == 1, s"over-budget decision ran $inCall jobs")
        val (_, countJobs) = jobsOf(ZoneMaps.countRangeIndexed(spark, dataDir,
          statsDir, preds))
        assert(countJobs <= 3, s"over-budget count ran $countJobs jobs")
      }
    } finally sweep(base)
  }

  test("coverage states: duplicate, stale, uncovered and all-null rows give the brute-force answers on both paths") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val rows = admitted(dataDir, statsDir)
      // an all-null slice of the predicate column: provably empty
      val nulls = spark.range(16000, 17000).select($"id",
        lit(null).cast("long").as("v"), ($"id" * 3L).as("w"))
      assert(ZoneMaps.admitIndexed(nulls.coalesce(1), dataDir, statsDir,
        Seq("v", "w"), "nulls"))
      // an uncovered live file: data committed, stats never written
      val raw = spark.range(17000, 17500).select($"id",
        pmod($"id", lit(1000)).as("v"), ($"id" * 3L).as("w"))
      assert(Store.appendIdempotent(raw.coalesce(1), dataDir, "raw"))
      val stats = Store.read(spark, statsDir).collect()
      // a duplicate row for one file (a heal racing an admit): a null-free
      // file, which every aggregate face serves from metadata once its
      // range is contained, so counting it twice would show
      val dup = stats.filter(_.getAs[Long]("nnull_v") == 0L)
        .maxBy(_.getAs[Long]("n_rows"))
      // a stale row for a dead file, null-free and contained in the first
      // two probes below, so serving it would change their answers
      val stale = Row.fromSeq(stats.head.schema.fieldNames.toSeq.map {
        case "file" => BloomIndex.canonPath(s"$dataDir/gone.parquet")
        case "n_rows" => 1000L
        case "min_v" | "max_v" => 500L
        case "min_w" | "max_w" => 1L << 40
        case "sum_w" => 1000L << 40
        case _ => 0L
      })
      Store.append(spark.createDataFrame(
        java.util.List.of(dup, stale), stats.head.schema).coalesce(1), statsDir)
      val all = rows.unionByName(nulls).unionByName(raw)
      val live = Store.liveFiles(dataDir).size
      val probes: Seq[Preds] = Seq(
        Seq(("v", lit(100L), lit(900L))),
        Seq(("v", lit(-1L), lit(100000L))),
        Seq(("v", lit(5000L), lit(6000L))),
        Seq(("v", lit(100L), lit(900L)), ("w", lit(0L), lit(30000L))))
      def answers(preds: Preds) = {
        val (n, nf) = ZoneMaps.countRangeIndexed(spark, dataDir, statsDir, preds)
        val (mm, mmf) = ZoneMaps.minMaxRangeIndexed(spark, dataDir, statsDir, preds, "w")
        val (sm, smf) = ZoneMaps.sumRangeIndexed(spark, dataDir, statsDir, preds, "w")
        val (lk, lkf) = ZoneMaps.lookupRangeIndexed(spark, dataDir, statsDir, preds)
        (Seq[Any](n) ++ mm.head().toSeq ++ sm.head().toSeq :+ lk.count(),
          Seq(nf, mmf, smf, lkf))
      }
      def brute(preds: Preds): Seq[Any] = {
        val in = all.filter(preds.map { case (c, lo, hi) =>
          col(c) >= lo && col(c) < hi }.reduce(_ && _))
        val r = in.agg(count(lit(1)), min($"w"), max($"w"), sum($"w"), count($"w"))
          .head()
        r.toSeq :+ r.getLong(0)
      }
      probes.foreach { preds =>
        answers(preds) // warm
        val (warm, warmFiles) = answers(preds)
        val (cold, coldFiles) = withBudget(0L)(answers(preds))
        assert(warm == brute(preds), s"warm answers for $preds")
        assert(cold == warm, s"over-budget answers for $preds")
        assert(coldFiles == warmFiles, s"(scanned, total) for $preds")
        warmFiles.foreach { case (scanned, total) =>
          assert(total == live, s"total counts live files only: $total")
          // the uncovered file has no ranges to prune it: always scanned
          assert(scanned >= 1 && scanned <= live, s"$scanned of $total")
        }
      }
      // whole domain: COUNT serves every covered file from metadata (the
      // duplicated one once), skips the all-null slice and the stale row,
      // and scans only the uncovered file
      val (_, domainFiles) = answers(probes(1))
      assert(domainFiles.head == ((1, live)), s"whole domain: $domainFiles")
    } finally sweep(base)
  }
}
