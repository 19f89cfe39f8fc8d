package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, Store, ZoneMaps}

/** The selective-compaction contract (round-11 verdict #1 gap):
  * maintenance I/O proportional to FOLDED bytes, not store bytes.
  *
  *  - full-sized base files keep their names AND bytes across a cycle
  *    (hard-linked into the image — byte-identical, same inode);
  *  - only deltas + undersized base files are rewritten, and the
  *    reported foldedBytes tracks exactly those;
  *  - replay markers survive, reads stay exact, the crash protocol is
  *    the same promote (walked under races by StoreFuzzSpec's selective
  *    compactor arm);
  *  - index composition: kept files' bloom/zone stats rows stay VALID
  *    (same file names), so the heal after a selective cycle only
  *    covers the folded output.
  */
class SelectiveCompactSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_selcomp_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private def batch(key: String, n: Int) =
    (0 until n).map(i => (key, i.toLong)).toDF("batch", "i").coalesce(1)

  private def baseFiles(dir: String): Map[String, Array[Byte]] = {
    val fs = new File(dir).listFiles()
    (if (fs == null) Array.empty[File] else fs)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath))
      .toMap
  }

  test("full-sized files are untouched (byte-identical, same inode); only deltas fold; I/O = folded bytes") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      // generation 1: a big batch, fully compacted -> large base file(s)
      assert(Store.appendIdempotent(batch("g1", 50000), dir, "g1"))
      Store.compact(spark, dir, numFiles = 1)
      val gen1 = baseFiles(dir)
      assert(gen1.nonEmpty)
      val gen1Inodes = gen1.keySet.map { n =>
        n -> java.nio.file.Files.getAttribute(
          new File(dir, n).toPath, "unix:ino")
      }.toMap
      // generation 2: two small deltas
      assert(Store.appendIdempotent(batch("g2", 100), dir, "g2"))
      assert(Store.appendIdempotent(batch("g3", 100), dir, "g3"))
      val deltaBytes = Seq("g2", "g3").map(id =>
        new File(dir, s"delta-$id").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum).sum
      val gen1Bytes = gen1.values.map(_.length.toLong).sum
      // selective: threshold below gen1's size, above the deltas'
      val rep = Store.compactSelective(spark, dir,
        minFileBytes = gen1Bytes, targetBytes = 1L << 20)
      assert(rep.foldedDeltas == 2 && rep.keptFiles == gen1.size)
      assert(rep.foldedBytes == deltaBytes,
        s"reported I/O must be the folded bytes: ${rep.foldedBytes} vs $deltaBytes")
      assert(rep.foldedBytes < gen1Bytes / 10,
        "the point: fold cost is orders below store bytes")
      // kept files: same names, same bytes, same inode (linked, not copied)
      val after = baseFiles(dir)
      gen1.foreach { case (name, bytes) =>
        assert(after.contains(name), s"kept file $name must keep its name")
        assert(java.util.Arrays.equals(after(name), bytes),
          s"kept file $name must be byte-identical")
        assert(java.nio.file.Files.getAttribute(
          new File(dir, name).toPath, "unix:ino") == gen1Inodes(name),
          s"kept file $name must be the same inode (hard link, zero I/O)")
      }
      // deltas folded away, new small generation present
      assert(Store.deltaCount(dir) == 0)
      assert(after.size > gen1.size, "folded output lands as new base files")
      // reads exact, replays still no-op (markers rode the image)
      val counts = Store.read(spark, dir).groupBy("batch").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("g1" -> 50000L, "g2" -> 100L, "g3" -> 100L))
      Seq("g1", "g2", "g3").foreach { id =>
        assert(!Store.appendIdempotent(batch(id, 1), dir, id),
          s"replay of $id must remain a no-op after selective compaction")
      }
      // a second selective pass with nothing to fold is a no-op
      val rep2 = Store.compactSelective(spark, dir, minFileBytes = 1L)
      assert(rep2.foldedDeltas == 0 && rep2.foldedBytes == 0L)
    } finally sweep(base)
  }

  test("undersized base files fold together with deltas; output converges above the threshold") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      assert(Store.appendIdempotent(batch("a", 200), dir, "a"))
      Store.compact(spark, dir, numFiles = 1) // small base file
      val smallBase = baseFiles(dir)
      assert(Store.appendIdempotent(batch("b", 200), dir, "b"))
      // threshold ABOVE the small base file: it must fold too
      val rep = Store.compactSelective(spark, dir, minFileBytes = 10L << 20)
      assert(rep.keptFiles == 0 && rep.foldedDeltas == 1)
      assert(rep.foldedFiles == smallBase.size + 1)
      val counts = Store.read(spark, dir).groupBy("batch").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("a" -> 200L, "b" -> 200L))
      // no old names survive: everything was rewritten this time
      assert(baseFiles(dir).keySet.intersect(smallBase.keySet).isEmpty)
    } finally sweep(base)
  }

  test("bloom-indexed store: selective maintenance keeps kept files' stats valid; heal covers only the folded output") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val li = graft.sources.Tables.lineitem(spark, sf)
      val h0 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 0)
      val h1 = li.filter(pmod(xxhash64($"l_orderkey"), lit(2)) === 1)
      BloomIndex.admitIndexed(h0, dataDir, statsDir, "l_orderkey", "h0"): Unit
      // full cycle 1: compact + heal -> covered base generation
      BloomIndex.maintainIndexed(spark, dataDir, statsDir, "l_orderkey",
        every = 1, numFiles = 2)
      val gen1 = Store.read(spark, dataDir).inputFiles
        .map(BloomIndex.canonPath).toSet
      BloomIndex.admitIndexed(h1, dataDir, statsDir, "l_orderkey", "h1"): Unit
      // SELECTIVE cycle 2: gen1 files kept (their stats rows stay valid)
      val gen1Bytes = new File(dataDir).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length()).min
      BloomIndex.maintainIndexed(spark, dataDir, statsDir, "l_orderkey",
        every = 1, minFileBytes = gen1Bytes)
      val live = Store.read(spark, dataDir).inputFiles
        .map(BloomIndex.canonPath).toSet
      assert(gen1.subsetOf(live), "kept files must keep their names")
      // index healed: exactly the live set covered, and the kept files'
      // rows were never rebuilt (they were already covered before)
      val covered = Store.read(spark, statsDir)
        .select($"file").as[String].collect().toSet
      assert(covered == live)
      // serve path: exact + pruned
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      val (rows, (read, total)) = BloomIndex.lookupIndexed(
        spark, dataDir, statsDir, "l_orderkey", lit(key))
      val want = li.filter($"l_orderkey" === key).count()
      assert(rows.count() == want && want > 0)
      assert(read < total, s"bloom pruning must survive the selective cycle: $read/$total")
    } finally sweep(base)
  }

  test("fold counts are the image's files: a nested and an oddly-named delta file both count") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      assert(Store.appendIdempotent(batch("n", 300), dir, "n"))
      assert(Store.appendIdempotent(batch("o", 200), dir, "o"))
      def parts(d: File) =
        d.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      // delta-n's data file one directory deeper
      val dn = new File(dir, "delta-n")
      val sub = new File(dn, "sub")
      assert(sub.mkdir())
      parts(dn).foreach(f => assert(f.renameTo(new File(sub, f.getName))))
      // delta-o's data file without the .parquet suffix (still not hidden)
      val dOdd = new File(dir, "delta-o")
      parts(dOdd).foreach(f => assert(f.renameTo(
        new File(dOdd, f.getName.stripSuffix(".parquet") + ".data"))))
      // the image: every non-hidden file under the folded deltas, any depth
      def visible(f: File): Seq[File] = f.listFiles().toSeq
        .filterNot(k => k.getName.startsWith(".") || k.getName.startsWith("_"))
        .flatMap(k => if (k.isFile) Seq(k) else visible(k))
      val image = Seq(dn, dOdd).flatMap(visible)
      assert(image.exists(_.getParentFile == sub) &&
        image.exists(_.getName.endsWith(".data")), s"fixture: $image")
      val imageBytes = image.map(_.length()).sum // before the fold deletes them
      val rep = Store.compactSelective(spark, dir, minFileBytes = 1L << 20)
      assert(rep.foldedDeltas == 2)
      assert(rep.foldedFiles == image.size,
        s"foldedFiles ${rep.foldedFiles} vs the image's ${image.size} files")
      assert(rep.foldedBytes == imageBytes,
        s"foldedBytes ${rep.foldedBytes} vs the image's $imageBytes")
      assert(Store.read(spark, dir).count() == 500, "every folded row survives")
    } finally sweep(base)
  }

  test("single-file clustered fold is shuffle-free: coalesce + in-file sort, zero exchanges") {
    // Round-12 regression (PlanLintSpec AQE-ON): a clustered fold whose
    // byte-derived count collapsed to 1 file planned
    // repartitionByRange(1, …) = a data-bearing SinglePartition EXCHANGE —
    // the whole folded image funneled through one network task. The fix
    // takes the zero-exchange path (coalesce(1).sortWithinPartitions);
    // this pins it: NO shuffle exchange anywhere in any execution the
    // fold triggers, and the output is still one sorted file.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: QueryStageExec => shuffles(s.plan)
      case e: ShuffleExchangeExec =>
        s"Exchange ${e.outputPartitioning} over ${e.child.nodeName}" +:
          e.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles)
    }
    val base = tmp()
    try {
      val dir = s"$base/store"
      assert(Store.appendIdempotent(batch("a", 500), dir, "a"))
      assert(Store.appendIdempotent(batch("b", 500), dir, "b"))
      val captured =
        new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = { captured.add(qe.executedPlan): Unit }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val rep = Store.compactSelective(spark, dir, minFileBytes = 1L << 20,
          targetBytes = 1L << 30, clusterBy = Seq("i"))
        assert(rep.foldedDeltas == 2 && rep.foldedFiles == 2)
        // the listener fires on a bus thread: drain until stable
        var last = -1; var same = 0
        while (same < 3) {
          Thread.sleep(100)
          val n = captured.size
          if (n == last) same += 1 else { same = 0; last = n }
        }
        import scala.jdk.CollectionConverters._
        val plans = captured.asScala.toSeq
        assert(plans.nonEmpty, "no executions captured")
        val found = plans.flatMap(shuffles)
        assert(found.isEmpty,
          s"single-file fold must not shuffle: ${found.mkString("; ")}")
      } finally spark.listenerManager.unregister(listener)
      val fs = baseFiles(dir)
      assert(fs.size == 1, s"expected one compacted file, got ${fs.keySet}")
      val back = Store.read(spark, dir)
      assert(back.count() == 1000)
      // in-file clustering survived: the single file is sorted by i
      val vals = spark.read.parquet(new File(dir, fs.keySet.head).toString)
        .select("i").as[Long].collect()
      assert(vals.sameElements(vals.sorted), "file must be sorted by clusterBy")
    } finally sweep(base)
  }

  test("zone-mapped store: selective clustered maintenance keeps range pruning exact") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val li = graft.sources.Tables.lineitem(spark, sf)
      def shaped(half: Int) = li
        .filter(pmod(xxhash64($"l_orderkey"), lit(2)) === half)
        .repartitionByRange(4, $"l_shipdate")
        .sortWithinPartitions($"l_shipdate")
      ZoneMaps.admitIndexed(shaped(0), dataDir, statsDir, Seq("l_shipdate"), "h0"): Unit
      ZoneMaps.maintainIndexed(spark, dataDir, statsDir, Seq("l_shipdate"),
        every = 1, numFiles = 4)
      val gen1 = Store.read(spark, dataDir).inputFiles
        .map(BloomIndex.canonPath).toSet
      ZoneMaps.admitIndexed(shaped(1), dataDir, statsDir, Seq("l_shipdate"), "h1"): Unit
      val gen1Bytes = new File(dataDir).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.length()).min
      ZoneMaps.maintainIndexed(spark, dataDir, statsDir, Seq("l_shipdate"),
        every = 1, minFileBytes = gen1Bytes)
      assert(gen1.subsetOf(Store.read(spark, dataDir).inputFiles
        .map(BloomIndex.canonPath).toSet))
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-04-01").cast("timestamp")
      val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(spark, dataDir,
        statsDir, Seq(("l_shipdate", lo, hi)))
      val want = li.filter($"l_shipdate" >= lo && $"l_shipdate" < hi).count()
      assert(df.count() == want && want > 0)
      assert(read < total,
        s"range pruning must survive the selective clustered cycle: $read/$total")
    } finally sweep(base)
  }
}
