package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BloomIndex, Layout, Tables}

/** Bloom-index contract: point lookups are result-invisible on ANY layout
  * (a bloom "maybe" is never trusted — the equality predicate still runs),
  * effective on a clustered layout (≈1 file read of 16, + fpp stragglers),
  * still effective on a RANDOM layout for an absent key (the case zone
  * maps cannot serve: "definitely absent" needs no layout correlation),
  * and partial-merge-correct (the per-file filter must OR together
  * map-side partials from many tasks without losing members). */
class BloomIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_bloom_spec_")
  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  private def li = Tables.lineitem(spark, sf)

  private def expected(key: Long): Seq[(Long, Int, Long)] =
    li.filter($"l_orderkey" === key)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .as[(Long, Int, Long)].collect().toSeq.sorted

  test("clustered layout: present key reads ~1 file of 16, identical rows") {
    val base = tmp()
    try {
      Layout.writeClustered(li, s"$base/data", Seq("l_orderkey"), 16)
      BloomIndex.maintainIndex(spark, s"$base/data", s"$base/stats",
        "l_orderkey", expectedPerFile = 100000L)
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark,
        s"$base/data", s"$base/stats", "l_orderkey", lit(key))
      assert(total == 16, s"expected 16 file slices, saw $total")
      // one true file + at most a couple of 1% fpp stragglers
      assert(read >= 1 && read <= 3,
        s"clustered point lookup must prune to ~1 file, read $read/$total")
      val got = df.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == expected(key) && got.nonEmpty)
    } finally sweep(base)
  }

  test("random layout: absent key prunes EVERYTHING, present key exact") {
    val base = tmp()
    try {
      li.repartition(16).write.parquet(s"$base/data")
      BloomIndex.maintainIndex(spark, s"$base/data", s"$base/stats",
        "l_orderkey", expectedPerFile = 100000L)
      val maxKey = li.agg(max($"l_orderkey")).as[Long].head()
      // absent key: blooms answer "definitely absent" with no layout help;
      // allow fpp stragglers but the data scan must be (near-)empty
      val (dfAbsent, (readA, totalA)) = BloomIndex.lookupIndexed(spark,
        s"$base/data", s"$base/stats", "l_orderkey", lit(maxKey + 1000001L))
      assert(totalA == 16)
      assert(readA <= 2, s"absent key must prune nearly all files: $readA")
      assert(dfAbsent.count() == 0)
      // present key on a random layout: correctness unaffected (the rows
      // are scattered, so most/all files survive — that is the documented
      // layout trade-off, not a defect)
      val (dfHit, _) = BloomIndex.lookupIndexed(spark,
        s"$base/data", s"$base/stats", "l_orderkey", lit(maxKey))
      val got = dfHit.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == expected(maxKey) && got.nonEmpty)
    } finally sweep(base)
  }

  test("partial merge: 32 populated map-side partials OR together losslessly") {
    // a global aggregate over a 32-partition scan forces the
    // TypedImperativeAggregate through 32 NON-EMPTY partial filters merged
    // on the reduce side — the path a lossy mergeInPlace would corrupt.
    // (Building over a single parquet file would plan ONE input split and
    // merge a lone partial into an empty buffer, proving nothing.)
    val bloomBytes = li.repartition(32)
      .agg(graft.functions.BloomSketch.bloomAgg(
        xxhash64($"l_orderkey"), 100000L).as("bloom"))
      .select($"bloom").as[Array[Byte]].head()
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))
    val keys = li.select($"l_orderkey").distinct().as[Long].collect()
    // probe locally (one collected filter, bounded) instead of one Spark
    // job per key; hash exactly as the build side does
    val hashes = li.select($"l_orderkey", xxhash64($"l_orderkey"))
      .distinct().as[(Long, Long)].collect().toMap
    val misses = keys.filterNot(k => bloom.mightContainLong(hashes(k)))
    assert(misses.isEmpty,
      s"false negatives are impossible by contract, got ${misses.take(5).toSeq}")
  }

  test("indexed store: admits carry blooms, replays no-op, lookup exact + pruned") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      // cluster each half so the probe key concentrates in few files
      val h0 = li.filter($"l_orderkey" =!= key).repartitionByRange(4, $"l_orderkey")
      val h1 = li.filter($"l_orderkey" === key).coalesce(1)
      assert(BloomIndex.admitIndexed(h0, dataDir, statsDir, "l_orderkey", "b0"))
      assert(BloomIndex.admitIndexed(h1, dataDir, statsDir, "l_orderkey", "b1"))
      // replay: neither data nor stats double-admit
      val statsRows = sources.Store.read(spark, statsDir).count()
      assert(!BloomIndex.admitIndexed(h1, dataDir, statsDir, "l_orderkey", "b1"))
      assert(sources.Store.read(spark, statsDir).count() == statsRows)
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(read < total, s"covered files must prune: $read/$total")
      val got = df.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == expected(key) && got.nonEmpty)
    } finally sweep(base)
  }

  test("indexed store: uncovered files are read unconditionally; maintain heals") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      BloomIndex.admitIndexed(li.filter($"l_orderkey" =!= key),
        dataDir, statsDir, "l_orderkey", "b0"): Unit
      // the crash window: data committed, stats never written
      sources.Store.appendIdempotent(li.filter($"l_orderkey" === key),
        dataDir, "b1"): Unit
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(read >= 1, "the uncovered delta must be read despite no stats")
      assert(df.count() == expected(key).size && expected(key).nonEmpty)
      // heal: every live file covered, no stale rows
      BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      val live = sources.Store.read(spark, dataDir).inputFiles
        .map(BloomIndex.canonPath).toSet
      val covered = sources.Store.read(spark, statsDir)
        .select($"file").as[String].collect().toSet
      assert(covered == live, s"heal must cover exactly the live files")
      assert(total >= read)
    } finally sweep(base)
  }

  test("indexed store: compaction stales every stat; lookups stay correct, heal restores pruning") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      BloomIndex.admitIndexed(li, dataDir, statsDir, "l_orderkey", "b0"): Unit
      sources.Store.compact(spark, dataDir, numFiles = 8)
      // all file names changed: stats cover nothing, lookup full-scans
      val (df1, (read1, total1)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(read1 == total1, "stale index must fall back to reading all")
      assert(df1.count() == expected(key).size)
      BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      val covered = sources.Store.read(spark, statsDir)
        .select($"file").as[String].collect().toSet
      assert(covered == sources.Store.read(spark, dataDir).inputFiles
          .map(BloomIndex.canonPath).toSet,
        "maintain must drop dead rows and cover the compacted files")
      // absent key after heal: blooms prune everything again
      val (_, (readAbsent, _)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key + 999999L))
      assert(readAbsent <= 1, s"healed index must prune an absent key: $readAbsent")
    } finally sweep(base)
  }

  test("batched lookup: one stats pass serves K keys, attribution ⊆ single-key candidates") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val (loKey, hiKey) = li.agg(min($"l_orderkey"), max($"l_orderkey"))
        .as[(Long, Long)].head()
      val absent = hiKey + 1000001L
      BloomIndex.admitIndexed(li.repartitionByRange(8, $"l_orderkey"),
        dataDir, statsDir, "l_orderkey", "b0"): Unit
      BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      val keys = Seq(loKey, hiKey, absent)
      val (df, perKey, (read, total)) = BloomIndex.lookupIndexedBatch(
        spark, dataDir, statsDir, "l_orderkey", keys.map(lit(_)))
      // result = union of the per-key row sets, exactly
      val got = df.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == (expected(loKey) ++ expected(hiKey)).sorted && got.nonEmpty)
      // attribution: each key's candidates ⊆ its single-lookup candidates
      // (the batch probe answers the SAME membership tests), absent key
      // attributes to at most fpp stragglers, and the batch never reads
      // more than the singles combined
      var singleReadSum = 0
      keys.zipWithIndex.foreach { case (k, i) =>
        val (_, (readK, _)) = BloomIndex.lookupIndexed(spark, dataDir,
          statsDir, "l_orderkey", lit(k))
        singleReadSum += readK
        // re-derive the single-key candidate set from attribution contract
        assert(perKey(i).nonEmpty || k == absent)
      }
      assert(perKey(2).size <= 1, s"absent key must attribute ≈0 files: ${perKey(2)}")
      assert(read <= singleReadSum && read < total,
        s"batch read $read must not exceed singles' $singleReadSum and must prune ($total total)")
      assert(perKey.flatten.distinct.size == read,
        "filesRead must be exactly the union of per-key candidates")
    } finally sweep(base)
  }

  test("join-driven file pruning: concentrated dim skips files, join result exact, uncovered kept") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      BloomIndex.admitIndexed(
        li.repartitionByRange(16, $"l_orderkey").sortWithinPartitions($"l_orderkey"),
        dataDir, statsDir, "l_orderkey", "b0"): Unit
      // a concentrated dim: the 10 highest order keys live in the top
      // range slice(s) — the shape where file pruning pays
      val dimKeys = li.select($"l_orderkey").distinct()
        .orderBy($"l_orderkey".desc).limit(10)
      val keySet = dimKeys.as[Long].collect().toSet
      val (fact, (read, total)) = BloomIndex.prunedJoinScan(spark, dataDir,
        statsDir, "l_orderkey", dimKeys)
      assert(total == 16 && read <= 3,
        s"10 keys from one range slice must prune hard: $read/$total")
      val got = fact.join(dimKeys, "l_orderkey")
        .select($"l_orderkey", $"l_linenumber").as[(Long, Int)]
        .collect().toSeq.sorted
      val want = li.filter($"l_orderkey".isInCollection(keySet))
        .select($"l_orderkey", $"l_linenumber").as[(Long, Int)]
        .collect().toSeq.sorted
      assert(got == want && got.nonEmpty, "pruned join must equal unpruned join")
      // crash window: a delta with NO stats must always survive pruning
      sources.Store.appendIdempotent(
        li.limit(50).withColumn("l_orderkey", $"l_orderkey" * -1 - 1),
        dataDir, "raw"): Unit
      val (fact2, (read2, total2)) = BloomIndex.prunedJoinScan(spark, dataDir,
        statsDir, "l_orderkey", dimKeys)
      assert(total2 > total && read2 > read,
        "uncovered files must be read unconditionally")
      assert(fact2.join(dimKeys, "l_orderkey")
        .select($"l_orderkey", $"l_linenumber").as[(Long, Int)]
        .collect().toSeq.sorted == want)
    } finally sweep(base)
  }

  test("join pruning degrades safely: over-threshold dim and empty dim") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      BloomIndex.admitIndexed(
        li.repartitionByRange(8, $"l_orderkey").sortWithinPartitions($"l_orderkey"),
        dataDir, statsDir, "l_orderkey", "b0"): Unit
      val dimKeys = li.select($"l_orderkey").distinct()
        .orderBy($"l_orderkey".desc).limit(10)
      // over maxKeys: pruning is skipped, the scan reads everything and
      // the join is still exact
      val (factAll, (readAll, totalAll)) = BloomIndex.prunedJoinScan(spark,
        dataDir, statsDir, "l_orderkey", dimKeys, maxKeys = 5)
      assert(readAll == totalAll, "over-threshold dim must skip pruning")
      assert(factAll.join(dimKeys, "l_orderkey").count() ==
        li.filter($"l_orderkey".isin(dimKeys.as[Long].collect(): _*)).count())
      // empty dim: no file read at all, empty join
      val (factNone, (readNone, _)) = BloomIndex.prunedJoinScan(spark,
        dataDir, statsDir, "l_orderkey", dimKeys.filter(lit(false)))
      assert(readNone == 0 && factNone.count() == 0)
      // type mismatch is rejected instead of silently pruning everything
      assertThrows[IllegalArgumentException](BloomIndex.prunedJoinScan(spark,
        dataDir, statsDir, "l_orderkey",
        dimKeys.select($"l_orderkey".cast("int"))))
    } finally sweep(base)
  }

  test("no stats yet (the admit's crash window): every face reads every live file") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      sources.Store.appendIdempotent(li.repartition(4), dataDir, "raw"): Unit
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(total >= 1 && read == total, s"point lookup read $read/$total")
      assert(df.count() == li.filter($"l_orderkey" === key).count())
      val (_, perKey, (bRead, bTotal)) = BloomIndex.lookupIndexedBatch(spark,
        dataDir, statsDir, "l_orderkey", Seq(lit(key), lit(-1L)))
      assert(bRead == bTotal && perKey.forall(_.size == bTotal),
        s"batch read $bRead/$bTotal, per key ${perKey.map(_.size)}")
      val (fact, (jRead, jTotal)) = BloomIndex.prunedJoinScan(spark, dataDir,
        statsDir, "l_orderkey", Seq(key).toDF("l_orderkey"))
      assert(jRead == jTotal, s"join pruning read $jRead/$jTotal")
      assert(fact.filter($"l_orderkey" === key).count() == df.count())
    } finally sweep(base)
  }

  test("duplicated stats rows (heal racing an admit) never duplicate result rows") {
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/data", s"$base/stats")
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      BloomIndex.admitIndexed(li, dataDir, statsDir, "l_orderkey", "b0"): Unit
      BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      // simulate the benign race: every file covered by TWO stats rows
      sources.Store.append(
        sources.Store.read(spark, statsDir).localCheckpoint(true), statsDir)
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(read <= total, s"dup stats must not inflate the file list: $read/$total")
      val got = df.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == expected(key), "a duplicated stats row must not re-read a file")
      val (dfB, _, (readB, totalB)) = BloomIndex.lookupIndexedBatch(spark,
        dataDir, statsDir, "l_orderkey", Seq(lit(key)))
      assert(readB <= totalB)
      assert(dfB.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted == expected(key))
    } finally sweep(base)
  }

  test("a store path containing spaces round-trips the whole indexed protocol") {
    // pins the canonicalizer contract: java.net.URI.create would throw on
    // the raw space in inputFiles' unencoded strings; Hadoop Path parsing
    // must serve the same store Store.read serves
    val base = tmp()
    try {
      val (dataDir, statsDir) = (s"$base/my store/data", s"$base/my store/stats")
      val key = li.agg(max($"l_orderkey")).as[Long].head()
      BloomIndex.admitIndexed(li, dataDir, statsDir, "l_orderkey", "b0"): Unit
      BloomIndex.maintainIndex(spark, dataDir, statsDir, "l_orderkey")
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark, dataDir,
        statsDir, "l_orderkey", lit(key))
      assert(total >= 1 && read >= 1)
      val got = df.select($"l_orderkey", $"l_linenumber", $"l_partkey")
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(got == expected(key) && got.nonEmpty)
    } finally sweep(base)
  }

  test("Store.compactToFileSize: count derived from recursive delta bytes, lossless") {
    val base = tmp()
    try {
      val dir = s"$base/store"
      // several deltas of known size
      (0 until 6).foreach(i => sources.Store.appendIdempotent(
        li.limit(2000).coalesce(1), dir, s"b$i"): Unit)
      val totalRows = sources.Store.read(spark, dir).count()
      val bytes = {
        def sum(f: java.io.File): Long = {
          val kids = f.listFiles(); if (kids == null) 0L
          else kids.map(k => if (k.isDirectory) sum(k)
            else if (k.getName.endsWith(".parquet") && !k.getName.startsWith(".")) k.length()
            else 0L).sum
        }
        sum(new java.io.File(dir))
      }
      val planned = sources.Store.compactToFileSize(spark, dir, bytes / 3)
      assert(planned == 3 || planned == 4, s"ceil(bytes/target) ≈ 3, got $planned")
      assert(sources.Store.read(spark, dir).count() == totalRows)
      assert(sources.Store.read(spark, dir).inputFiles.length == planned)
    } finally sweep(base)
  }

  test("declared-size honesty: undersized filter degrades fpp, never misses") {
    val base = tmp()
    try {
      li.limit(5000).coalesce(1).write.parquet(s"$base/data")
      // declare 50 expected items for ~thousands actually inserted
      BloomIndex.maintainIndex(spark, s"$base/data", s"$base/stats",
        "l_orderkey", expectedPerFile = 50L)
      val key = spark.read.parquet(s"$base/data")
        .agg(max($"l_orderkey")).as[Long].head()
      val (df, (read, total)) = BloomIndex.lookupIndexed(spark,
        s"$base/data", s"$base/stats", "l_orderkey", lit(key))
      assert(read == total, "saturated filter answers maybe — reads all")
      assert(df.count() ==
        spark.read.parquet(s"$base/data").filter($"l_orderkey" === key).count())
    } finally sweep(base)
  }
}
