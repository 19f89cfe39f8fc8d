package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Differential tests in the reference's own style: the piped-command result
  * must equal a native-Spark computation of the same thing
  * (reference MaReTest.scala pattern 1), swept over tree depths. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docTexts = {
    import graft.sources.Tables
    Tables.documents(spark, sf).select($"text").as[String]
  }

  test("piped GC count equals native Spark count, depth 2..4") {
    val native = docTexts
      .select(sum(length(regexp_replace($"text", "[^gc]", ""))))
      .head().getLong(0)
    for (depth <- 2 to 4) {
      val piped = Pipeline(docTexts.repartition(5))
        .mapPartitionsThrough(
          TextFile("/in.txt"), TextFile("/out.txt"),
          "tr -cd 'gc' < in.txt | wc -c > out.txt")
        .treeReduce(
          TextFile("/in.txt"), TextFile("/out.txt"),
          "awk '{s+=$1} END {print s}' in.txt > out.txt",
          depth = depth)
      val collected = piped.ds.collect()
      assert(collected.map(_.trim.toLong).sum == native, s"depth=$depth")
      // one partition left, read from the schedule and the single merged
      // line: probing the result's partitions would re-run the whole tree
      assert(Pipeline.treeWidths(5, depth).last == 1, s"depth=$depth")
      assert(collected.length == 1, s"depth=$depth")
    }
  }

  test("type-changing pipe: text -> gzip binary -> text round trip") {
    val names = (0 until 5).map(i => s"doc_$i.txt")
    val pairs = names.zipWithIndex.map { case (n, i) => (n, s"content of file $i\nline two\n") }
    val ds = spark.createDataset(pairs).repartition(2)
    val zipped = Pipeline(ds)
      .mapPartitionsThrough(
        WholeTextFiles("/in"), BinaryFiles("/out"),
        "for f in in/*; do gzip -c \"$f\" > \"out/$(basename $f).gz\"; done")
    val unzipped = zipped
      .mapPartitionsThrough(
        BinaryFiles("/in"), WholeTextFiles("/out"),
        "for f in in/*.gz; do gunzip -c \"$f\" > \"out/$(basename $f .gz)\"; done")
    val result = unzipped.ds.collect().toMap
    assert(result == pairs.toMap)
  }

  test("treeReduce over WholeTextFiles merges a directory per round") {
    val pairs = (1 to 12).map(i => (f"part_$i%02d.txt", s"$i\n"))
    val ds = spark.createDataset(pairs).repartition(4)
    // output names must be unique per invocation ($$ = shell pid): files are
    // keyed by basename (reference MountPoint.scala:119), so a fixed name
    // would collide when merged partitions write into one directory
    val merged = Pipeline(ds).treeReduce(
      WholeTextFiles("/in"), WholeTextFiles("/out"),
      "cat in/* | sort -n > \"out/merged_$$.txt\"",
      depth = 3)
    val result = merged.ds.collect()
    assert(result.length == 1)
    val (name, content) = result.head
    assert(name.startsWith("merged_"))
    assert(content.trim.split("\n").map(_.toInt).sorted.toSeq == (1 to 12))
  }

  test("repartitionBy co-locates records by key") {
    val ds = spark.range(100).map(i => (i % 4, i)).toDF("k", "v").as[(Long, Long)]
    val p = Pipeline(ds).repartitionBy(col("k"), 4)
    val perPartKeys = p.ds.mapPartitions(it => Iterator(it.map(_._1).toSet))
      .collect().filter(_.nonEmpty)
    // each key lives in exactly one partition (sets pairwise disjoint)
    val total = perPartKeys.map(_.size).sum
    assert(total == perPartKeys.flatten.toSet.size,
      s"keys split across partitions: ${perPartKeys.mkString(",")}")
  }

  test("collectToLocal runs one local command over the streamed whole dataset") {
    val outPath = Files.createTempDirectory("graft_test_").resolve("sum.txt").toString
    val ds = spark.createDataset(1 to 100).map(_.toString)
    Pipeline(ds).collectToLocal(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "awk '{s+=$1} END {print s}' in.txt > out.txt",
      outPath)
    val content = new String(Files.readAllBytes(new File(outPath).toPath)).trim
    assert(content == "5050")
  }

  test("collectToLocal with intermediateStorageLevel computes upstream exactly once") {
    // reference parity (MaRe.scala:202-208): persist + force-materialize as
    // one parallel job, so the sequential partition-at-a-time drain reads
    // cached blocks. The accumulator proves it: the force job accounts for
    // all 100 rows, and a recomputing drain would double the count.
    val acc = spark.sparkContext.longAccumulator("upstream_rows")
    val outPath = Files.createTempDirectory("graft_test_").resolve("sum.txt").toString
    val ds = spark.createDataset(1 to 100).repartition(4)
      .map { i => acc.add(1); i.toString }
    // id-set, not size: the shared test session may hold persistent RDDs
    // from other suites' localCheckpoint calls (removed whenever the
    // ContextCleaner catches a GC), so only pin that THIS call leaves no
    // NEW entry behind — a concurrent removal can't mask a leaked id
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Pipeline(ds).collectToLocal(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "awk '{s+=$1} END {print s}' in.txt > out.txt",
      outPath,
      intermediateStorageLevel = Some(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    val content = new String(Files.readAllBytes(new File(outPath).toPath)).trim
    assert(content == "5050")
    assert(acc.value == 100L, s"upstream computed ${acc.value} rows, expected exactly 100")
    // persist is scoped to the call: nothing NEW left pinned
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"collectToLocal leaked persistent RDD ids: $leaked")
  }

  test("collectToLocal over WholeTextFiles input (per-file text mount)") {
    // reference covers collectReduce across all three mount types
    // (MaReTest.scala:190-303); this and the binary test below complete the
    // same matrix for the local-collect path
    val outPath = Files.createTempDirectory("graft_test_").resolve("words.txt").toString
    val ds = spark.createDataset(Seq(("a.txt", "one two\n"), ("b.txt", "three four five\n")))
    Pipeline(ds).collectToLocal(
      WholeTextFiles("/in"), TextFile("/out.txt"),
      "cat in/*.txt | wc -w > out.txt", outPath)
    val content = new String(Files.readAllBytes(new File(outPath).toPath)).trim
    assert(content == "5")
  }

  test("collectToLocal over BinaryFiles input writing a binary dir") {
    val outDir = Files.createTempDirectory("graft_test_").resolve("bins").toString
    val a = Array[Byte](1, 2, 3, -1)
    val b = Array[Byte](9, 8)
    val ds = spark.createDataset(Seq(("a.bin", a), ("b.bin", b)))
    Pipeline(ds).collectToLocal(
      BinaryFiles("/in"), BinaryFiles("/out"),
      "for f in in/*; do cat $f $f > out/$(basename $f); done", outDir)
    def bytes(n: String) = Files.readAllBytes(new File(outDir, n).toPath).toSeq
    assert(bytes("a.bin") == (a ++ a).toSeq)
    assert(bytes("b.bin") == (b ++ b).toSeq)
  }

  test("command that replaces its output file (mv) still delivers the partition") {
    val ds = spark.createDataset(Seq("3", "1", "2")).repartition(1)
    val out = Pipeline(ds).mapPartitionsThrough(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "sort -n in.txt > tmp.txt && mv tmp.txt out.txt").ds.collect()
    assert(out.toSeq == Seq("1", "2", "3"))
  }

  test("command that replaces its output directory (mv) still delivers") {
    // dir-bind analog of the mv-over-file case: the command builds results in
    // a scratch dir and renames it over the output mount — under Docker the
    // rename lands in the volume; the sandbox reconcile must match
    val ds = spark.createDataset(Seq(("a.txt", "alpha"), ("b.txt", "beta")))
      .repartition(1)
    val out = Pipeline(ds).mapPartitionsThrough(
      WholeTextFiles("/in"), WholeTextFiles("/out"),
      "mkdir scratch && for f in in/*; do tr a-z A-Z < $f > scratch/$(basename $f); done" +
        " && rm -r out && mv scratch out").ds.collect()
    assert(out.toMap == Map("a.txt" -> "ALPHA", "b.txt" -> "BETA"))
  }

  test("replaced output dir fully supersedes files written before the replace") {
    // the command first writes THROUGH the dir symlink, then discards the
    // whole dir and renames a fresh one over it — only the replacement's
    // contents may be delivered (stale pre-replace files must not survive)
    val ds = spark.createDataset(Seq(("a.txt", "alpha"))).repartition(1)
    val out = Pipeline(ds).mapPartitionsThrough(
      WholeTextFiles("/in"), WholeTextFiles("/out"),
      "echo stale > out/old.txt && mkdir scratch && echo fresh > scratch/new.txt" +
        " && rm -r out && mv scratch out").ds.collect()
    assert(out.toMap == Map("new.txt" -> "fresh\n"), s"got ${out.toMap}")
  }

  test("failing command surfaces as an exception (task failure semantics)") {
    val ds = spark.createDataset(Seq("x")).repartition(1)
    val ex = intercept[org.apache.spark.SparkException] {
      Pipeline(ds).mapPartitionsThrough(
        TextFile("/in.txt"), TextFile("/out.txt"), "exit 7").ds.collect()
    }
    assert(ex.getMessage.contains("exit status 7") ||
      Option(ex.getCause).exists(_.getMessage.contains("exit status 7")))
  }

  // --- MountPoint round-trip semantics (property-based) ---

  private def roundTrip(records: List[String], delim: String): List[String] = {
    val mp = TextFile("/x", delim)
    val f = File.createTempFile("graft_rt_", ".txt")
    try {
      mp.writePartition(records.iterator, f)
      mp.readPartition(f).toList
    } finally { f.delete(); () }
  }

  test("TextFile round-trip preserves records (seeded random sweep)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val recs = List.fill(rnd.nextInt(20)) {
        val len = rnd.nextInt(50)
        new String(Array.fill(len)((32 + rnd.nextInt(95)).toChar))
          .replace("\n", " ")
      }
      assert(roundTrip(recs, "\n") == recs)
    }
  }

  test("TextFile round-trip with multi-char delimiter (SDF-style)") {
    val delim = "\n$$$$\n"
    val recs = List("mol1\natoms here", "", "mol2\nmore\nlines", "$$$", "end$")
    assert(roundTrip(recs, delim) == recs)
  }

  test("TextFile read drops only the trailing empty record") {
    val recs = List("a", "", "b", "")
    assert(roundTrip(recs, "\n") == recs)
  }

  test("empty partition round-trips to empty") {
    assert(roundTrip(Nil, "\n") == Nil)
  }

  test("non-UTF8 charset round-trips (ISO-8859-1)") {
    val mp = TextFile("/x", "\n", "ISO-8859-1")
    val f = File.createTempFile("graft_latin1_", ".txt")
    try {
      val recs = List("café", "naïve", "über")
      mp.writePartition(recs.iterator, f)
      assert(mp.readPartition(f).toList == recs)
      // file bytes are single-byte latin-1, not multi-byte UTF-8
      assert(Files.readAllBytes(f.toPath).length == recs.map(_.length + 1).sum)
    } finally { f.delete(); () }
  }

  test("delimiter appears as prefix of content handled correctly") {
    // delimiter "ab"; record contains 'a' runs that almost match
    assert(roundTrip(List("xaych", "aa", "xya"), "ab") == List("xaych", "aa", "xya"))
  }
}
