package graft

import java.nio.file.Files

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pipeline, Skew}
import graft.sources.Tables

/** Scale-technique specs: bucketed co-located joins (no shuffle), salted
  * skew joins (same result as plain), raw-Partitioner parity, and source
  * round-trips (csv/json/text). These verify the 100 TB playbook pieces on
  * small data by asserting on PLANS (exchange counts) and result equality. */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a temp path set at session build (static conf)
    val oa = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
    val ob = Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice")
    oa.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("bt_a")
    ob.write.mode("overwrite").bucketBy(4, "o_orderkey").saveAsTable("bt_b")
    try {
      val joined = spark.table("bt_a").join(spark.table("bt_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == oa.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
    }
  }

  test("AQE broadcasts a dim under the threshold, demotes to SMJ above it") {
    // SURVEY §8's claim, pinned in both directions: an UNHINTED dim join
    // broadcasts while the dim fits autoBroadcastJoinThreshold, and switches
    // join strategy (SMJ) once the dim outgrows it — the mechanism that
    // governs every dim join at 100 TB, where "the dim is small" is a runtime
    // fact, not a promise. customer.parquet here is ~7 KB, so 1 KB simulates
    // the dim outgrowing a production threshold.
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(threshold)
    def dimJoinPlan(): String = {
      val j = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          $"o_custkey" === $"c_custkey") // no broadcast() hint on purpose
        .select($"o_orderkey", $"c_name")
      // run THIS dataframe so its AdaptiveSparkPlan reaches final state
      assert(j.collect().nonEmpty)
      j.queryExecution.executedPlan.toString
    }
    try {
      spark.conf.set(threshold, "10MB")
      val small = dimJoinPlan()
      assert(small.contains("BroadcastHashJoin"),
        s"dim under threshold should broadcast:\n$small")

      spark.conf.set(threshold, "1KB")
      val large = dimJoinPlan()
      assert(!large.contains("BroadcastHashJoin"),
        s"dim above threshold must not broadcast:\n$large")
      assert(large.contains("SortMergeJoin") || large.contains("ShuffledHashJoin"),
        s"dim above threshold should demote to a shuffled join:\n$large")
    } finally spark.conf.set(threshold, saved)
  }

  test("salted join equals plain join (inner and left)") {
    val orders = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, sf).select($"c_custkey", $"c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    for (jt <- Seq("inner", "left")) {
      val plain = orders.join(cust, Seq("o_custkey"), jt)
        .select($"o_orderkey", $"c_mktsegment").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
      val salted = Skew.saltedJoin(orders, cust, "o_custkey", 8, jt)
        .select($"o_orderkey", $"c_mktsegment").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
      assert(salted == plain, s"join type $jt")
    }
  }

  test("salted join spreads exact-duplicate rows across salts") {
    // a hot key usually arrives as EXACT duplicate rows; a content-hash salt
    // would send them all to one salt and rebuild the hotspot
    val dupes = spark.createDataset(Seq.fill(1000)(("hot", 1))).toDF("k", "v")
    val salts = dupes.withColumn("s", Skew.positionalSalt(8))
      .select("s").distinct().collect().map(_.getInt(0)).toSet
    assert(salts.size == 8, s"expected all 8 salts used, got $salts")
    // many tiny partitions: the raw position id is pid*2^33 + rowIdx, so a
    // mod-8 salt would restart at 0 per partition and starve salts >= rows
    // per partition — the hashed salt must still reach all 8
    val tiny = dupes.repartition(500).withColumn("s", Skew.positionalSalt(8))
      .select("s").distinct().collect().map(_.getInt(0)).toSet
    assert(tiny.size == 8, s"expected all 8 salts with ~2-row partitions, got $tiny")
  }

  test("salted join rejects small-side-preserving join types") {
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "y")).toDF("k", "w")
    val ex = intercept[IllegalArgumentException] {
      Skew.saltedJoin(a, b, "k", 4, "full_outer")
    }
    assert(ex.getMessage.contains("full_outer"))
  }

  test("skew profile surfaces the heaviest keys first") {
    val prof = Skew.keySkewProfile(
      Tables.lineitem(spark, sf), col("l_returnflag"), 3).collect()
    assert(prof.length == 3)
    assert(prof.map(_.getLong(1)).sliding(2).forall(w => w.head >= w.last))
  }

  test("raw Partitioner escape hatch places records per custom partitioner") {
    val ds = spark.createDataset(1 to 100)
    val p = Pipeline(ds).repartitionByRaw(
      v => if (v % 2 == 0) "even" else "odd", new HashPartitioner(2))
    assert(p.getNumPartitions == 2)
    val parts = p.ds.mapPartitions(it => Iterator(it.toSet)).collect()
      .filter(_.nonEmpty)
    // every partition is all-even or all-odd
    parts.foreach { s =>
      assert(s.forall(_ % 2 == 0) || s.forall(_ % 2 == 1))
    }
    assert(parts.flatten.toSet == (1 to 100).toSet)
  }

  test("clustered write yields disjoint per-file ranges (scan-prunable layout)") {
    import graft.sources.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_").toString
    Layout.writeClustered(
      Tables.lineitem(spark, sf).select($"l_orderkey", $"l_shipdate", $"l_quantity"),
      dir, Seq("l_shipdate"), numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size >= 3, s"expected multiple range files, got $files")
    // per-file [min, max] of the cluster column must not overlap — that is
    // the property parquet stats pruning feeds on
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min($"l_shipdate"), max($"l_shipdate")).head()
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1)(Ordering.fromLessThan(_ isBefore _))
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) =>
        assert(!hiA.isAfter(loB), s"file ranges overlap: $ranges")
      case _ => ()
    }
    // total row count survives the re-layout
    val n = spark.read.parquet(dir).count()
    assert(n == Tables.lineitem(spark, sf).count())
    // file-size cap: no physical file may exceed maxRecordsPerFile
    val capDir = java.nio.file.Files.createTempDirectory("graft_layout_cap_").toString
    Layout.writeClustered(
      Tables.lineitem(spark, sf).select($"l_orderkey", $"l_shipdate"),
      capDir, Seq("l_shipdate"), numFiles = 2, maxRecordsPerFile = 500L)
    val capFiles = new java.io.File(capDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(capFiles.size > 2, s"cap should split the 2 range slices: $capFiles")
    capFiles.foreach { f =>
      val c = spark.read.parquet(f).count()
      assert(c <= 500, s"file $f holds $c rows > cap 500")
    }
  }

  test("compaction rewrites many small files into few clustered ones, losslessly") {
    import graft.sources.Store
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString + "/t"
    val src = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    // simulate a fine-grained-append history: 64 tiny files
    src.repartition(64).write.parquet(dir)
    def parts(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(parts(dir).size >= 32, s"fixture should start fragmented: ${parts(dir).size}")
    def multisetSum(p: String) = spark.read.parquet(p)
      .agg(sum(xxhash64($"l_orderkey", $"l_linenumber", $"l_quantity")
        .cast("decimal(38,0)"))).head().getDecimal(0)
    val checksum = multisetSum(dir)
    Store.compact(spark, dir, numFiles = 4, clusterBy = Seq("l_orderkey"))
    val after = parts(dir)
    assert(after.size <= 4, s"still fragmented after compaction: $after")
    assert(!new java.io.File(dir + ".old").exists() &&
      !new java.io.File(dir + ".compact").exists(), "swap left temp dirs behind")
    // lossless: same multiset of rows (order-insensitive checksum + count)
    val df2 = spark.read.parquet(dir)
    assert(df2.count() == src.count())
    assert(multisetSum(dir) == checksum)
    // and re-clustered: disjoint per-file orderkey ranges (pruning restored)
    val ranges = after.map { f =>
      val r = spark.read.parquet(f).agg(min($"l_orderkey"), max($"l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sorted
    ranges.sliding(2).foreach {
      case Seq((_, hiA), (loB, _)) => assert(hiA <= loB, s"overlap: $ranges")
      case _ => ()
    }
  }

  test("csv, json, and text sources round-trip the documents table") {
    val base = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val dir = Files.createTempDirectory("graft_src_").toString
    base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    base.write.mode("overwrite").json(s"$dir/json")
    base.select($"text").write.mode("overwrite").text(s"$dir/text")

    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/csv")
    assert(csv.count() == base.count())
    assert(csv.agg(sum($"n_chars")).head().getLong(0) ==
      base.agg(sum($"n_chars")).head().getLong(0))

    val json = spark.read.json(s"$dir/json")
    assert(json.count() == base.count())
    assert(json.select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
      .sameElements(base.select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)))

    val text = spark.read.text(s"$dir/text")
    assert(text.count() == base.count())
  }

  test("parquet round-trips under zstd and snappy compression") {
    val base = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_extendedprice")
    val dir = Files.createTempDirectory("graft_codec_").toString
    for (codec <- Seq("zstd", "snappy", "gzip")) {
      base.write.mode("overwrite").option("compression", codec)
        .parquet(s"$dir/$codec")
      val back = spark.read.parquet(s"$dir/$codec")
      assert(back.count() == base.count(), codec)
      assert(back.agg(sum($"l_orderkey")).head().getLong(0) ==
        base.agg(sum($"l_orderkey")).head().getLong(0), codec)
    }
  }

  test("orc source round-trips the documents table (zlib + snappy)") {
    // the second columnar format Spark ships natively; same pushdown/pruning
    // machinery as parquet, different encoder stack
    val docs = Tables.documents(spark, sf)
    for (codec <- Seq("zlib", "snappy")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_orc_$codec").toString
      docs.write.mode("overwrite").option("compression", codec).orc(dir)
      val back = spark.read.orc(dir)
      assert(back.count() == docs.count())
      assert(back.schema == docs.schema)
      val a = docs.orderBy($"doc_id").collect().map(_.toString).toSeq
      val b = back.orderBy($"doc_id").collect().map(_.toString).toSeq
      assert(a == b, s"orc/$codec round-trip diverged")
    }
  }

  test("parquet schema evolution: mergeSchema unions batch schemas, null-fills, still prunes") {
    // 100 TB tables drift: later ingest batches add columns. mergeSchema
    // must union footer schemas across files, null-fill the column for old
    // files, and keep predicate pushdown working on the late column.
    val dir = Files.createTempDirectory("graft_evolve_").toString + "/t"
    Tables.documents(spark, sf).select($"doc_id", $"text")
      .write.parquet(dir) // batch 1: two columns
    Tables.documents(spark, sf).select($"doc_id", $"text", $"lang")
      .write.mode("append").parquet(dir) // batch 2: adds lang
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("doc_id", "lang", "text"))
    val total = Tables.documents(spark, sf).count()
    assert(merged.count() == 2 * total)
    // old files surface the late column as null; new files keep real values
    assert(merged.filter($"lang".isNull).count() == total)
    val q = merged.filter($"lang" === "en").select($"doc_id")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"late-column predicate must reach the scan:\n$scan")
    assert(q.count() ==
      Tables.documents(spark, sf).filter($"lang" === "en").count())
    // and column pruning reads only what the projection needs
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"pruned read schema expected:\n$scan")
  }

  test("custom record delimiter reads multi-line records (SDF-style)") {
    val dir = Files.createTempDirectory("graft_sdf_").toString
    val records = Seq("mol1\nATOM 1\nATOM 2", "mol2\nATOM 3", "mol3")
    Files.write(java.nio.file.Paths.get(s"$dir/mols.sdf"),
      records.mkString("\n$$$$\n").getBytes)
    val ds = Pipeline.textFile(spark, s"$dir/mols.sdf", "\n$$$$\n").ds
    assert(ds.collect().toSeq == records)
  }

  test("bucketed-snapshot upsert: only the delta side shuffles") {
    // prep_upsert's 100 TB claim, previously prose-only: with the corpus
    // snapshot bucketed on doc_id, the full-outer merge reads the snapshot
    // in place — exactly ONE exchange in the whole plan, on the (small by
    // definition) delta side. The snapshot — the 100 TB side — never moves.
    import graft.queries.DataPipeline
    val docs = Tables.documents(spark, sf)
    DataPipeline.upsertSnapshotOf(docs).write.mode("overwrite")
      .bucketBy(4, "doc_id").sortBy("doc_id").saveAsTable("upsert_snap")
    try {
      val merged = DataPipeline.upsertResolved(
        spark.table("upsert_snap")
          .join(DataPipeline.upsertDeltaOf(docs), Seq("doc_id"), "full_outer"))
      val got = merged.orderBy($"doc_id").collect().toSeq
      val expect = DataPipeline.upsert(spark, sf).collect().toSeq
      assert(got == expect, "bucketed merge must equal the plain operator")
      val plan = merged.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly one exchange (delta side only), got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"snapshot scan should be bucket-aware:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS upsert_snap")
  }
}
