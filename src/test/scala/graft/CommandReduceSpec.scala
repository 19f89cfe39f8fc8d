package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CommandReduce, Pipeline, TextFile}

/** The containerized-reduce aggregate must satisfy the reference reduce
  * contract inside relational groupBy: for an associative & commutative
  * command, the result is independent of partitioning, batch size, and
  * partial/final aggregation splits, and agrees both with native Spark
  * aggregation and with [[Pipeline.treeReduce]] running the SAME command
  * over the same records. */
class CommandReduceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sumCmd = "awk '{s+=$1} END {print s}' in.txt > out.txt"

  test("groupBy command_reduce(awk sum) equals native groupBy sum") {
    val df = spark.range(1000)
      .select(($"id" % 7).as("k"), $"id".cast("string").as("rec"))
      .repartition(6)
    val piped = df.groupBy($"k")
      .agg(CommandReduce.commandReduce($"rec", sumCmd).as("recs"))
      .select($"k", element_at($"recs", 1).cast("long").as("s"),
        size($"recs").as("n_recs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val native = spark.range(1000)
      .select(($"id" % 7).as("k"), $"id")
      .groupBy($"k").agg(sum($"id").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), 1)).toSet
    assert(piped == native)
  }

  test("result is invariant to batchSize (intermediate collapse path)") {
    val df = spark.range(500)
      .select(($"id" % 3).as("k"), $"id".cast("string").as("rec"))
      .repartition(5)
    def run(bs: Int) = df.groupBy($"k")
      .agg(CommandReduce.commandReduce($"rec", sumCmd, batchSize = bs).as("recs"))
      .select($"k", element_at($"recs", 1).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bs=2 collapses after every second record (maximal command fan-in
    // pressure); bs=1000 never collapses before eval
    val expected = run(1000)
    for (bs <- Seq(2, 7, 50)) assert(run(bs) == expected, s"batchSize=$bs")
  }

  test("global command_reduce equals treeReduce with the same command") {
    val recs = spark.createDataset((1 to 200).map(_.toString)).repartition(8)
    val viaAgg = recs.toDF("rec")
      .agg(CommandReduce.commandReduce($"rec", sumCmd, batchSize = 16).as("recs"))
      .select(element_at($"recs", 1).cast("long"))
      .head().getLong(0)
    val viaTree = Pipeline(recs)
      .treeReduce(TextFile("/in.txt"), TextFile("/out.txt"), sumCmd, depth = 3)
      .ds.collect()
    assert(viaTree.length == 1)
    assert(viaAgg == viaTree.head.trim.toLong)
    assert(viaAgg == (1 to 200).map(_.toLong).sum)
  }

  test("command_reduce is callable from SQL") {
    spark.range(100)
      .select(($"id" % 2).as("k"), $"id".cast("string").as("rec"))
      .createOrReplaceTempView("cr_input")
    val rows = spark.sql(
      "SELECT k, CAST(command_reduce(rec, 'awk \\'{s+=$1} END {print s}\\' in.txt > out.txt', 10)[0] AS LONG) AS s " +
        "FROM cr_input GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val evens = (0 until 100 by 2).map(_.toLong).sum
    val odds = (1 until 100 by 2).map(_.toLong).sum
    assert(rows == Seq((0L, evens), (1L, odds)))
  }

  test("dedup-style reducer that can't always shrink still aggregates correctly") {
    // 'sort -nu' is a legitimate associative+commutative reducer, but over
    // all-distinct records a batch has nothing to remove — the adaptive
    // threshold must absorb that (grow, not throw, not thrash)
    val distinct = (1 to 80).map(_.toString)
    val got = spark.createDataset(distinct).repartition(4).toDF("rec")
      .agg(CommandReduce.commandReduce($"rec", "sort -nu in.txt > out.txt", batchSize = 8).as("recs"))
      .select($"recs").head().getSeq[String](0)
    assert(got.map(_.toInt).sorted == (1 to 80))
  }

  test("a non-shrinking command launches amortized-log subprocesses, not one per record") {
    // 'cat' never shrinks: the collapse threshold must double after each
    // non-shrinking collapse, so 200 records at batchSize=10 cost a handful
    // of invocations (10→20→40→80→160 growth + final eval), not ~190
    val marker = java.nio.file.Files.createTempFile("graft_cr_invocations_", ".log")
    val cmd = s"cat in.txt > out.txt; echo x >> $marker"
    val got = spark.createDataset((1 to 200).map(_.toString)).repartition(1).toDF("rec")
      .agg(CommandReduce.commandReduce($"rec", cmd, batchSize = 10).as("recs"))
      .select($"recs").head().getSeq[String](0)
    val invocations = java.nio.file.Files.readAllLines(marker).size
    java.nio.file.Files.deleteIfExists(marker)
    assert(got.map(_.toInt).sorted == (1 to 200))
    assert(invocations <= 8, s"expected amortized-log invocations, got $invocations")
  }

  test("buffer serialization round-trips records, unicode, and threshold") {
    // partial buffers cross the shuffle through serialize/deserialize; the
    // adaptive threshold must survive too or the final-side merge re-thrashes
    val agg = graft.operators.CommandReduceAgg(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), sumCmd, batchSize = 10)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val recs = scala.collection.mutable.ArrayBuffer.tabulate(rnd.nextInt(30)) { i =>
        rnd.nextInt(4) match {
          case 0 => ""
          case 1 => s"plain_$i"
          case 2 => "unicode_é中文_" + rnd.nextLong()
          case _ => // long well-formed strings (unpaired surrogates are not
            // representable in UTF-8 by contract, so not generated)
            List.fill(rnd.nextInt(200))(rnd.alphanumeric.head).mkString + "🙂"
        }
      }
      val buf = new graft.operators.CommandReduceAgg.Buffer(10 + rnd.nextInt(1000), recs)
      val back = agg.deserialize(agg.serialize(buf))
      assert(back.threshold == buf.threshold, s"trial $trial")
      assert(back.records == buf.records, s"trial $trial")
    }
  }

  test("pipe map composes with Structured Streaming via foreachBatch") {
    // the MaRe surface in a streaming pipeline: each micro-batch's
    // partitions are piped through an external command, results land in a
    // sink — same code path as batch (Pipeline over the batch DataFrame)
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[String]
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        Pipeline(batch)
          .mapPartitionsThrough(TextFile("/in.txt"), TextFile("/out.txt"),
            "tr 'a-z' 'A-Z' < in.txt > out.txt")
          .ds.collect().foreach(r => { collected.add(r); () })
        ()
      }
      .start()
    try {
      input.addData("alpha", "beta")
      q.processAllAvailable()
      input.addData("gamma")
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(collected.asScala.toSet == Set("ALPHA", "BETA", "GAMMA"))
    } finally q.stop()
  }

  test("multi-record command output surfaces as multiple result records") {
    // a command that emits min and max — the aggregate must not assume a
    // single output record
    val minMax = "sort -n in.txt | sed -n '1p;$p' > out.txt"
    val recs = (1 to 50).map(_.toString)
    val out = spark.createDataset(recs).toDF("rec")
      .agg(CommandReduce.commandReduce($"rec", minMax).as("recs"))
      .select($"recs").head().getSeq[String](0)
    assert(out == Seq("1", "50"))
  }
}
