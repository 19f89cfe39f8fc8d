package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Store

/** The over-cap read path: a store with more than `Store.MaxDriverFiles`
  * live files is listed and schema-merged by Spark's distributed
  * `recursiveFileLookup` read instead of on the driver. Pinned against the
  * same rows stored in two files: `read`, `readLive` and `compact` give the
  * same rows and the same union schema, and `compact` folds every file.
  * The driver listing that picks the path stops at `MaxDriverFiles + 1`. */
class StoreOverCapReadSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val n = Store.MaxDriverFiles + 1
  private val n1 = n / 2 + 1

  /** Rows `0 until n` in two deltas of `parts1` and `parts2` files; the
    * second delta adds the column `tag`. Two keys, one per delta, are
    * tombstoned. */
  private def build(dir: String, parts1: Int, parts2: Int): Unit = {
    Store.append(spark.range(0, n1, 1, parts1)
      .select($"id", ($"id" * 10).as("v")), dir)
    Store.append(spark.range(n1, n, 1, parts2)
      .select($"id", ($"id" * 10).as("v"), concat(lit("t"), $"id".cast("string")).as("tag")), dir)
    assert(Store.deleteByKeys(Seq(3L, n1 + 2L).toDF("id"), dir, Some("d1")))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Option[String])] =
    df.select("id", "v", "tag").as[(Long, Long, Option[String])].collect().toSeq.sorted
  private def schemaOf(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq
  /** The class of the file index the read planned over. */
  private def fileIndex(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.getClass.getSimpleName
    }.get

  test("over the driver-file cap: read, readLive and compact match the same data under it") {
    val base = java.nio.file.Files.createTempDirectory("graft_overcap_")
    try {
      val (over, under) = (s"$base/over", s"$base/under")
      build(over, n1, n - n1)
      build(under, 1, 1)
      val overFiles = Store.liveFiles(over)
      assert(overFiles.size == Store.MaxDriverFiles + 1)
      assert(Store.liveFiles(under).size == 2)
      // the two stores really take the two read paths
      assert(fileIndex(Store.read(spark, over)) == "InMemoryFileIndex")
      assert(fileIndex(Store.read(spark, under)) == "DriverStattedFileIndex")
      // read's bounded driver listing stops at the first file past the cap:
      // all of this store, and no more of a tree holding it twice
      assert(Store.cappedListing(over).toSet == overFiles.toSet)
      val twice = s"$base/twice"
      Seq("a", "b").foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(over), new java.io.File(s"$twice/$d")))
      assert(Store.liveFiles(twice).size == 2 * overFiles.size)
      assert(Store.cappedListing(twice).size == Store.MaxDriverFiles + 1)

      val union = Seq("id" -> LongType, "v" -> LongType, "tag" -> StringType)
      assert(schemaOf(Store.read(spark, over)) == union)
      assert(schemaOf(Store.read(spark, under)) == union)
      assert(schemaOf(Store.readLive(spark, over)) == schemaOf(Store.readLive(spark, under)))
      val all = rows(Store.read(spark, over))
      assert(all.size == n)
      assert(all == rows(Store.read(spark, under)))
      assert(all.count(_._3.isEmpty) == n1, "pre-upgrade rows carry NULL tags")
      val live = rows(Store.readLive(spark, over))
      assert(live.size == n - 2)
      assert(live == rows(Store.readLive(spark, under)))

      Store.compact(spark, over, numFiles = 2)
      Store.compact(spark, under, numFiles = 2)
      // every file folded: no pre-compaction file survives, no delta is left
      val after = Store.liveFiles(over)
      assert(after.nonEmpty && after.size <= 2)
      assert(after.toSet.intersect(overFiles.toSet).isEmpty)
      assert(Store.deltaCount(over) == 0)
      assert(!Store.hasData(Store.tombstoneDir(over)))
      assert(schemaOf(Store.read(spark, over)) == union)
      assert(rows(Store.read(spark, over)) == live)
      assert(rows(Store.read(spark, under)) == live)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile): Unit
    }
  }
}
