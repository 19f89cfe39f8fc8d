package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables` builds every table's frame on the driver — listing and
  * footer schema there, no schema-inference job — and the frame reads
  * the same schema and rows as `spark.read.parquet` of the same path,
  * `events` included with its `ts` normalisation. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The frame `build` returns and the Spark jobs building it ran. */
  private def built(name: String)(build: => DataFrame): DataFrame = {
    val (df, p) = metrics.measure(s"tables_$name")(build)
    assert(p.untagged == 0, s"$name: ${p.untagged} untagged jobs")
    assert(p.total.jobs == 0, s"building $name ran ${p.total.jobs} jobs")
    df
  }

  Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings").foreach { name =>
    test(s"$name: jobless, same schema and rows as spark.read.parquet") {
      val df = built(name)(Tables.table(spark, sf, name))
      val ref = spark.read.parquet(s"$sf/$name.parquet")
      assert(df.schema == ref.schema)
      assert(rows(df) == rows(ref))
    }
  }

  test("events: jobless, same schema and rows as spark.read.parquet, ts normalised") {
    val df = built("events")(Tables.events(spark, sf))
    val ref = Tables.normalizeEventTs(spark.read.parquet(s"$sf/events.parquet"))
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(df.schema == ref.schema)
    assert(rows(df) == rows(ref))
  }

  test("two reads of one table are the same relation; other tables are not") {
    def plan(df: DataFrame) = df.queryExecution.analyzed
    assert(plan(Tables.orders(spark, sf)).sameResult(plan(Tables.orders(spark, sf))))
    assert(!plan(Tables.orders(spark, sf)).sameResult(plan(Tables.customer(spark, sf))))
  }
}
