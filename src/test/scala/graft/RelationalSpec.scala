package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    // spark.sql.extensions is a STATIC conf: it is read from the
    // SparkContext at first-session creation and ignored afterwards. The
    // whole test JVM shares one context, so whichever suite creates it
    // must carry the conf or ExtensionsSpec's injection test silently
    // loses the extensions when suite ordering changes (observed: green
    // when ExtensionsSpec created the context, red once new suites ran
    // first). Every context creator in test scope sets it.
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
  /** The job record every spec that counts Spark jobs reads. */
  lazy val metrics: JobMetrics = JobMetrics.register(spark)
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and yields rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("q01 aggregates are consistent") {
    val rows = queries.Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val n = r.getAs[Long]("count_order")
      val avg = r.getAs[Double]("avg_qty")
      assert(math.abs(sumQty / n - avg) < 1e-4)
    }
  }

  test("q07 top-k never exceeds k per group") {
    val df = queries.Relational.q07WindowTopK(spark, sf)
    val maxPerCust = df.groupBy("o_custkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPerCust <= 3)
  }

  test("q16 topk is ordered descending") {
    val prices = queries.Relational.q16TopK(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("q25 approx percentile is close to exact at accuracy 10000") {
    queries.Relational2.q25ApproxPercentiles(spark, sf).collect().foreach { r =>
      val approx = r.getAs[Double]("p50_approx")
      val exact = r.getAs[Double]("p50_exact")
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx p50 $approx vs exact $exact")
    }
  }

  test("docker image names normalize with a default tag") {
    import graft.operators.DockerRunner
    assert(DockerRunner("ubuntu").imageWithTag == "ubuntu:latest")
    assert(DockerRunner("ubuntu:22.04").imageWithTag == "ubuntu:22.04")
    assert(DockerRunner("repo/img").imageWithTag == "repo/img:latest")
  }

  test("q20 approx distinct is within the configured 2% relative error x3") {
    queries.Relational2.q20ApproxDistinct(spark, sf).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact <= 0.06,
        s"approx $approx vs exact $exact")
    }
  }
}
