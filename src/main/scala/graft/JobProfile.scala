package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Phases

/** Diagnostic main (optimization rounds): run one named query and print
  * every Spark job it launches — start offset, duration, task count, the
  * phase that launched it (`write` for the jobs that write the returned
  * frame) and its call site — plus the query's driver gap
  * (wall time not covered by any job), so driver-side job storms (many
  * tiny scheduler round trips) are visible without the UI. Not part of
  * the driver contract; used by OPTIMIZATION_r13.md measurements.
  *
  * Usage: JobProfile <sfDir> <queryName> [repeat]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val repeat = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-jobprofile")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP_MICROS: ordered footer stats for ZoneMaps.statsForPaths
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val metrics = JobMetrics.register(spark)
    (1 to repeat).foreach { i =>
      val (_, p) = metrics.measure(name) {
        val df = fn(spark, sfDir)
        Phases.time("write")(df.write.format("noop").mode("overwrite").save())
      }
      println(f"== run $i: $name total ${p.total.wallS}%.3f s, ${p.total.jobs} jobs")
      p.runs.foreach { j =>
        println(f"  job ${j.id}%4d off=${j.offMs / 1e3}%7.3f dur=${j.durMs / 1e3}%7.3f " +
          f"tasks=${j.tasks}%4d  ${j.phase}%-6s ${j.site.take(80)}")
      }
      println(f"  [driver gap: ${p.total.driverGapS}%.3f s of ${p.total.wallS}%.3f s " +
        s"(wall not covered by any job); untagged jobs: ${p.untagged}; " +
        s"codegen compiles: ${p.codegenCompiles}]")
      p.phases.toSeq.sortBy(_._1).foreach { case (ph, r) =>
        println(f"  [$ph: ${r.jobs} jobs, driver gap ${r.driverGapS}%.3f s of ${r.wallS}%.3f s]")
      }
    }
    spark.stop()
  }
}
