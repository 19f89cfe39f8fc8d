package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: writes `.explain("formatted")` of each named query, as
  * planned by the engine's own session (`graft.GraftExtensions`, AQE), to
  * `<outDir>/<query>_<suffix>.txt` — the committed plans/rNN before/after
  * artifacts. Usage: PlanDump <sfDir> <outDir> <suffix> <query>[,query...]
  * Things to look for: PushedFilters + narrow ReadSchema on scans,
  * BroadcastHashJoin for dims, no back-to-back Exchange nodes,
  * WholeStageCodegen spans covering the hot path. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-plandump")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP_MICROS: ordered footer stats for ZoneMaps.statsForPaths
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(',').foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
