package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (see /root/repo/TESTDATA.md).
  *
  * The reference engine (mcapuccini/MaRe) has no sources of its own — users build
  * RDDs with stock Spark (`/root/reference/src/test/scala/se/uu/it/mare/MaReTest.scala:38,71,104`).
  * Here the relational surface is first-class: columnar parquet scans so Catalyst
  * gets predicate pushdown + column pruning for free, which is what survives a
  * 100 TB scale-up (scan cost is dominated by bytes actually read).
  *
  * All loaders take the scale-factor directory so the same query code runs on any
  * sf (and, on a real cluster, on any warehouse path).
  */
object Tables {
  /** The table's file(s) — one file, or a directory of them — listed and
    * footer-merged on the driver through [[Store.read]], so building the
    * frame runs no Spark job; a plain `spark.read.parquet` ran a 1-task
    * schema-inference job on every table access. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Store.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** Normalize an events frame's `ts` to a session-zone TimestampType column
    * whatever the physical parquet spelling of the generator that wrote it:
    *  - TIMESTAMP(NANOS), which Spark cannot read natively
    *    ([PARQUET_TYPE_ILLEGAL]) — read as long via the legacy `nanosAsLong`
    *    flag and converted with integral division (`div`, NOT double `/` —
    *    epoch-nanos ≈ 1.7e18 overflows double's 53-bit mantissa);
    *  - TIMESTAMP(MICROS) with isAdjustedToUTC=false — inferred as
    *    TIMESTAMP_NTZ; cast to TimestampType (lossless: every session in
    *    this engine pins spark.sql.session.timeZone=UTC);
    *  - an already-zoned TIMESTAMP — passed through.
    * Schema-adaptive because the testdata generator has shipped more than
    * one spelling across rounds; a 100 TB lake accretes exactly this kind of
    * writer drift, so the loader, not every query, owns the normalization. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register all tables as temp views so `spark.sql(...)` works too.
    * `events` goes through its normalizing loader (nanos → micros) — the raw
    * reader throws PARQUET_TYPE_ILLEGAL on its TIMESTAMP(NANOS) column. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val plain = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    plain.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
