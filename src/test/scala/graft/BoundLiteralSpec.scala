package graft

import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BoundLiteral

/** A comparison whose literal the filter rule binds as a codegen
  * reference keeps Spark's comparison semantics for every bound type:
  * each of `=`, `<=>`, `<`, `<=`, `>`, `>=`, with the literal on either
  * side, selects the same rows as filtering the source values in Scala
  * with SQL's ordering (NaN equal to itself and above every number,
  * -0.0 equal to 0.0, NULL never matching). Every case runs with
  * whole-stage codegen, with per-operator codegen, and interpreted, since
  * the interpreted path calls `eval` instead of the generated code; the
  * whole-stage run also reuses one compiled class across the probe
  * values, so a value read from the wrong reference would show. */
class BoundLiteralSpec extends AnyFunSuite {
  import TestSpark._
  import BoundLiteralSpec.Case

  private def sqlDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
  private def by[A](key: A => Long): (Any, Any) => Int =
    (a, b) => java.lang.Long.compare(key(a.asInstanceOf[A]), key(b.asInstanceOf[A]))
  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  private val cases = Seq(
    Case(IntegerType, Seq(Int.MinValue, -1, 0, 7, Int.MaxValue).map(Some(_)) :+ None,
      by[Int](_.toLong)),
    Case(LongType, Seq(Long.MinValue, -1L, 0L, 42L, Long.MaxValue).map(Some(_)) :+ None,
      by[Long](identity)),
    Case(ShortType, Seq(Short.MinValue, 0.toShort, 3.toShort, Short.MaxValue).map(Some(_)) :+ None,
      by[Short](_.toLong)),
    Case(ByteType, Seq(Byte.MinValue, 0.toByte, 5.toByte, Byte.MaxValue).map(Some(_)) :+ None,
      by[Byte](_.toLong)),
    Case(FloatType, Seq(Float.NaN, -0.0f, 0.0f, 1.5f, Float.NegativeInfinity, Float.MaxValue)
      .map(Some(_)) :+ None,
      (a, b) => sqlDouble(a.asInstanceOf[Float].toDouble, b.asInstanceOf[Float].toDouble)),
    Case(DoubleType, Seq(Double.NaN, -0.0, 0.0, -2.5, Double.PositiveInfinity, Double.MinValue)
      .map(Some(_)) :+ None,
      (a, b) => sqlDouble(a.asInstanceOf[Double], b.asInstanceOf[Double])),
    Case(DateType, Seq("1900-01-01", "1970-01-01", "2024-02-29").map(d => Some(LocalDate.parse(d)))
      :+ None, by[LocalDate](_.toEpochDay)),
    Case(TimestampType, Seq("1969-12-31T23:59:59.999999Z", "1970-01-01T00:00:00Z",
      "2021-06-01T12:34:56.789Z").map(t => Some(Instant.parse(t))) :+ None, by[Instant](micros)))

  private val ops: Seq[(String, (Column, Column) => Column, Int => Boolean)] = Seq(
    ("=", _ === _, _ == 0), ("<=>", _ <=> _, _ == 0), ("<", _ < _, _ < 0),
    ("<=", _ <= _, _ <= 0), (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0))

  private val modes = Seq(
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true"),
    "per-operator codegen" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[A](kv: Map[String, String])(body: => A): A = {
    val was = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  cases.foreach { c =>
    test(s"bound ${c.t.simpleString} comparisons match SQL semantics") {
      val dir = java.nio.file.Files.createTempDirectory("graft_bound_literal_")
      try {
        val rows = c.values.zipWithIndex.map { case (v, i) => Row(i, v.orNull) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
            StructType(Seq(StructField("id", IntegerType), StructField("v", c.t))))
          .write.mode("overwrite").parquet(dir.toString)
        // row-group pushdown off: the filter itself decides every row
        withConf(Map("spark.sql.parquet.filterPushdown" -> "false")) {
          val data = spark.read.parquet(dir.toString)
          for ((mode, conf) <- modes; probe <- c.values.flatten) withConf(conf) {
            val branches = ops.flatMap { case (name, op, holds) =>
              val expected = c.values.zipWithIndex.collect {
                case (Some(v), i) if holds(c.cmp(v, probe)) => i
              }
              Seq((s"v $name $probe", op(col("v"), lit(probe)), expected),
                (s"$probe $name v", op(lit(probe), col("v")),
                  c.values.zipWithIndex.collect {
                    case (Some(v), i) if holds(c.cmp(probe, v)) => i
                  }))
            }
            val union = branches.zipWithIndex
              .map { case ((_, cond, _), b) => data.filter(cond).select(lit(b).as("b"), col("id")) }
              .reduce(_ union _)
            val bound = union.queryExecution.executedPlan
              .collect { case f: FilterExec => f.condition }
              .count(_.exists(_.isInstanceOf[BoundLiteral]))
            assert(bound == branches.size, s"$mode: $bound of ${branches.size} filters bound")
            val got = union.collect().groupBy(_.getInt(0)).view
              .mapValues(_.map(_.getInt(1)).toSeq.sorted).toMap
            branches.zipWithIndex.foreach { case ((what, _, expected), b) =>
              assert(got.getOrElse(b, Nil) == expected.sorted, s"$mode: $what")
            }
          }
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}

object BoundLiteralSpec {
  /** One column's type, its values (None = NULL) and their SQL order. */
  private final case class Case(t: DataType, values: Seq[Option[Any]], cmp: (Any, Any) => Int)
}
