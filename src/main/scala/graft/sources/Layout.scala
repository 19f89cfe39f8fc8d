package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-path layout optimization — the other half of scan pruning.
  *
  * Reading 100 TB efficiently starts when the table is WRITTEN: parquet
  * footers carry per-column min/max stats per file (and row group), and the
  * reader skips files whose range can't match a pushed predicate — but only
  * if the writer clustered rows so those ranges are narrow. An append of
  * randomly-ordered rows gives every file the full value range and no scan
  * ever prunes.
  *
  * [[writeClustered]] = `repartitionByRange` on the cluster columns (range
  * shuffle via sampled bounds, so files hold disjoint slices), then
  * `sortWithinPartitions` (narrow row-group ranges inside each file), then a
  * `maxRecordsPerFile` cap (bounds file size regardless of skew in the
  * sampled ranges). Equal keys land in one partition, so point predicates
  * touch exactly one file. [[writeZOrdered]] is the same shape on the
  * interleaved [[zValue]]. Both, and [[Store.compact]]'s `clusterBy`
  * rewrite, take that shape from one function, [[clusterShape]].
  *
  * Compaction and its rename-aside swap live in [[Store]]: a plain
  * parquet directory is a Store with a flat base and no deltas.
  */
object Layout {

  /** Write `df` to `path` as parquet clustered on `clusterCols`:
    * `numFiles` range slices, rows sorted within each, at most
    * `maxRecordsPerFile` rows per physical file (0 = unlimited). */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int, maxRecordsPerFile: Long = 0L): Unit =
    writeShaped(df, path, clusterCols, numFiles, zOrder = false, maxRecordsPerFile)

  /** Hive-layout partitioned write: `partitionCols` become directory keys
    * (`path/col=value/…`) — the coarse-grained sibling of [[writeClustered]]'s
    * file-level clustering, and the layout that makes partition-key predicates
    * free at 100 TB. Directory partitioning enables BOTH pruning modes:
    * static (a literal filter on the key never even lists non-matching
    * directories) and DYNAMIC partition pruning (a join against a filtered
    * dimension prunes fact partitions at runtime from the broadcast dim
    * values — Catalyst's PlanDynamicPruningFilters; pinned by the layout
    * spec). Rows are pre-shuffled on the partition keys so each task writes
    * one directory's files — without that, every task holds an open writer
    * per partition value it encounters, the classic small-files/OOM failure
    * of dynamic writes. Pick keys of bounded cardinality (dates, sources):
    * directories are metadata, and millions of them move the bottleneck to
    * listing. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 0L): Unit = {
    require(partitionCols.nonEmpty)
    df.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Morton bit-spread: the low `bits` bits of `v` spaced to every `stride`-th
    * bit position (bit i → bit i·stride). Composed entirely from builtin
    * shift/mask functions so the whole z-value stays inside whole-stage
    * codegen — no UDF, no custom expression needed. For stride 2 the classic
    * four-step magic-mask ladder applies; other strides use the generic
    * per-bit fold (bits·4 expression nodes, still codegen'd). */
  private def spreadBits(v: Column, stride: Int, bits: Int): Column = {
    val masked = v.bitwiseAND(lit((1L << bits) - 1))
    if (stride == 1) masked
    else if (stride == 2 && bits == 16) {
      val m = Seq(0x00FF00FFL, 0x0F0F0F0FL, 0x33333333L, 0x55555555L)
      val s = Seq(8, 4, 2, 1)
      m.zip(s).foldLeft(masked) { case (x, (mask, shift)) =>
        (x.bitwiseOR(shiftleft(x, shift))).bitwiseAND(lit(mask))
      }
    } else (0 until bits).map { i =>
      shiftleft(shiftright(masked, i).bitwiseAND(lit(1L)), i * stride)
    }.reduce(_ bitwiseOR _)
  }

  /** Bits per dimension for a k-column z-value: 16 where it fits, else an
    * even split of the 63 usable long bits (e.g. 3 cols → 16, 4 cols → 15). */
  private def bitsPerDim(k: Int): Int = math.min(16, 63 / k)

  /** Z-order (Morton) value over 2+ numeric columns: each value is mapped to
    * a bucket of its [min,max] range ([[bitsPerDim]] bits), buckets are
    * bit-interleaved — column i owns bit positions ≡ i (mod k), so any
    * column count interleaves without collisions. Rows close in z are close
    * in EVERY clustered dimension, which is what makes multi-column data
    * skipping work (a linear sort gives narrow file ranges only on its
    * leading column). NULLs map to bucket 0 (the low corner — explicit, not
    * an artifact of null-skipping comparisons). Uniform buckets via
    * width_bucket — for heavily skewed columns substitute
    * approxQuantile-derived boundaries; the interleave is unchanged. */
  def zValue(colsWithRange: Seq[(Column, Double, Double)]): Column = {
    val k = colsWithRange.size
    require(k >= 2, "z-order needs at least 2 columns")
    val bits = bitsPerDim(k)
    val nBuckets = 1L << bits
    colsWithRange.zipWithIndex.map { case ((c, mn, mx), i) =>
      val bucket = when(c.isNull || lit(mx) <= lit(mn), lit(0L))
        .otherwise(width_bucket(c.cast("double"), lit(mn), lit(mx), lit(nBuckets)) - 1)
      val clamped = greatest(lit(0L), least(lit(nBuckets - 1), bucket))
      shiftleft(spreadBits(clamped, k, bits), i)
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-order-clustered on `zCols`: one scan computes the column
    * ranges (a driver-side handful of doubles — the only non-distributed
    * step, same bound as Delta's OPTIMIZE ZORDER stats pass), then rows are
    * range-partitioned and sorted by their interleaved z-value so every file
    * holds a small bounding box in ALL clustered dimensions. Fails when a
    * column has no non-null value (empty input): it has no range to bucket. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, maxRecordsPerFile: Long = 0L): Unit = {
    require(zCols.size >= 2, "z-order needs at least 2 columns")
    writeShaped(df, path, zCols, numFiles, zOrder = true, maxRecordsPerFile)
  }

  private def writeShaped(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, zOrder: Boolean, maxRecordsPerFile: Long): Unit =
    clusterShape(df, cols, numFiles, zOrder, noRange = c =>
      throw new IllegalArgumentException(
        s"writeZOrdered: no non-null values for column '$c' (empty input?)"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** The one clustering shape, shared by [[writeClustered]],
    * [[writeZOrdered]] and [[Store.compact]]'s `clusterBy` rewrite: range
    * slices on the cluster key (`repartitionByRange` over sampled bounds,
    * so files hold disjoint slices), rows sorted within each. The key is
    * `cols` (lexicographic), or with `zOrder` their interleaved [[zValue]]
    * under a unique temporary column, dropped again before the caller
    * writes — so no input column can be clobbered.
    *
    * `zOrder` first runs one global min/max aggregate for the bucket
    * ranges (2·k doubles to the driver). A column with no non-null value
    * (empty input, all-null column) has no range: `noRange` gets its name
    * — the writer throws, compaction logs — and the shape falls back to
    * lexicographic.
    *
    * One slice (`numFiles == 1`) is `coalesce(1)` + sort: a range
    * "partitioning" into one slice is a SinglePartition exchange that
    * funnels the whole frame through one network task, where the coalesce
    * writes the identical sorted file with no shuffle. The price: the
    * narrow stage that feeds it (the scan, say) also runs as one task. */
  private[sources] def clusterShape(df: DataFrame, cols: Seq[String],
      numFiles: Int, zOrder: Boolean, noRange: String => Unit): DataFrame = {
    require(cols.nonEmpty && numFiles > 0)
    def shape(in: DataFrame, keys: Seq[Column]): DataFrame =
      (if (numFiles == 1) in.coalesce(1) else in.repartitionByRange(numFiles, keys: _*))
        .sortWithinPartitions(keys: _*)
    val zRanges =
      if (!zOrder) None
      else {
        // a global aggregate always yields exactly one row — of NULLs when
        // the input is empty or a column is all-null
        val stats = df.select(cols.flatMap(c =>
          Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))): _*)
          .collect().head
        cols.indices.find(i => stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) match {
          case Some(i) => noRange(cols(i)); None
          case None => Some(cols.indices.map(i =>
            (col(cols(i)), stats.getDouble(2 * i), stats.getDouble(2 * i + 1))))
        }
      }
    zRanges match {
      case Some(ranges) =>
        val zc = s"__z_${java.util.UUID.randomUUID().toString.take(8)}"
        shape(df.withColumn(zc, zValue(ranges)), Seq(col(zc))).drop(zc)
      case None => shape(df, cols.map(col))
    }
  }

  /** Deterministic shard manifest of a written dataset: one row per physical
    * file with row count, an ORDER-INDEPENDENT content fingerprint
    * (bit_xor of a per-row 64-bit hash over every column — commutative, so
    * the fingerprint is a function of the file's row multiset-up-to-xor,
    * not of row order or write parallelism), and min/max of the cluster
    * keys (the same bounds the parquet footer serves to pruning). The
    * reproducibility record a training run should archive next to its data:
    * two writes of the same rows with the same layout produce the same
    * content column set even though part-file NAMES are fresh UUIDs — so
    * manifests compare as sets of content rows (spec-pinned). One pass, one
    * per-file aggregate; xor's known blind spot (a duplicated row pair xors
    * away) is covered by the row count next to it.
    *
    * The per-row hash spans ALL columns via the canonical struct hash —
    * a changed value in any row flips the file's fingerprint (spec-pinned). */
  def manifest(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val df = spark.read.parquet(path)
    val rowHash = xxhash64(struct(df.columns.map(col): _*))
    val keyAggs = keyCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val aggs = Seq(count(lit(1)).as("n_rows"),
      expr("bit_xor(rh)").as("fingerprint")) ++ keyAggs
    df.withColumn("rh", rowHash)
      .withColumn("file", regexp_extract(input_file_name(), "[^/]+$", 0))
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("file"))
  }
}
