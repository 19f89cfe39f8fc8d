package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps — data skipping for plain parquet directories.
  *
  * A zone map is the tiny table of per-file column ranges (`file, count,
  * min_c/max_c per tracked column`) that lets a range query prune whole
  * files BEFORE the scan's file index ever lists them. It is the
  * Delta/Iceberg `add.stats` idea reduced to its engine core: statistics
  * live OUTSIDE the data files, pruning is a metadata operation, and the
  * scan only pays for files that can possibly match.
  *
  * Relationship to what parquet already gives: row-group min/max footers
  * prune AFTER a file is opened — at 100 TB with millions of files, opening
  * footers IS the bottleneck (one S3 GET per file just to discover
  * irrelevance). The zone map answers "which files?" from one small
  * driver-side table. It composes with, not replaces, footer pruning:
  * surviving files still push the residual predicate down to row groups.
  *
  * Effectiveness is a LAYOUT property: ranges prune iff the layout
  * correlates the column with file boundaries ([[Layout.writeClustered]] /
  * z-order). On a random layout every file straddles the predicate and
  * nothing prunes — correctness is unaffected (the spec pins both).
  *
  * Scale discipline: building is ONE distributed scan grouped by
  * `_metadata.file_path` (the stats shuffle is |files|-scale, not
  * row-scale). Pruning collects the zone map to the driver — a BOUNDED
  * collect by construction (one row per file; a lake region with 10^6
  * files collects ~10^6 short rows, the same order as the file listing
  * Spark's own InMemoryFileIndex already drivers through). */
object ZoneMaps {

  /** One distributed pass over `dataPath`: per-file row count + min/max of
    * each tracked column, written (overwrite) to `statsDir`. */
  def build(spark: SparkSession, dataPath: String, cols: Seq[String],
      statsDir: String): Unit = {
    require(cols.nonEmpty, "track at least one column")
    // footer-derived when exact (r13, guide §6) — the build pass otherwise
    // re-reads every tracked column of the whole layout just to recompute
    // numbers the writer left in the footers; scan fallback is unchanged.
    // (The static face predates nnull_c — statsForPaths now records it,
    // which only ADDS information consumers guard on.)
    statsForPaths(spark, Store.liveFiles(dataPath), cols)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(statsDir)
  }

  // ── Decision predicates over a stats row, shared by every read face ───

  /** Files whose `[min_c, max_c]` range intersects `[lo, hi)` for EVERY
    * conjunct — the candidate set a conjunction of range predicates must
    * read. NULL bounds (all-null file slice, or a live file the stats do
    * not cover) are kept: the zone map may only ever prune files that
    * provably cannot match. Conjuncts compose multiplicatively on a layout
    * that correlates several columns with file boundaries (z-order): each
    * dimension independently excludes files the other cannot. */
  private def intersects(preds: Seq[(String, Column, Column)]): Column =
    preds.map { case (c, lo, hi) =>
      col(s"max_$c").isNull || (col(s"max_$c") >= lo && col(s"min_$c") < hi)
    }.reduce(_ && _)

  /** The residual row predicate: every `col in [lo, hi)` conjunct. */
  private def rowPred(preds: Seq[(String, Column, Column)]): Column =
    preds.map { case (c, lo, hi) => col(c) >= lo && col(c) < hi }.reduce(_ && _)

  /** Files whose tracked range lies FULLY inside every conjunct. Never
    * NULL: unknown bounds are not contained. */
  private def contained(preds: Seq[(String, Column, Column)]): Column =
    preds.map { case (c, lo, hi) =>
      col(s"min_$c").isNotNull && col(s"min_$c") >= lo &&
        col(s"max_$c").isNotNull && col(s"max_$c") < hi
    }.reduce(_ && _)

  /** Files PROVEN null-free in every predicate column. Null-safe: a stats
    * row whose nnull_c is NULL (pre-nnull rows read through mergeSchema,
    * or stats from the static build) yields FALSE, never NULL — a NULL
    * eligibility would fail both the metadata branch and the scan branch
    * of [[aggregateRangeIndexed]], silently dropping the file (unknown
    * null counts mean "scan the file, never guess"). */
  private def nullFree(preds: Seq[(String, Column, Column)]): Column =
    preds.map { case (c, _, _) => coalesce(col(s"nnull_$c") === 0L, lit(false)) }
      .reduce(_ && _)

  /** A file ALL of whose values are null in some conjunct column (nnull ==
    * n_rows) provably matches no row: nothing to serve, nothing to scan —
    * without this, an all-null slice has NULL bounds and would be scanned
    * forever by the conservative [[intersects]]. */
  private def provablyEmpty(preds: Seq[(String, Column, Column)]): Column =
    preds.map { case (c, _, _) =>
      col(s"nnull_$c").isNotNull && col(s"nnull_$c") === col("n_rows")
    }.reduce(_ || _)

  /** Scan `dataPath` for rows satisfying every `col in [lo, hi)` conjunct,
    * reading ONLY files the zone map cannot exclude. Returns the filtered
    * frame plus (filesRead, filesTotal) for observability — the pair every
    * data-skipping report is built from. The residual predicate is still
    * applied (and still pushes to parquet row groups): surviving files
    * straddle the boundary, so pruning alone is never assumed exact.
    *
    * Metadata cost: ONE read of the tiny stats table decides both the
    * candidate list and the total (the bounded collect from the header).
    * The data directory itself is never listed unless the candidate set is
    * empty (only then is its schema read, to shape the empty result) —
    * avoiding a full file listing is the entire point of the zone map. */
  def scanPrunedAll(spark: SparkSession, dataPath: String, statsDir: String,
      preds: Seq[(String, Column, Column)]): (DataFrame, (Int, Int)) = {
    import spark.implicits._
    require(preds.nonEmpty, "at least one range conjunct")
    val flagged = spark.read.parquet(statsDir)
      .select($"file", intersects(preds).as("keep")).as[(String, Boolean)]
      .collect() // bounded: one row per data file (see header)
    val total = flagged.length
    val files = flagged.collect { case (f, true) => f }.toSeq
    val df =
      if (files.isEmpty)
        // nothing can match: empty frame with the data's schema, no scan
        spark.read.parquet(dataPath).filter(lit(false))
      else
        // a file subset shares the directory's writer schema (zone-mapped
        // layouts are single-writer by construction); the driver-statted
        // read (r13) also skips the re-listing of the candidate paths —
        // a distributed job once the survivor list passes 32 files
        Store.readFiles(spark, files).filter(rowPred(preds))
    (df, (files.length, total))
  }

  /** Single-conjunct convenience face of [[scanPrunedAll]]. */
  def scanPruned(spark: SparkSession, dataPath: String, statsDir: String,
      trackedCol: String, lo: Column, hi: Column): (DataFrame, (Int, Int)) =
    scanPrunedAll(spark, dataPath, statsDir, Seq((trackedCol, lo, hi)))

  // ── Incremental face: a zone-mapped Store ─────────────────────────────
  //
  // The range-scan sibling of [[BloomIndex]]'s bloom-indexed Store, with
  // the identical admission/heal protocol: each admitted delta carries its
  // per-file min/max stats into a SIBLING stats store under the same
  // idempotency id, lookups treat the map as a conservative ACCELERATOR
  // (a live data file the stats do not cover is read unconditionally —
  // crash window and compaction renames degrade pruning to scanning,
  // never correctness), and maintainIndex heals both directions. The one
  // thing the range face needs that the bloom face does not: the DATA
  // store's maintenance compaction must be order-preserving
  // ([[Store.compact]]'s `clusterBy`) — a round-robin rewrite gives every
  // compacted file the full key range and nothing prunes ever again
  // (spec-pinned both ways in ZoneMapStoreSpec).

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def statsFor(dataFiles: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "track at least one column")
    // nnull_c rides along for [[countRangeIndexed]]'s metadata fast path:
    // a fully-contained file contributes n_rows - nnull_c without being
    // read (min/max ignore nulls, so n_rows alone would overcount). Stats
    // written before this column existed read as NULL through mergeSchema
    // — the fast path treats unknown as "scan the file", never guesses.
    // sum_c (NUMERIC tracked columns only) rides along the same way for
    // [[sumRangeIndexed]]: a contained file contributes its stored sum
    // without being read; pre-sum rows read NULL and fall back to scan.
    val numeric: Set[String] = dataFiles.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSet
    def perCol(c: String) =
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, lit(1))).as(s"nnull_$c")) ++
        (if (numeric(c)) Seq(sum(col(c)).as(s"sum_$c")) else Nil)
    def perColNames(c: String) =
      Seq(col(s"min_$c"), col(s"max_$c"), col(s"nnull_$c")) ++
        (if (numeric(c)) Seq(col(s"sum_$c")) else Nil)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(perCol)
    dataFiles
      .select(col("_metadata.file_path").as("raw") +: cols.map(col): _*)
      .groupBy(col("raw"))
      .agg(aggs.head, aggs.tail: _*)
      // canonicalize AFTER the agg: the udf runs once per FILE, and the
      // canonical form is what set-compares against DataFrame.inputFiles
      .select(BloomIndex.canonPathUdf(col("raw")).as("file") +:
        (col("n_rows") +: cols.flatMap(perColNames)): _*)
  }

  /** Spec-visible count of [[statsForPaths]] calls answered from footers. */
  private[graft] val footerStatsServed =
    new java.util.concurrent.atomic.AtomicLong

  /** Spark types whose parquet column statistics are EXACT and losslessly
    * reconstructible driver-side. Deliberately excludes: every NumericType
    * (the stats row must also carry `sum_c`, which footers cannot supply),
    * strings/binary (parquet-mr may write TRUNCATED min/max for long
    * values — conservative bounds fine for pruning but [[minMaxRangeIndexed]]
    * SERVES these values as exact answers), and float/double (a footer
    * cannot prove NaN-absence, and parquet drops stats around NaN). What
    * remains — timestamp/timestamp_ntz (INT64 micros; INT96's stats
    * ordering is undefined, which is why the session writers pin
    * outputTimestampType=TIMESTAMP_MICROS) and date (INT32 days) — is
    * exactly the time-clustered-store family. */
  private def footerExact(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }

  /** Per-file zone stats derived from parquet FOOTERS, driver-side — zero
    * Spark jobs and zero data pages read (r13, guide §6): the scan-based
    * [[statsFor]] re-reads the tracked column of every file it stats, plus
    * one scheduler round trip, to compute numbers the writer already left
    * in the footer (row counts, per-column min/max/null-count). Returns
    * None — caller falls back to the scan — unless EVERY tracked column in
    * EVERY file is footer-exact ([[footerExact]] types, matching physical
    * annotation, complete statistics in every row group); the fallback is
    * also the error path, so a racing compaction surfaces exactly as
    * before. Rows match [[statsFor]]'s output exactly, including the
    * skip-empty-file convention (a 0-row file produces no group there). */
  private def footerStatsFor(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Option[DataFrame] = try {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (files.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()
    val rows = Vector.newBuilder[org.apache.spark.sql.Row]
    var sparkTypes: Map[String, DataType] = null
    files.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
        org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
      try {
        val meta = reader.getFooter.getFileMetaData
        val serialized =
          meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")
        if (serialized == null) return None // not Spark-written: no exact types
        val sparkSchema = DataType.fromJson(serialized).asInstanceOf[StructType]
        val types = cols.map { c =>
          val field = sparkSchema.find(_.name == c).getOrElse(return None)
          if (!footerExact(field.dataType)) return None
          c -> field.dataType
        }.toMap
        if (sparkTypes == null) sparkTypes = types
        else if (sparkTypes != types) return None // cross-file type drift
        val blocks = reader.getFooter.getBlocks
        val nRows = {
          var n = 0L
          blocks.forEach(b => n += b.getRowCount)
          n
        }
        if (nRows > 0) {
          // per tracked column: fold row-group stats; any incomplete chunk
          // (missing stats, unset null count) disqualifies the whole call
          val perCol: Seq[(Any, Any, Long)] = cols.map { c =>
            val dt = types(c)
            var nulls = 0L
            var minV: java.lang.Long = null
            var maxV: java.lang.Long = null
            blocks.forEach { b =>
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == c).getOrElse(return None)
              val pt = cc.getPrimitiveType
              val annotationOk = dt match {
                case TimestampType | TimestampNTZType =>
                  pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
                    (pt.getLogicalTypeAnnotation match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                        t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                          t.isAdjustedToUTC == (dt == TimestampType)
                      case _ => false
                    })
                case DateType =>
                  pt.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
                    pt.getLogicalTypeAnnotation
                      .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
                case _ => false
              }
              if (!annotationOk) return None
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) return None
              nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                val (lo, hi) = dt match {
                  case TimestampType | TimestampNTZType =>
                    (st.genericGetMin.asInstanceOf[java.lang.Long],
                      st.genericGetMax.asInstanceOf[java.lang.Long])
                  case _ =>
                    (java.lang.Long.valueOf(
                       st.genericGetMin.asInstanceOf[java.lang.Integer].longValue),
                      java.lang.Long.valueOf(
                        st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                }
                if (minV == null || lo < minV) minV = lo
                if (maxV == null || hi > maxV) maxV = hi
              }
            }
            // all-null must be PROVEN by the counts, never inferred from
            // absent values (a chunk with values but no stats fell out above)
            if (minV == null && nulls != nRows) return None
            val toExternal: java.lang.Long => Any = types(c) match {
              case TimestampType => micros =>
                java.time.Instant.ofEpochSecond(
                  Math.floorDiv(micros.longValue, 1000000L),
                  Math.floorMod(micros.longValue, 1000000L) * 1000L)
              case TimestampNTZType => micros =>
                java.time.LocalDateTime.ofEpochSecond(
                  Math.floorDiv(micros.longValue, 1000000L),
                  (Math.floorMod(micros.longValue, 1000000L) * 1000L).toInt,
                  java.time.ZoneOffset.UTC)
              case _ => days => java.time.LocalDate.ofEpochDay(days.longValue)
            }
            (if (minV == null) null else toExternal(minV),
              if (maxV == null) null else toExternal(maxV), nulls)
          }
          rows += org.apache.spark.sql.Row.fromSeq(
            BloomIndex.canonPath(f) +: nRows +:
              perCol.flatMap { case (lo, hi, nn) => Seq(lo, hi, nn) })
        }
      } finally reader.close()
    }
    if (sparkTypes == null) return None // every file empty: let the scan shape it
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
        StructField("n_rows", LongType, nullable = false) +:
        cols.flatMap(c => Seq(
          StructField(s"min_$c", sparkTypes(c)),
          StructField(s"max_$c", sparkTypes(c)),
          StructField(s"nnull_$c", LongType, nullable = false))))
    footerStatsServed.incrementAndGet(): Unit
    Some(spark.createDataFrame(
      java.util.Arrays.asList(rows.result(): _*), schema))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Stats for an explicit file list: footer-derived when exact
    * ([[footerStatsFor]]), else the one-pass scan aggregate. */
  private[graft] def statsForPaths(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame =
    footerStatsFor(spark, files, cols).getOrElse(
      statsFor(Store.readFiles(spark, files), cols))

  // ── Serve cache: driver-resident zone stats ────────────────────────────
  //
  // The [[ServeCache]] protocol with zone stats rows (~100 B of PLAIN
  // VALUES per file — no filters to deserialize) as the cached value: the
  // COLLECTED ROWS are served back as a LOCAL DataFrame. Every decision
  // predicate (intersects/contained/provablyEmpty, with their type-aware
  // comparisons over timestamps/decimals/strings) then runs through the
  // SAME Column expressions as the uncached path — Catalyst folds
  // Project/Filter over a LocalRelation at optimization time — instead of
  // a re-implemented driver-side comparison that could silently diverge.
  // What the cache removes is the per-query parquet read of the stats
  // store, not the semantics.

  private val statsCache = new ServeCache[(org.apache.spark.sql.types.StructType,
    java.util.List[org.apache.spark.sql.Row])]

  /** The stats table as a DataFrame — served from the driver cache, or
    * read from parquet when over budget. Both feed the identical decision
    * expressions downstream. */
  private def statsTable(spark: SparkSession, statsDir: String): DataFrame = {
    // liveFiles + readFiles: the refresh pays ONE collect job (Store.read's
    // mergeSchema option would add a distributed footer-merge job first)
    def read() = Store.readFiles(spark, Store.liveFiles(statsDir))
    statsCache.get(statsDir) {
      val df = read()
      (df.schema, java.util.Arrays.asList(df.collect(): _*))
    }.map { case (schema, rows) => spark.createDataFrame(rows, schema) }
      .getOrElse(read())
  }

  /** Admit `df` into the data Store AND its per-file ranges into the
    * sibling stats Store, both under the same idempotency id (the
    * [[BloomIndex.admitIndexed]] protocol — replays no-op on both sides,
    * a replay that finds data admitted but stats missing heals the
    * stats). For the ranges to PRUNE, shape the batch before admitting
    * (`repartitionByRange` + `sortWithinPartitions` on the tracked
    * columns); an unshaped admit is merely unprunable, never wrong.
    * Returns whether this call admitted the data batch. */
  def admitIndexed(df: DataFrame, dataDir: String, statsDir: String,
      cols: Seq[String], id: String): Boolean = {
    val spark = df.sparkSession
    val admitted = Store.appendIdempotent(df, dataDir, id)
    val delta = new java.io.File(dataDir, s"delta-$id")
    if (delta.exists()) {
      try {
        // delta files listed driver-side; stats come from their footers
        // when exact (statsForPaths), else one scan of the tracked columns
        val deltaFiles = Store.liveFiles(delta.toString)
        if (deltaFiles.isEmpty)
          log.warn(s"zone stats for delta-$id skipped (delta compacted " +
            "away mid-admission; maintainIndex heals)")
        else {
          val stats = statsForPaths(spark, deltaFiles, cols)
            .coalesce(1) // |delta files| short rows
          Store.appendIdempotent(stats, statsDir, s"zm-$id"): Unit
        }
      } catch {
        // same tolerance contract as the bloom face: a path-shaped
        // failure is the delta-vs-compaction listing race (heal covers
        // the renamed file); other analysis errors are deterministic
        // misconfiguration and must surface
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null && (
              e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist")) =>
          log.warn(s"zone stats for delta-$id skipped (delta compacted " +
            s"away mid-admission; maintainIndex heals): ${e.getMessage}")
        case e: org.apache.spark.sql.AnalysisException => throw e
        case scala.util.control.NonFatal(e) =>
          log.warn(s"zone stats for delta-$id skipped (data admitted; " +
            s"file stays uncovered until maintainIndex heals)", e)
      }
      statsCache.invalidate(statsDir)
    }
    admitted
  }

  /** Range scan over a zone-mapped Store. Decision per LIVE data file,
    * DISTRIBUTED-side: covered by stats → its ranges decide (NULL bounds
    * keep — an all-null slice may only be pruned by a provable
    * non-match); uncovered (left-join miss: crash window, compaction
    * rename) → read unconditionally, which the same NULL-keeps predicate
    * expresses for free. Stale stats rows for dead files fall out of the
    * join. Only the files-to-READ come back to the driver. Returns the
    * filtered frame plus (filesRead, filesTotal). */
  def lookupRangeIndexed(spark: SparkSession, dataDir: String,
      statsDir: String, preds: Seq[(String, Column, Column)])
      : (DataFrame, (Int, Int)) = {
    import spark.implicits._
    require(preds.nonEmpty, "at least one range conjunct")
    // driver-side listing (no schema-merge job per probe — the
    // BloomIndex.lookupIndexedMulti rationale)
    val live = Store.liveFiles(dataDir).toSet
    val files: Seq[String] =
      if (!Store.hasData(statsDir)) live.toSeq.sorted
      else
        live.toSeq.toDF("file")
          .join(statsTable(spark, statsDir), Seq("file"), "left_outer")
          .filter(intersects(preds))
          .select(col("file")).distinct()
          .as[String].collect().toSeq.sorted
    val df =
      if (files.isEmpty) Store.readBounded(spark, dataDir).filter(lit(false))
      else Store.readFiles(spark, files).filter(rowPred(preds))
    (df, (files.length, live.size))
  }

  // ── Aggregate pushdown: COUNT, MIN/MAX and SUM over one shared core ────

  /** One output column of a zone aggregate. `fold` (sum, min or max) runs
    * twice: over `meta`, read from the stats row of each file served from
    * metadata, and then over that partial together with `scan`, read from
    * each matching row of the boundary files — so folding a partial again
    * must equal folding the inputs at once. */
  private final case class AggCol(name: String, fold: Column => Column,
      meta: Column, scan: Column)

  /** What one aggregate adds to [[aggregateRangeIndexed]]: the extra
    * condition under which a fully contained file may be served from its
    * stats row, and its output columns. */
  private final case class ZoneAgg(eligible: Column, cols: Seq[AggCol])

  /** The aggregate-pushdown core (the metadata half of REPOSE-style prune
    * then verify): per LIVE data file, a covered file whose tracked ranges
    * lie fully inside every conjunct, and that the aggregate deems
    * `eligible`, is served from its stats row without being read; a
    * provably empty file is neither served nor read; every other
    * intersecting file — boundary-straddling, uncovered (crash window,
    * compaction rename), or with stats too old to prove eligibility — is
    * scanned with the residual predicate. Stale stats rows for dead files
    * fall out of the live join; duplicate rows (heal racing an admit) are
    * dropped first — zone stats for a file are deterministic, so any copy
    * is correct.
    *
    * Cost: ONE decision aggregate over the live x stats join returns the
    * metadata partials and the boundary-file list together, ONE aggregate
    * scans the boundary files, and the two legs merge through a local
    * relation. The scan leg's result types anchor the answer, so it stays
    * generic over timestamps, decimals and strings, and a metadata leg
    * summing a literal NULL (an untracked target) cannot coerce it away
    * from the data's type. `agg` receives the stats table's columns
    * (empty when the store has no stats yet: every file is scanned).
    * Returns the answer as a 1-row local frame plus (filesScanned,
    * filesTotal). */
  private def aggregateRangeIndexed(spark: SparkSession, dataDir: String,
      statsDir: String, preds: Seq[(String, Column, Column)])(
      agg: Set[String] => ZoneAgg): (DataFrame, (Int, Int)) = {
    import spark.implicits._
    require(preds.nonEmpty, "at least one range conjunct")
    val live = Store.liveFiles(dataDir).toSet
    val stats =
      if (Store.hasData(statsDir)) Some(statsTable(spark, statsDir)) else None
    val ZoneAgg(eligible, cols) = agg(stats.fold(Set.empty[String])(_.columns.toSet))
    val (meta, scanFiles) = stats match {
      case None => (None, live.toSeq.sorted)
      case Some(st) =>
        val (fits, empty) = (contained(preds) && eligible, provablyEmpty(preds))
        val (served, scan) = (fits && !empty, intersects(preds) && !fits && !empty)
        val decision = live.toSeq.toDF("file")
          .join(st, Seq("file"), "left_outer")
          .dropDuplicates("file")
          .select(cols.map(c => c.fold(when(served, c.meta)).as(c.name)) :+
            collect_list(when(scan, col("file"))).as("scan"): _*)
        val row = decision.head()
        val partials = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row.fromSeq(row.toSeq.init)),
          org.apache.spark.sql.types.StructType(decision.schema.init))
        (Some(partials), row.getSeq[String](cols.size).sorted)
    }
    val scanned =
      (if (scanFiles.nonEmpty) Store.readFiles(spark, scanFiles).filter(rowPred(preds))
       // no files to scan: an empty frame of the data's schema still types
       // the answer; an empty store has no schema, and only COUNT answers
       else if (live.isEmpty) spark.emptyDataFrame
       else Store.readBounded(spark, dataDir).filter(lit(false)))
        .select(cols.map(c => c.scan.as(c.name)): _*)
    val types = scanned.select(cols.map(c => c.fold(col(c.name)).as(c.name)): _*)
      .schema
    def typed(c: AggCol, v: Column) = v.cast(types(c.name).dataType).as(c.name)
    val merged = (meta.map(_.select(cols.map(c => typed(c, col(c.name))): _*))
        .toSeq :+ scanned)
      .reduce(_ unionByName _)
      .select(cols.map(c => typed(c, c.fold(col(c.name)))): _*)
    (spark.createDataFrame(java.util.Arrays.asList(merged.collect(): _*),
      merged.schema), (scanFiles.length, live.size))
  }

  /** Folds a count: NULL (no input) reads as 0. */
  private def countFold(c: Column): Column = coalesce(sum(c), lit(0L))

  /** COUNT(*) over a range conjunction, answered from METADATA wherever
    * possible: a covered file whose tracked ranges lie FULLY inside every
    * conjunct contributes `n_rows - nulls` without being read (nulls are
    * outside any range but inside n_rows — single-conjunct probes
    * subtract the tracked column's null count; multi-conjunct fast-paths
    * only null-free files, since per-column null counts cannot bound
    * rows-with-any-null); only BOUNDARY-straddling files (plus uncovered
    * live files and files whose stats predate the null-count column) are
    * scanned. The aggregate-pushdown-to-metadata idea: "how many events
    * in Q1" on a time-clustered store reads ~2 boundary files however
    * large the interior is. Returns (count, (filesScanned, filesTotal)). */
  def countRangeIndexed(spark: SparkSession, dataDir: String,
      statsDir: String, preds: Seq[(String, Column, Column)])
      : (Long, (Int, Int)) = {
    val (df, files) = aggregateRangeIndexed(spark, dataDir, statsDir, preds) { _ =>
      val (eligible, contribution) =
        if (preds.size == 1) {
          val c = preds.head._1
          (col(s"nnull_$c").isNotNull, col("n_rows") - col(s"nnull_$c"))
        } else (nullFree(preds), col("n_rows").cast("long"))
      ZoneAgg(eligible, Seq(AggCol("n", countFold, contribution, lit(1L))))
    }
    (df.head().getLong(0), files)
  }

  /** MIN/MAX over a range conjunction, answered from METADATA wherever
    * possible — the sibling of [[countRangeIndexed]] (round-11 verdict
    * missing-item #4): a covered file whose tracked ranges lie FULLY
    * inside every conjunct AND whose predicate columns are null-free
    * contributes its stored `min_t`/`max_t` without being read; only
    * boundary-straddling files, uncovered live files, and files whose
    * stats predate the null-count column are scanned.
    *
    * Null discipline, stated exactly: a row with a NULL in a PREDICATE
    * column matches no conjunct, but the file-level `min_t`/`max_t`
    * still include that row's target value — so (unlike COUNT's
    * single-conjunct subtraction) the metadata fast path requires
    * null-free predicate columns in every case, and unknown null counts
    * (mergeSchema NULLs) mean "scan the file, never guess". NULL
    * `min_t`/`max_t` (an all-null target slice) contribute nothing —
    * exactly MIN/MAX's null semantics.
    *
    * Returns a 1-row frame `(min_<target>, max_<target>)` (NULLs when no
    * row matches) plus (filesScanned, filesTotal). */
  def minMaxRangeIndexed(spark: SparkSession, dataDir: String,
      statsDir: String, preds: Seq[(String, Column, Column)],
      targetCol: String): (DataFrame, (Int, Int)) = {
    val (minName, maxName) = (s"min_$targetCol", s"max_$targetCol")
    aggregateRangeIndexed(spark, dataDir, statsDir, preds) { statsCols =>
      require(statsCols.isEmpty || (statsCols(minName) && statsCols(maxName)),
        s"zone stats at $statsDir do not track '$targetCol' — " +
          s"admit/heal with it in `cols` to serve MIN/MAX from metadata")
      // target-tracking proof: a stats row admitted before `targetCol`
      // was in `cols` reads min_/max_/nnull_<target> as NULL through
      // mergeSchema — min/max would silently IGNORE its NULLs and drop
      // the file's rows from the answer. Require the row to prove it
      // tracked the target (nnull is written for every tracked column,
      // even an all-null slice, which then correctly contributes
      // nothing); an untracked row falls through to the scan branch.
      ZoneAgg(nullFree(preds) && col(s"nnull_$targetCol").isNotNull, Seq(
        AggCol(minName, min(_), col(minName), col(targetCol)),
        AggCol(maxName, max(_), col(maxName), col(targetCol))))
    }
  }

  /** SUM + COUNT pushdown to zone metadata — the additive sibling of
    * [[countRangeIndexed]]/[[minMaxRangeIndexed]], completing the
    * aggregate-pushdown family: a covered file fully contained in every
    * range conjunct (null-free on the predicate columns) contributes its
    * stored per-file `sum_<target>` and non-null count (`n_rows -
    * nnull_<target>`) WITHOUT being read; only boundary-straddling,
    * uncovered, and pre-sum-upgrade files are scanned. Returns a 1-row
    * frame `(sum_<target>, cnt_<target>)` — AVG composes as sum/cnt —
    * plus (filesScanned, filesTotal).
    *
    * Metadata eligibility must be PROVEN per row, never guessed: the row
    * carries a non-NULL `sum_<target>`, or it is tracked-and-all-null
    * (`nnull_<target> == n_rows` — a correct zero contribution). A
    * pre-sum-upgrade row (NULL sum through mergeSchema) with live values
    * fails both and falls through to the scan branch; a store whose
    * merged stats schema lacks the target columns entirely serves
    * nothing from metadata but still prunes non-intersecting files.
    *
    * Exactness: integer-typed (and integer-valued double) columns sum
    * exactly in any addition order; true floating-point columns carry
    * the same order-dependence as any distributed sum. */
  def sumRangeIndexed(spark: SparkSession, dataDir: String,
      statsDir: String, preds: Seq[(String, Column, Column)],
      targetCol: String): (DataFrame, (Int, Int)) = {
    val (sumName, cntName) = (s"sum_$targetCol", s"cnt_$targetCol")
    aggregateRangeIndexed(spark, dataDir, statsDir, preds) { statsCols =>
      // a stats column absent from the MERGED schema reads as literal NULL:
      // every eligibility test is then NULL-false, so an untracked target
      // degrades to scanning (still range-pruned), never to a wrong sum
      def sc(n: String): Column = if (statsCols(n)) col(n) else lit(null)
      val sumProof = sc(sumName).isNotNull ||
        coalesce(sc(s"nnull_$targetCol") === col("n_rows"), lit(false))
      ZoneAgg(nullFree(preds) && sumProof, Seq(
        AggCol(sumName, sum(_), sc(sumName), col(targetCol)),
        AggCol(cntName, countFold, col("n_rows") - sc(s"nnull_$targetCol"),
          col(targetCol).isNotNull.cast("long"))))
    }
  }

  /** Streaming face: the SAME admission as [[admitIndexed]], as a
    * foreachBatch sink with idempotent per-micro-batch ids — the
    * [[BloomIndex.streamingAdmission]] shape. */
  def streamingAdmission(rows: DataFrame, dataDir: String, statsDir: String,
      cols: Seq[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitIndexed(batch, dataDir, statsDir, cols, s"zm$batchId"): Unit
      }

  /** Admit-count-triggered maintenance for a zone-mapped Store: once
    * `every` deltas have committed, compact the data store — ORDER-
    * PRESERVING on the tracked columns BY DEFAULT (`clusterBy = cols`),
    * because a range-serving store that bin-packs loses its pruning —
    * then heal the index immediately. Call after each [[admitIndexed]];
    * pass `zOrder = true` when 2+ tracked dimensions should all keep
    * narrow per-file ranges. */
  def maintainIndexed(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String], every: Int = 16, numFiles: Int = 8,
      clusterBy: Option[Seq[String]] = None, // None → cols; Some(Nil) → bin-pack
      zOrder: Boolean = false,
      minFileBytes: Long = 0L): Unit =
    if (every > 0 && Store.deltaCount(dataDir) >= every) {
      // minFileBytes > 0: selective fold — kept files keep their names so
      // their zone stats stay valid; the folded output is range-clustered
      // on its own slice (kept files keep their narrow ranges, new files
      // get theirs — overlap across the two generations only widens the
      // boundary set, it never breaks the conservative pruning contract)
      if (minFileBytes > 0)
        Store.compactSelective(spark, dataDir, minFileBytes,
          clusterBy = clusterBy.getOrElse(cols), zOrder = zOrder): Unit
      else Store.compact(spark, dataDir, numFiles, identity,
        clusterBy.getOrElse(cols), zOrder)
      maintainIndex(spark, dataDir, statsDir, cols)
    }

  /** Heal the index: build ranges for live-but-uncovered data files (one
    * pass over just those files) and compact the stats store down to rows
    * whose file still exists. Run after [[Store.compact]] on the data
    * store — pass that compaction `clusterBy` on the tracked columns or
    * the healed ranges will all straddle everything (correct, unpruned).
    * The stats rewrite is size-targeted, never a hardcoded single task. */
  def maintainIndex(spark: SparkSession, dataDir: String, statsDir: String,
      cols: Seq[String]): Unit = {
    import spark.implicits._
    // driver-side listing (r13): Store.read(...).inputFiles paid a
    // distributed footer-merge job just to learn the live file NAMES
    val live = Store.liveFiles(dataDir).toSet
    val covered: Set[String] =
      if (Store.hasData(statsDir))
        Store.readFiles(spark, Store.liveFiles(statsDir))
          .select($"file").as[String].collect().toSet
      else Set.empty
    val missing = (live -- covered).toSeq.sorted
    if (missing.nonEmpty)
      Store.append(
        statsForPaths(spark, missing, cols).coalesce(1),
        statsDir)
    // rewrite only when there is something to clean (stale rows for dead
    // files, or enough heal deltas accreted) — the BloomIndex.maintainIndex
    // rationale; stale rows are dropped by the per-lookup live join either
    // way, so a skipped hygiene pass is result-invisible
    val dead = covered -- live
    if (Store.hasData(statsDir) &&
        (dead.nonEmpty || Store.deltaCount(statsDir) >= 8)) {
      // live listing recomputed INSIDE the rewrite, at image time — the
      // same no-lost-stats reasoning as BloomIndex.maintainIndex
      Store.compactToFileSize(spark, statsDir, targetBytes = 64L << 20,
        rewrite = { stats =>
          val liveNow = Store.liveFiles(dataDir).toDF("file")
          stats.join(broadcast(liveNow), Seq("file"), "left_semi")
        }): Unit
    }
    statsCache.invalidate(statsDir)
  }
}
