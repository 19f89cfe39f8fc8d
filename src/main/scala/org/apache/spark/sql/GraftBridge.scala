package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column ⇄ Expression conversion that
  * Spark 4 moved behind `org.apache.spark.sql.classic.ExpressionUtils`.
  * Custom Catalyst expressions (e.g. graft.functions.SimHash64) need this to
  * surface as user-facing `Column`s. Kept to exactly two forwarders. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** FULLY-CONVERTED catalyst expression for a Column: [[expression]]
    * returns a lazy `ColumnNodeExpression` wrapper (never foldable, not
    * evaluable), which is fine for embedding in a plan but useless for
    * driver-side `eval()` — this runs the session's column-node
    * converter so a literal Column comes back as a real
    * `Literal`/foldable tree. */
  def resolvedExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  /** DataFrame from a logical plan (classic.Dataset.ofRows is private[sql]). */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Block until queued listener events are delivered (`listenerBus` is
    * private[spark]) — `graft.JobMetrics` must read its records only after
    * the async bus drained, or the last stage's task metrics land in the
    * NEXT scope. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The JVM's running SparkContext, if any (`SparkContext.getActive` is
    * private[spark]): the job tags in `graft.queries.Phases` need the
    * context, and no session may be active on the tagging thread. */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

  /** Free the block-manager storage behind a `localCheckpoint(true)`'d
    * frame as soon as its last consumer is done. Without this the
    * checkpoint blocks (MEMORY_AND_DISK) linger until the RDD object is
    * GC'd — in a long-lived session running many queries (the bench, a
    * serving deployment) fact-table-sized checkpoints accumulate in
    * storage memory and degrade unrelated later queries. No-op for frames
    * that are not checkpointed (defensive: the analyzed plan is only a
    * LogicalRDD after a checkpoint/RDD round-trip). */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  /** Union schema of the given parquet files, merged DRIVER-side from
    * their footers (row-group metadata skipped — this reads tails only).
    * Same result as `spark.read.option("mergeSchema", "true")` over the
    * same files, WITHOUT the distributed footer-merge job that option
    * launches per DataFrame construction — a scheduler round trip that
    * dominates bounded-candidate serve paths (point lookups read 1-3
    * files; the job to merge their two footers costs more than the scan).
    * Mirrors Spark's own merge rule: prefer the serialized Spark schema a
    * Spark writer stamps into the footer (exact types), fall back to
    * converting the parquet MessageType; `StructType.merge` is the same
    * union Spark's distributed path reduces with. Callers bound `files`
    * (serve candidates / stats stores), keeping driver work
    * |candidates|-scale — the same discipline as the stats collect. */
  def mergedParquetSchema(spark: SparkSession,
      files: Seq[String]): types.StructType = {
    require(files.nonEmpty, "no files to merge schemas of")
    val conf = spark.sessionState.newHadoopConf()
    val converter =
      new execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark.sessionState.conf)
    files.map { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf, path)
        .withMetadataFilter(
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
      try {
        val meta = reader.getFooter.getFileMetaData
        val serialized = meta.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata")
        if (serialized != null)
          types.DataType.fromJson(serialized).asInstanceOf[types.StructType]
        else converter.convert(meta.getSchema)
      } finally reader.close()
    }.reduce((a, b) => a.merge(b))
  }

  /** A [[execution.datasources.FileIndex]] over files the CALLER already
    * statted driver-side — no directory listing ever runs (r13
    * optimization, guide §2.4/§5): `spark.read.parquet(files: _*)` builds
    * an InMemoryFileIndex that re-lists every path, and once the list
    * reaches `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (default 32) that listing is a DISTRIBUTED JOB — a scheduler round
    * trip per DataFrame construction that dominated the store serve paths
    * (a 64-file store paid a 64-task listing job per candidate read).
    * Callers bound the file count (serve candidates, compaction images),
    * the same discipline as [[mergedParquetSchema]]. */
  private final class DriverStattedFileIndex(
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
      extends execution.datasources.FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
      statuses.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
        : Seq[execution.datasources.PartitionDirectory] =
      Seq(execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] =
      statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: types.StructType = new types.StructType()
    // two indexes over the same files are the same relation, as Spark's
    // InMemoryFileIndex equality on its root paths makes them: without
    // it, two reads of one table in a query are never recognised as the
    // same scan by exchange reuse or the cache manager
    private lazy val files =
      statuses.map(s => (s.getPath, s.getLen, s.getModificationTime)).toSet
    override def equals(other: Any): Boolean = other match {
      case d: DriverStattedFileIndex => files == d.files
      case _ => false
    }
    override def hashCode: Int = files.hashCode
  }

  /** DataFrame over exactly `files` with the given schema, statting each
    * file driver-side instead of running Spark's listing machinery (see
    * [[DriverStattedFileIndex]]). Result-identical to
    * `spark.read.schema(schema).parquet(files: _*)`: same files, same
    * schema, same ParquetFileFormat scan with full predicate pushdown and
    * column pruning — only the redundant listing (and its possible
    * distributed job) is gone. Also returns the number of read partitions
    * the scan will get: Spark's own split packing
    * (`FilePartition.maxSplitBytes`, `PartitionedFileUtil.splitFiles`,
    * `FilePartition.getFilePartitions`), run on the same statuses the
    * way `FileSourceScanExec` runs it. */
  def readParquetFiles(spark: SparkSession, files: Seq[String],
      schema: types.StructType): (DataFrame, Int) = {
    import execution.datasources.{FilePartition, PartitionDirectory}
    val hconf = spark.sessionState.newHadoopConf()
    val statuses = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p)
    }
    val relation = execution.datasources.HadoopFsRelation(
      new DriverStattedFileIndex(statuses),
      partitionSchema = new types.StructType(),
      // asNullable mirrors DataSource.resolveRelation's treatment of a
      // user-specified schema: a file that lacks one of the union's
      // columns must read it as NULL, not fail the non-null contract
      dataSchema = schema.asNullable,
      bucketSpec = None,
      fileFormat = new execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark.asInstanceOf[classic.SparkSession])
    val dir = PartitionDirectory(
      org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray)
    val maxSplit = FilePartition.maxSplitBytes(spark, Seq(dir))
    // parquet is splittable; the sort is the scan's own largest-first order
    val splits = dir.files.flatMap(f => execution.PartitionedFileUtil.splitFiles(
        f, f.getPath, isSplitable = true, maxSplit,
        org.apache.spark.sql.catalyst.InternalRow.empty))
      .sortBy(-_.length)
    (spark.asInstanceOf[classic.SparkSession].baseRelationToDataFrame(relation),
      FilePartition.getFilePartitions(spark, splits, maxSplit).size)
  }
}
