package graft.operators

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.{Comparator, UUID}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}

/** MaRe-parity core: pipe whole Spark partitions through external commands.
  *
  * Re-expresses the reference public surface
  * (`/root/reference/src/main/scala/se/uu/it/mare/MaRe.scala:23-241`:
  * map / reduce / repartitionBy / repartition / cache / collectReduce) on
  * `Dataset[T]` instead of `RDD[T]`:
  *
  *  - [[mapPartitionsThrough]] ≙ reference `map` (MaRe.scala:63-100): write the
  *    partition to host temp files, run `sh -c <command>` with those paths
  *    bound, stream the output mount back as the new partition.
  *  - [[treeReduce]] ≙ reference `reduce` (MaRe.scala:115-153): partition-local
  *    pre-combine, then log-depth merge rounds shrinking the partition count by
  *    `ceil(n^(1/depth))` per round, to a single partition. The command must be
  *    associative & commutative (same contract as the reference; checked in
  *    tests by sweeping depths).
  *  - [[repartitionBy]] ≙ MaRe.scala:161-178, expressed as hash-partitioning
  *    by Column expression (Catalyst-visible, unlike a raw Partitioner).
  *  - [[collectToLocal]] ≙ `@Experimental collectReduce` (MaRe.scala:194-241),
  *    via `toLocalIterator` — partitions stream through the driver one at a
  *    time (bounded memory) into one local file, then one local command run.
  *
  * Scale notes: staying on Dataset keeps pipelines inside Tungsten until the
  * pipe boundary; consecutive pipes fuse into one stage (no materialization
  * between commands); temp I/O is O(record) memory (streaming MountPoints);
  * `$TMPDIR` should be tmpfs on real clusters (reference README.md:25 advice
  * carried over).
  */
final class Pipeline[T](val ds: Dataset[T]) extends Serializable {

  def spark: SparkSession = ds.sparkSession

  /** Pipe each partition through `sh -c command` (via `runner`), reading the
    * output mount back as the new partition. Type-changing; arbitrary fan-in /
    * fan-out within a partition (N records in, M out). */
  def mapPartitionsThrough[U: Encoder](
      in: MountPoint[T],
      out: MountPoint[U],
      command: String,
      runner: CommandRunner = SubprocessRunner): Pipeline[U] = {
    val mapped = ds.mapPartitions { iter =>
      Pipeline.runPartition(iter, in, out, command, runner)
    }
    new Pipeline(mapped)
  }

  /** Tree-reduce all partitions to ONE via repeated containerized combining.
    * `depth >= 2`; higher depth = more, smaller merge rounds (bounds the data
    * any single command invocation sees — the reference's n^(1/depth)
    * schedule, MaRe.scala:132-141, planned by [[Pipeline.treeWidths]]).
    *
    * Each stage of the tree runs once. The partition count is read once, from
    * the pre-combined RDD, and every later width comes from the schedule:
    * no round's Dataset is probed (see [[getNumPartitions]]). Under AQE,
    * taking that RDD runs any shuffle upstream of the input; the rounds are
    * built on the same RDD, so the action reads that shuffle's output back
    * instead of running it again. */
  def treeReduce(
      in: MountPoint[T],
      out: MountPoint[T],
      command: String,
      depth: Int = 2,
      runner: CommandRunner = SubprocessRunner)(implicit enc: Encoder[T]): Pipeline[T] = {
    require(depth >= 2, s"depth must be >= 2, got $depth")
    // partition-local pre-combine (map-side combine)
    val combined = mapPartitionsThrough(in, out, command, runner).ds.rdd
    Pipeline.treeWidths(combined.getNumPartitions, depth)
      .foldLeft(new Pipeline(spark.createDataset(combined))) { (p, width) =>
        p.repartition(width).mapPartitionsThrough(in, out, command, runner)
      }
  }

  /** Hash-repartition by a key expression (records keep their values; only
    * placement changes). Catalyst-visible equivalent of the reference's
    * keyBy+partitionBy+drop-key dance (MaRe.scala:161-178). */
  def repartitionBy(key: Column, numPartitions: Int): Pipeline[T] =
    new Pipeline(ds.repartition(numPartitions, key))

  /** Full parity with the reference's custom-`Partitioner` overload
    * (MaRe.scala:161-166): key every record with a Scala function, shuffle by
    * an arbitrary `org.apache.spark.Partitioner`, drop the key. This drops to
    * the RDD layer (Catalyst cannot see a black-box partitioner) — prefer the
    * Column-based [[repartitionBy]] wherever the key is expressible. */
  def repartitionByRaw(keyBy: T => Any, partitioner: org.apache.spark.Partitioner)(
      implicit enc: Encoder[T]): Pipeline[T] = {
    // PairRDDFunctions needs ClassTags; the Encoder carries T's
    implicit val ctT: scala.reflect.ClassTag[T] = enc.clsTag
    val repartitioned = ds.rdd.keyBy(keyBy).partitionBy(partitioner).map(_._2)
    new Pipeline(spark.createDataset(repartitioned))
  }

  def repartition(numPartitions: Int): Pipeline[T] =
    new Pipeline(ds.repartition(numPartitions))

  def cache(): Pipeline[T] = new Pipeline(ds.cache())

  /** Partition count of the planned RDD. Under AQE `ds.rdd` runs every
    * shuffle stage of the plan before it returns, so on a Dataset with an
    * exchange this is a job per stage, repeated by the action that follows;
    * it is free only on plans without one. */
  def getNumPartitions: Int = ds.rdd.getNumPartitions

  /** Stream every partition through the driver (one at a time — bounded
    * driver memory, full data volume; same bound as the reference's
    * sequential per-partition runJob loop, MaRe.scala:224-227) into a single
    * local file, then run ONE local command over it. The result stays at
    * `localOutPath`; nothing is returned to Spark.
    *
    * `intermediateStorageLevel` mirrors the reference (MaRe.scala:202-208:
    * persist at the configured level, then force computation with a cluster
    * job before draining): `toLocalIterator` launches one job per partition,
    * so an upstream with expensive narrow stages would recompute them on
    * every partition fetch; persisting first computes the dataset ONCE, in
    * parallel across all executors, and the sequential drain then only reads
    * cached blocks. Persist/unpersist are scoped to this call. */
  def collectToLocal(
      in: MountPoint[T],
      out: MountPoint[_],
      command: String,
      localOutPath: String,
      runner: CommandRunner = SubprocessRunner,
      intermediateStorageLevel: Option[org.apache.spark.storage.StorageLevel] = None): Unit = {
    import scala.jdk.CollectionConverters._
    val src = intermediateStorageLevel.fold(ds)(ds.persist)
    val tmpIn = Pipeline.freshTempPath("collect_in")
    try {
      // force full materialization as one parallel job (the reference's
      // "enforce the computation" no-op job) before the partition-at-a-time
      // driver drain; inside the try so a failing upstream still unpersists
      if (intermediateStorageLevel.isDefined)
        src.foreachPartition((_: Iterator[T]) => ())
      in.writePartition(src.toLocalIterator().asScala, tmpIn)
      val outFile = new File(localOutPath)
      out.createEmpty(outFile)
      runner.run(command, Seq(tmpIn -> in.containerPath, outFile -> out.containerPath))
    } finally {
      Pipeline.deleteRecursive(tmpIn)
      if (intermediateStorageLevel.isDefined) { src.unpersist(); () }
    }
  }
}

object Pipeline {

  def apply[T](ds: Dataset[T]): Pipeline[T] = new Pipeline(ds)

  /** Partition count after each merge round of a [[Pipeline.treeReduce]] over
    * `n` pre-combined partitions — the reference schedule (MaRe.scala:132-149):
    * while `depth > 2`, shrink by `scale = max(ceil(n^(1/depth)), 2)` and
    * recurse with `depth - 1`; at depth 2, collapse to one. Empty for `n <= 1`.
    * A round's `repartition(width)` is a REPARTITION_BY_NUM shuffle, which
    * AQE never coalesces, so each round's output has exactly `width`
    * partitions and the whole schedule follows from `n`. */
  def treeWidths(n: Int, depth: Int): Seq[Int] = {
    require(depth >= 2, s"depth must be >= 2, got $depth")
    if (n <= 1) Nil
    else {
      val scale =
        if (depth > 2) math.max(math.ceil(math.pow(n, 1.0 / depth)).toInt, 2)
        else n // final round: collapse to one partition
      val width = math.max(n / scale, 1)
      width +: treeWidths(width, math.max(depth - 1, 2))
    }
  }

  /** Text source with a custom record delimiter (a record may span lines —
    * the reference's SDF molecules use "\n$$$$\n"). `lineSep` pushes the
    * delimiter into the distributed text reader, so splitting happens at
    * scan time, not post-hoc. */
  def textFile(spark: SparkSession, path: String, recordDelimiter: String = "\n"): Pipeline[String] = {
    val reader = spark.read
    val withSep =
      if (recordDelimiter == "\n") reader else reader.option("lineSep", recordDelimiter)
    new Pipeline(withSep.textFile(path))
  }

  /** (basename → content) pairs from a directory of files. */
  def wholeTextFiles(spark: SparkSession, path: String): Pipeline[(String, String)] = {
    import spark.implicits._
    val df = spark.read.format("binaryFile").load(path)
    new Pipeline(df.selectExpr(
        "reverse(split(path, '/'))[0] as name", "cast(content as string) as content")
      .as[(String, String)])
  }

  /** (basename → bytes) pairs from a directory of files. */
  def binaryFiles(spark: SparkSession, path: String): Pipeline[(String, Array[Byte])] = {
    import spark.implicits._
    val df = spark.read.format("binaryFile").load(path)
    new Pipeline(df.selectExpr("reverse(split(path, '/'))[0] as name", "content")
      .as[(String, Array[Byte])])
  }

  /** The one scratch root of the operators: mount points and command
    * sandboxes live under `$TMPDIR` (default `/tmp`). */
  private[operators] def scratchRoot: Path =
    Paths.get(sys.env.getOrElse("TMPDIR", "/tmp"))

  private[operators] def freshTempPath(tag: String): File =
    scratchRoot.resolve(s"graft_${tag}_${UUID.randomUUID()}").toFile

  /** Executor-side body of one piped partition. Deletes the input eagerly and
    * the output once the task completes (the read is streaming, so the files
    * must outlive this method). */
  private[operators] def runPartition[T, U](
      iter: Iterator[T],
      in: MountPoint[T],
      out: MountPoint[U],
      command: String,
      runner: CommandRunner): Iterator[U] = {
    val inPath = freshTempPath("in")
    val outPath = freshTempPath("out")
    try {
      in.writePartition(iter, inPath)
      out.createEmpty(outPath)
      runner.run(command, Seq(inPath -> in.containerPath, outPath -> out.containerPath))
    } catch {
      case e: Throwable =>
        // command failed: nothing will consume the output mount — reclaim both
        // now or task retries leak tmpfs on every attempt
        deleteRecursive(outPath)
        throw e
    } finally deleteRecursive(inPath)
    val result = out.readPartition(outPath)
    var cleaned = false
    def cleanup(): Unit = if (!cleaned) {
      cleaned = true
      result match { // partially-consumed streaming readers hold an open fd
        case c: java.io.Closeable => try c.close() catch { case _: Exception => () }
        case _ => ()
      }
      deleteRecursive(outPath)
    }
    Option(TaskContext.get()) match {
      case Some(tc) =>
        tc.addTaskCompletionListener[Unit](_ => cleanup())
        result
      case None =>
        // no task context (driver-side / direct use): clean up when the
        // iterator is exhausted — otherwise outPath and its open fd leak
        // until JVM exit. Partial consumers (take/limit) won't reach
        // exhaustion: the wrapper is Closeable so they can release early.
        new Iterator[U] with java.io.Closeable {
          override def hasNext: Boolean = {
            val h = !cleaned && result.hasNext
            if (!h) cleanup()
            h
          }
          override def next(): U = {
            // after close()/exhaustion the backing reader is closed and its
            // dir deleted — honor the Iterator contract instead of surfacing
            // an opaque closed-stream error
            if (cleaned) throw new NoSuchElementException("iterator closed")
            result.next()
          }
          override def close(): Unit = cleanup()
        }
    }
  }

  private[operators] def deleteRecursive(f: File): Unit = {
    if (f.exists()) {
      try {
        val stream = Files.walk(f.toPath)
        try stream.sorted(Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally stream.close()
      } catch { case _: Exception => () }
    }
  }
}
