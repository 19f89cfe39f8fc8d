package graft.operators

import java.io._
import java.nio.charset.Charset
import java.nio.file.Files

/** Partition ⇄ filesystem (de)serialization strategies for piping Spark
  * partitions through external commands.
  *
  * Mirrors the reference contract (`/root/reference/src/main/scala/se/uu/it/mare/MountPoint.scala:20-51`:
  * createEmpty / write / read per partition) but with streaming reads — the
  * reference slurps whole output files (`source.mkString.split`,
  * MountPoint.scala:90), a scalability cliff at 100 TB partition sizes. Here
  * reads are incremental byte-level scans, so memory is O(record), not
  * O(partition).
  *
  * Delimiter semantics (kept from the reference, MountPoint.scala:77,88-92):
  * the delimiter is appended after EVERY record on write, including the last;
  * on read, the trailing empty record is dropped but interior empty records are
  * preserved. Round-trip is therefore lossy only for records that themselves
  * contain the delimiter — documented contract, property-tested.
  *
  * `containerPath` is the path the user's command addresses: under Docker it is
  * the bind-mount target; under the subprocess runner it resolves relative to a
  * per-task sandbox directory (leading '/' stripped), so `TextFile("/in.txt")`
  * is read by the command as `in.txt` in its cwd.
  *
  * The reference's `appendPartitionToHostPath` (MountPoint.scala:34-39 —
  * re-open the host file and append records batch-by-batch) is subsumed by
  * [[writePartition]]'s single streaming pass: it drains the whole partition
  * iterator through one buffered writer, so there is never a second batch to
  * append and the append contract needs no separate surface here.
  */
sealed trait MountPoint[T] extends Serializable {
  def containerPath: String
  /** Create an empty file/dir at `hostPath` for the command to write into. */
  def createEmpty(hostPath: File): Unit
  /** Drain a partition iterator to `hostPath`. */
  def writePartition(partition: Iterator[T], hostPath: File): Unit
  /** Stream records back from `hostPath`. Caller owns deletion AFTER the
    * iterator is exhausted (see Pipeline's task-completion hook). */
  def readPartition(hostPath: File): Iterator[T]
}

/** Delimited text records; one concatenated file per partition.
  * A "record" may span many lines — e.g. SDF molecules delimited by
  * "\n$$$$\n" (reference VirtualScreeningTest.scala:30,36-37). */
case class TextFile(
    containerPath: String,
    recordDelimiter: String = "\n",
    charsetName: String = "UTF-8") extends MountPoint[String] {

  private def charset: Charset = Charset.forName(charsetName)

  override def createEmpty(hostPath: File): Unit = {
    hostPath.createNewFile(); ()
  }

  override def writePartition(partition: Iterator[String], hostPath: File): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(hostPath), charset), 1 << 16)
    try partition.foreach { rec => w.write(rec); w.write(recordDelimiter) }
    finally w.close()
  }

  override def readPartition(hostPath: File): Iterator[String] =
    new DelimitedRecordIterator(hostPath, recordDelimiter, charset)
}

/** Streaming split-on-delimiter over a file. Byte-level scan: safe for any
  * delimiter whose encoded bytes cannot appear inside another character's
  * encoding (always true for UTF-8 with ASCII delimiters). Drops the single
  * trailing empty record produced by write's trailing delimiter. */
private[operators] final class DelimitedRecordIterator(
    file: File, delimiter: String, charset: Charset)
    extends Iterator[String] with java.io.Closeable {

  private val delim: Array[Byte] = delimiter.getBytes(charset)
  require(delim.nonEmpty, "record delimiter must be non-empty")
  private val in = new BufferedInputStream(new FileInputStream(file), 1 << 16)
  private val buf = new ByteArrayOutputStream(1 << 10)
  private var nextRec: String = _
  private var eof = false
  private var matched = 0 // prefix of `delim` matched so far

  /** Idempotent; lets partially-consumed iterators (limit/take downstream)
    * release the file descriptor instead of waiting for GC. */
  override def close(): Unit = {
    if (!eof) { eof = true; try in.close() catch { case _: Exception => () } }
  }

  private def advance(): Unit = {
    if (eof) { nextRec = null; return }
    buf.reset(); matched = 0
    var done = false
    while (!done) {
      val b = in.read()
      if (b < 0) {
        eof = true; in.close()
        // flush partial delimiter bytes that turned out not to be a delimiter
        buf.write(delim, 0, matched)
        nextRec =
          if (buf.size() == 0) null // trailing delimiter -> drop empty record
          else new String(buf.toByteArray, charset)
        done = true
      } else if (b == (delim(matched) & 0xff)) {
        matched += 1
        if (matched == delim.length) { // full delimiter -> record complete
          nextRec = new String(buf.toByteArray, charset)
          done = true
        }
      } else {
        if (matched > 0) {
          // false partial match: re-scan its bytes for new prefix matches
          // (delimiters here are short; KMP would be overkill)
          val pending = delim.slice(0, matched) :+ b.toByte
          buf.write(pending.head.toInt)
          matched = 0
          var i = 1
          while (i < pending.length) {
            val p = pending(i)
            if (p == delim(matched)) matched += 1
            else {
              buf.write(delim, 0, matched)
              if (p == delim(0)) matched = 1 else { buf.write(p.toInt); matched = 0 }
            }
            i += 1
          }
          if (matched == delim.length) {
            nextRec = new String(buf.toByteArray, charset)
            done = true
          }
        } else buf.write(b)
      }
    }
  }

  advance()
  override def hasNext: Boolean = nextRec != null
  override def next(): String = {
    val r = nextRec
    if (r == null) throw new NoSuchElementException
    advance()
    r
  }
}

/** (fileName → text content); partition materialized as a directory of files,
  * keyed by basename only (reference MountPoint.scala:119). */
case class WholeTextFiles(
    containerPath: String,
    charsetName: String = "UTF-8") extends MountPoint[(String, String)] {

  override def createEmpty(hostPath: File): Unit = { hostPath.mkdirs(); () }

  override def writePartition(partition: Iterator[(String, String)], hostPath: File): Unit = {
    hostPath.mkdirs()
    partition.foreach { case (name, content) =>
      val f = new File(hostPath, new File(name).getName)
      Files.write(f.toPath, content.getBytes(charsetName)); ()
    }
  }

  override def readPartition(hostPath: File): Iterator[(String, String)] = {
    val files = Option(hostPath.listFiles()).getOrElse(Array.empty[File])
    files.sortBy(_.getName).iterator.filter(_.isFile).map { f =>
      (f.getName, new String(Files.readAllBytes(f.toPath), charsetName))
    }
  }
}

/** (fileName → raw bytes); directory of binary files. */
case class BinaryFiles(containerPath: String) extends MountPoint[(String, Array[Byte])] {

  override def createEmpty(hostPath: File): Unit = { hostPath.mkdirs(); () }

  override def writePartition(partition: Iterator[(String, Array[Byte])], hostPath: File): Unit = {
    hostPath.mkdirs()
    partition.foreach { case (name, bytes) =>
      Files.write(new File(hostPath, new File(name).getName).toPath, bytes); ()
    }
  }

  override def readPartition(hostPath: File): Iterator[(String, Array[Byte])] = {
    val files = Option(hostPath.listFiles()).getOrElse(Array.empty[File])
    files.sortBy(_.getName).iterator.filter(_.isFile).map { f =>
      (f.getName, Files.readAllBytes(f.toPath))
    }
  }
}
