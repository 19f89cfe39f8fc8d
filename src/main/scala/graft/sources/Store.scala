package graft.sources

import java.io.{File, IOException}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

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
  * protocol, the same rename-aside idea as [[Layout.compact]]'s swap:
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
  * Reads go through [[read]] (`recursiveFileLookup`), which sees the flat
  * base files plus every COMMITTED delta directory and nothing else.
  *
  * Maintenance: each admit adds one delta directory, forever — the classic
  * small-file death of exactly this design at production volume (per-file
  * open/footer cost dominating the scan). [[maintain]] triggers a
  * [[compact]] rewrite once the committed-delta count reaches a threshold,
  * folding all deltas into a flat base again; stores whose rows sum-merge
  * on read (the anomaly delta store) pass a `rewrite` that pre-merges
  * during the rewrite, shrinking rows as well as files. The swap itself is
  * [[Layout.promote]]'s rename-aside, so the live data exists at every
  * step boundary. On a real deployment a transactional table format
  * (commit log + snapshot isolation) replaces this file-level protocol;
  * the operator contracts above it are unchanged.
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

  /** Read the store: flat base files plus every committed delta directory.
    * Hidden (`.`/`_`-prefixed) paths — staged batches, commit markers —
    * are filtered by Spark's file listing. `mergeSchema` makes schema
    * EVOLUTION across admits deterministic: without it Spark infers the
    * schema from one sampled footer, so an operator upgrade that adds a
    * column to new deltas would surface or silently drop that column
    * depending on file-listing order; with it the union schema is read
    * every time and pre-upgrade rows carry NULLs (spec-pinned). The
    * footer-merge cost is bounded by the maintenance compaction's file
    * ceiling. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("recursiveFileLookup", "true")
      .option("mergeSchema", "true")
      .parquet(dir)

  /** [[read]] for BOUNDED stores (r14): the live file set is listed
    * driver-side and read through the driver-statted path — same union
    * schema, same rows, minus the distributed listing job and the
    * mergeSchema footer-merge job `read` pays per DataFrame construction.
    * Every incremental operator's admit/serve read is per-micro-batch or
    * per-query, so those two scheduler round-trips dominated bounded
    * stores (the r13 finding for the index layers, extended here to the
    * operator stores). Above 256 files — or for a store mid-bootstrap —
    * the distributed listing/merge is kept: a 10^6-file store must not
    * serialize its footer reads through the driver. */
  def readBounded(spark: SparkSession, dir: String): DataFrame = {
    val lf = liveFiles(dir)
    if (lf.nonEmpty && lf.size <= 256) readFiles(spark, lf)
    else read(spark, dir)
  }

  /** Read exactly `files` presenting the union of THEIR schemas — the
    * bounded-candidate serve read (r13 optimization). Result-equivalent
    * to a `mergeSchema` read of the same list, but the union schema is
    * merged DRIVER-side from the parquet footers
    * ([[org.apache.spark.sql.GraftBridge.mergedParquetSchema]], tails
    * only) instead of by the distributed footer-merge job Spark launches
    * per mergeSchema DataFrame construction — a scheduler round trip
    * that dominated bounded point lookups (the job to merge 2 footers
    * cost more than the candidate scan). Above `maxDriverFooters` the
    * distributed merge is kept: a huge candidate list must not serialize
    * its footer reads through the driver (object-store GETs especially —
    * size the threshold down when footer reads are remote). */
  private[graft] def readFiles(spark: SparkSession, files: Seq[String],
      maxDriverFooters: Int = 256): DataFrame =
    if (files.nonEmpty && files.size <= maxDriverFooters)
      // driver-statted file index (r13): a plain spark.read.parquet(files)
      // would RE-LIST every path it was just handed — a distributed job
      // once the list passes the parallel-discovery threshold (32)
      org.apache.spark.sql.GraftBridge.readParquetFiles(spark, files,
        org.apache.spark.sql.GraftBridge.mergedParquetSchema(spark, files))
    else spark.read.option("mergeSchema", "true").parquet(files: _*)

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
    * building a DataFrame: `read`'s mergeSchema option launches a
    * distributed footer-merge job on every call, which a serving point
    * lookup cannot afford just to learn the live file NAMES. Mirrors
    * Spark's listing rule (every non-hidden FILE under `dir`,
    * recursively; `.`/`_`-prefixed names skipped at every level) and
    * renders paths exactly like `DataFrame.inputFiles` does, so set
    * comparisons against index stats hold. */
  private[graft] def liveFiles(dir: String): Seq[String] = {
    def walk(f: File): Iterator[File] = {
      val kids = f.listFiles()
      if (kids == null) Iterator.empty
      else kids.iterator
        .filter(k => !k.getName.startsWith(".") && !k.getName.startsWith("_"))
        .flatMap(k => if (k.isFile) Iterator.single(k) else walk(k))
    }
    walk(new File(dir))
      .map(k => new org.apache.hadoop.fs.Path(k.toURI).toString).toSeq
  }

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
    * is range-partitioned and sorted on those columns (the
    * [[Layout.writeClustered]] shape) instead of bin-packed — so a store
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
      // bounded stores read through the driver-statted path (r13): same
      // union schema, same file set as read(), minus the mergeSchema
      // footer-merge job and the listing job a maintenance cycle paid per
      // rewrite; huge stores keep the distributed listing/merge
      val lf = liveFiles(dir)
      val image =
        if (lf.nonEmpty && lf.size <= 256) readFiles(spark, lf)
        else read(spark, dir)
      compactImage(spark, dir, image, numFiles, rewrite,
        clusterBy, zOrder)
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
  // anti-join live tombstones; [[compactWithDeletes]] physically drops
  // tombstoned rows in the rewrite and RETIRES the consumed tombstone
  // deltas (their `.admitted-` markers stay, so a replayed delete remains
  // a no-op forever). Semantics are takedown semantics: a key is
  // suppressed from the instant its delete commits until the compaction
  // consumes the tombstone; a batch RE-ADMITTING the key before that
  // compaction is suppressed too (the ban is by key, not by row), while
  // re-admission after it is visible. Bloom/zone indexes stay
  // conservative — a tombstoned key may still probe "maybe" and read its
  // (dropped or suppressed) files: pruning degrades, correctness never;
  // route index lookups over a store with deletes through
  // [[suppressDeleted]].

  /** The sibling tombstone store for `dir`. Delta-only by construction:
    * it is never self-compacted — retirement at [[compactWithDeletes]]
    * removes consumed delta dirs, which bounds it by the delete traffic
    * of one data-compaction cycle. */
  def tombstoneDir(dir: String): String = dir + ".tombstones"

  /** The `delta-<id>` segment of a store FILE path, parsed relative to
    * the store layout instead of scanning the whole path: a
    * `find(_.startsWith("delta-"))` over every segment would bind to an
    * ANCESTOR directory that happens to be named `delta-*` (plausible in
    * a lake path, e.g. `/lake/delta-bronze/store/...`), mapping every
    * file to that segment — tombstone retirement would then never match
    * a real delta dir and re-admitted keys would stay suppressed forever.
    * A store file is `<store>/<file>` or `<store>/delta-<id>/<file>`, so
    * the delta segment, when present, is exactly the file's PARENT
    * component with the store dir as grandparent. */
  private[graft] def deltaSegment(storeDir: String, p: String): Option[String] = {
    val segs = p.split('/').filter(_.nonEmpty)
    val storeName = new File(storeDir).getName
    if (segs.length >= 3 && segs(segs.length - 2).startsWith("delta-") &&
        segs(segs.length - 3) == storeName)
      Some(segs(segs.length - 2))
    else None
  }

  // The tombstone key column is recorded DURABLY in a sidecar (published
  // by atomic rename — exactly one creator wins and readers only ever see
  // full bytes), not inferred from whichever deltas are
  // currently live: two concurrent FIRST deletes with different column
  // names would otherwise both pass the hasData() check and admit a
  // mixed-schema tombstone store, where antiTombstones' columns.head picks
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

  private def antiTombstones(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val tsd = tombstoneDir(dir)
    if (!hasData(tsd)) df
    else {
      val ts = read(spark, tsd)
      require(ts.columns.length == 1,
        s"tombstone store $tsd has a mixed schema ${ts.columns.toSeq} — " +
          "bans in a non-head column would read as NULL keys and be " +
          "silently skipped by the anti join; refusing to serve")
      val kc = ts.columns.head
      require(df.columns.contains(kc),
        s"frame lacks the tombstone key column '$kc' of store $dir")
      // tombstone key sets are takedown-list-sized; the planner sees the
      // parquet byte size and auto-broadcasts under the threshold, and a
      // pathologically large delete backlog degrades to a shuffled anti
      // join rather than a forced-broadcast OOM
      df.join(ts.select(ts.col(kc)).distinct(), Seq(kc), "left_anti")
    }
  }

  /** [[read]] minus live tombstones — what a consumer of a store with
    * deletes must read. Equal to [[read]] once [[compactWithDeletes]]
    * consumed every tombstone. */
  def readLive(spark: SparkSession, dir: String): DataFrame =
    antiTombstones(spark, dir, read(spark, dir))

  /** Apply a store's live tombstones to an arbitrary frame — composition
    * point for the index lookups ([[BloomIndex.lookupIndexed]],
    * [[ZoneMaps.lookupRangeIndexed]]), whose file pruning is conservative
    * w.r.t. deletes but whose ROWS must still be suppressed until the
    * deleting compaction runs. */
  def suppressDeleted(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    antiTombstones(spark, dir, df)

  /** [[compact]] that also applies and consumes tombstones: the rewrite
    * anti-joins the FROZEN tombstone image (drop precedes the caller's
    * `rewrite`, so a sum-merge never re-aggregates banned rows), and after
    * the swap promotes, the consumed tombstone deltas are retired —
    * physically dropped rows need no further suppression, and a key
    * re-admitted later is visible again. Tombstones admitted WHILE the
    * rewrite runs are not in the frozen image: they stay live (reads keep
    * suppressing) and the next cycle consumes them. A crash between the
    * swap and the retire only re-applies consumed tombstones to already-
    * dropped rows — a no-op; the retire is retried next cycle. */
  def compactWithDeletes(spark: SparkSession, dir: String, numFiles: Int = 8,
      rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false): Unit =
    withCompactionLease(dir) {
      recoverStale(dir)
      sweepStaleStaging(dir)
      val tsd = tombstoneDir(dir)
      if (!hasData(tsd))
        compactImage(spark, dir, read(spark, dir), numFiles, rewrite,
          clusterBy, zOrder)
      else {
        val ts = read(spark, tsd)
        val kc = ts.columns.head
        // frozen at the image's own file index — the same no-loss
        // reasoning as compactImage's includedIds
        val consumed: Seq[String] = ts.inputFiles.flatMap(p =>
          deltaSegment(tsd, p)).distinct.toSeq
        val keys = ts.select(ts.col(kc)).distinct()
        compactImage(spark, dir, read(spark, dir), numFiles,
          img => rewrite(img.join(keys, Seq(kc), "left_anti")),
          clusterBy, zOrder)
        // retire consumed tombstone deltas; their .admitted- markers stay,
        // so a replayed deleteByKeys(id) is a no-op forever
        consumed.foreach(d => rm(new File(tsd, d)))
      }
    }

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
      def parquetBytes(f: File): Long =
        if (f.isFile) f.length()
        else {
          val kids = f.listFiles()
          if (kids == null) 0L
          else kids.iterator.filter(k => k.isFile && k.getName.endsWith(".parquet"))
            .map(_.length()).sum
        }
      val foldedBytes = (deltas ++ foldBase).map(parquetBytes).sum
      val foldedFiles = deltas.map(d => {
        val kids = d.listFiles()
        if (kids == null) 0 else kids.count(k => k.getName.endsWith(".parquet"))
      }).sum + foldBase.length
      if (deltas.isEmpty && foldBase.isEmpty)
        SelectiveCompaction(0, 0, keep.length, 0L)
      else {
        // explicit fold-set file list (r13): the fold members are already
        // known driver-side, so a bounded fold reads them through the
        // driver-statted path — no listing job, no footer-merge job. The
        // per-delta listing is [[liveFiles]] — RECURSIVE and hidden-aware,
        // exactly the file set the >256-file recursiveFileLookup fallback
        // (and Store.read) sees — so a nested directory or an oddly-named
        // data file inside a delta can never be silently excluded from the
        // rewrite image by the bounded path alone (ADVICE r13).
        val foldFiles: Seq[String] = (deltas.toSeq.flatMap(d =>
          liveFiles(d.getAbsolutePath)) ++
          foldBase.toSeq.map(f =>
            new org.apache.hadoop.fs.Path(f.toURI).toString))
        val image =
          if (foldFiles.nonEmpty && foldFiles.size <= 256)
            readFiles(spark, foldFiles)
          else spark.read
            .option("recursiveFileLookup", "true")
            .option("mergeSchema", "true")
            .parquet((deltas ++ foldBase).map(_.getAbsolutePath).toSeq: _*)
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
    * the Store-side sibling of [[Layout.compactToFileSize]], summing
    * bytes RECURSIVELY because that is exactly the file set [[read]]
    * lists and [[compact]]'s rewrite folds (the flat base plus every
    * committed `delta-*`; hidden staging/marker entries excluded). The
    * estimate is pre-rewrite bytes — a rewrite that drops rows (TTL,
    * version prune) or re-compresses lands smaller; a second maintenance
    * pass converges, and the knob's job is file-count economics, not byte
    * precision. Returns the derived count. */
  def compactToFileSize(spark: SparkSession, dir: String, targetBytes: Long,
      rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false): Int = {
    require(targetBytes > 0)
    def bytes(f: File): Long = {
      val kids = f.listFiles()
      if (kids == null) 0L
      else kids.iterator.filterNot(k =>
        k.getName.startsWith(".") || k.getName.startsWith("_")).map { k =>
        if (k.isDirectory) bytes(k)
        else if (k.getName.endsWith(".parquet")) k.length()
        else 0L
      }.sum
    }
    val total = bytes(new File(dir))
    val numFiles = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
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
      else {
        // order-preserving rewrite: range slices + in-file sort, so the
        // compacted files keep narrow key ranges and zone-map/footer
        // pruning survives the maintenance cycle — here the shuffle IS the
        // product (the re-clustering), priced once per maintenance epoch
        import org.apache.spark.sql.functions.{col, min, max}
        val zRanges: Option[Seq[(org.apache.spark.sql.Column, Double, Double)]] =
          if (!zOrder) None
          else {
            // one tiny agg for the bucket ranges (2k doubles to the driver
            // — the same bound as Layout.writeZOrdered's stats pass)
            val stats = shaped.select(clusterBy.flatMap(c =>
              Seq(min(col(c)).cast("double"), max(col(c)).cast("double"))): _*)
              .collect().head
            val rs = clusterBy.zipWithIndex.map { case (c, i) =>
              if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) None
              else Some((col(c), stats.getDouble(2 * i), stats.getDouble(2 * i + 1)))
            }
            if (rs.forall(_.isDefined)) Some(rs.map(_.get))
            else {
              log.warn(s"zOrder compaction of $dir: a clusterBy column has " +
                "no non-null values to bucket; falling back to the " +
                "lexicographic clustered rewrite")
              None
            }
          }
        zRanges match {
          case Some(ranges) if numFiles > 1 =>
            val zc = s"__z_${UUID.randomUUID().toString.take(8)}"
            shaped.withColumn(zc, Layout.zValue(ranges))
              .repartitionByRange(numFiles, col(zc))
              .sortWithinPartitions(col(zc))
              .drop(zc)
          case Some(ranges) =>
            // single-file fold: a range "partitioning" into 1 slice is a
            // SinglePartition EXCHANGE — the whole folded image funneled
            // through one network task. coalesce(1) + in-file sort writes
            // the identical single sorted file with zero shuffle.
            val zc = s"__z_${UUID.randomUUID().toString.take(8)}"
            shaped.withColumn(zc, Layout.zValue(ranges))
              .coalesce(1)
              .sortWithinPartitions(col(zc))
              .drop(zc)
          case None =>
            val cols = clusterBy.map(col)
            if (numFiles > 1)
              shaped.repartitionByRange(numFiles, cols: _*)
                .sortWithinPartitions(cols: _*)
            else
              // same reasoning as the zOrder single-file case above
              shaped.coalesce(1).sortWithinPartitions(cols: _*)
        }
      }
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
      Layout.promote(tmp, dir, salvage = (bak, image) => {
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
    * row (sum-merge pre-aggregation). */
  def maintain(spark: SparkSession, dir: String, every: Int = 16,
      numFiles: Int = 8, rewrite: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false,
      minFileBytes: Long = 0L): Unit =
    if (every > 0 && deltaCount(dir) >= every) {
      if (minFileBytes > 0)
        compactSelective(spark, dir, minFileBytes, rewrite = rewrite,
          clusterBy = clusterBy, zOrder = zOrder): Unit
      else compact(spark, dir, numFiles, rewrite, clusterBy, zOrder)
    }
}
