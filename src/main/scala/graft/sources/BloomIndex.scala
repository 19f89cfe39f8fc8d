package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomSketch

/** File-level Bloom-filter index — data skipping for POINT LOOKUPS on
  * high-cardinality keys, the case zone maps cannot serve.
  *
  * [[ZoneMaps]] prune on per-file `[min, max]` ranges, which works iff the
  * layout correlates the column with file boundaries AND the predicate is
  * a range. An equality probe on a high-cardinality key (order id, doc id,
  * user id) against an UNCLUSTERED layout defeats ranges completely —
  * every file's min/max straddles every key. A per-file Bloom filter
  * answers "which files might contain THIS key" regardless of layout:
  * expected files read = (files actually holding the key) + fpp x |files|,
  * against a full-directory scan otherwise. This is the Parquet
  * bloom-filter / Delta deletion-vector-lookup idea with the stats held
  * OUTSIDE the data files, so deciding "which files?" costs one scan of a
  * |files|-row metadata table instead of one footer GET per file.
  *
  * Scale discipline (the part that matters at 100 TB):
  *  - STATS are one distributed pass grouped by `_metadata.file_path`;
  *    the shuffle carries partially-merged filters, |files|-scale, never
  *    rows.
  *  - PROBE never collects filters by default: blooms can be ~100 KB each
  *    (a million files -> ~100 GB — driver-fatal, unlike zone maps'
  *    ~100 B rows), so the membership test runs as a DISTRIBUTED filter
  *    over the stats table and only the surviving file NAMES come back to
  *    the driver — bounded by true hits + fpp stragglers, not by |files|.
  *    The one exception is the SERVE CACHE (see its section below): stats
  *    stores under a declared byte budget may pin their deserialized
  *    filters driver-side for point-lookup latency — the same
  *    bounded-driver-object discipline as the IVF codebook.
  *  - Keys are pre-hashed with codegen'd `xxhash64` on both sides, so the
  *    aggregate and probe are monomorphic longs and the filter never
  *    stores raw key bytes. */
object BloomIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Stats-table output file count sized from its predicted BYTE volume
    * (|dataFiles| rows x one serialized bloom each), not a hardcoded 1:
    * at the design point of 10^6 files x ~100 KB blooms a coalesce(1)
    * write is a ~100 GB single task. The bloom's serialized size is a
    * pure function of (expectedItems, fpp) — priced ARITHMETICALLY with
    * the same formula `BloomFilter.optimalNumOfBits` uses (bits =
    * -n*ln(p)/ln(2)^2, rounded up to the 64-bit words the bit array
    * allocates): creating a throwaway filter just to read bitSize()
    * would materialize the whole bit array on the driver (~1.2 GB at
    * expectedPerFile=1e9, fpp=0.01) on every admit/heal. Parity with the
    * allocated size is spec-pinned across the (n, fpp) grid. */
  private[graft] def statsNumFiles(nDataFiles: Int, expectedPerFile: Long,
      fpp: Double, targetBytes: Long = 64L << 20): Int = {
    val optBits = math.max(1L,
      (-expectedPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bytesPerRow = ((optBits + 63) / 64) * 64 / 8 + 64
    math.max(1L, (nDataFiles.toLong * bytesPerRow + targetBytes - 1)
      / targetBytes).toInt
  }

  // ── The index face: a bloom-indexed Store ──────────────────────────────
  //
  // Composition with [[Store]]'s crash-safe admission through the shared
  // [[StatsIndex]] protocol: each admitted delta carries its per-file
  // blooms into a SIBLING stats store; a live data file the stats do not
  // cover is read unconditionally; maintainIndex heals both directions.

  /** `_metadata.file_path` and `DataFrame.inputFiles` render the SAME file
    * as different URI strings (`file:///x` vs `file:/x`); every path that
    * crosses an index boundary goes through Hadoop's Path canonicalizer so
    * set comparisons mean what they say. */
  private[graft] def canonPath(s: String): String = {
    // inputFiles percent-ENCODES ("my%20store") while raw path strings may
    // carry literal spaces that make URI parsing throw: decode through URI
    // when the string parses as one, fall back to Hadoop's lenient Path
    // parsing otherwise. The decoded form is what spark.read accepts back.
    val p =
      try new org.apache.hadoop.fs.Path(new java.net.URI(s))
      catch { case _: Exception => new org.apache.hadoop.fs.Path(s) }
    p.toString
  }
  private[graft] val canonPathUdf = udf(canonPath _)

  /** The index face's stats function: per-file row count + Bloom filter
    * of `xxhash64(keyCols)` for exactly `files`, in one distributed pass
    * grouped by `_metadata.file_path`, written in [[statsNumFiles]] files.
    *
    * `expectedPerFile` declares the filter size (bits are fixed at
    * creation): size it to the layout's target rows-per-file. Oversizing
    * wastes ~1.2 KB per 1000 declared items at 1% fpp; undersizing only
    * degrades the false-positive rate — a bloom's "definitely absent" is
    * unconditional, so pruning stays CORRECT either way. */
  private def fileStats(spark: SparkSession, keyCols: Seq[String],
      expectedPerFile: Long, fpp: Double)(files: Seq[String]): DataFrame =
    Store.readFiles(spark, files)
      // xxhash64 is variadic: a composite key hashes all components in one
      // codegen'd pass — no struct allocation, no string concat
      .select(col("_metadata.file_path").as("raw"),
        xxhash64(keyCols.map(col): _*).as("h"))
      .groupBy(col("raw"))
      .agg(count(lit(1)).as("n_rows"),
        BloomSketch.bloomAgg(col("h"), expectedPerFile, fpp).as("bloom"))
      // canonicalize AFTER the agg: the udf runs once per FILE, not per row
      .select(canonPathUdf(col("raw")).as("file"), col("n_rows"), col("bloom"))
      .coalesce(statsNumFiles(files.length, expectedPerFile, fpp))

  // ── Composite-key contract ─────────────────────────────────────────────
  //
  // The index's key columns are recorded in a SIBLING sidecar
  // (`<statsDir>.keycols` — outside the stats store, so its compaction
  // swap never moves it). Probes verify against it: an arity or name
  // mismatch would hash differently and WRONGLY prune every file, so it
  // must be rejected loudly, never guessed. A store that predates the
  // sidecar is single-column by construction (composite keys arrived with
  // the sidecar): single-column probes are accepted, composite rejected.
  // The sidecar is created BEFORE the first stats row exists — a crash
  // before it leaves the stats store empty, which lookups treat as
  // "no index" (full scan, correct).

  private def keyColsFile(statsDir: String) =
    new java.io.File(statsDir + ".keycols")

  private def ensureKeyCols(statsDir: String, keyCols: Seq[String]): Unit = {
    val want = keyCols.mkString(",")
    // published once (r14): concurrent admits are legal — the Store
    // protocol is built for them — so the sidecar must appear with its
    // bytes or not at all, and the rename-race loser verifies the winner's
    val got = Store.publishOnce(keyColsFile(statsDir), want)
    require(got == want,
      s"index at $statsDir is keyed by ($got), not ($want)")
  }

  private def verifyKeyCols(statsDir: String, keyCols: Seq[String]): Unit = {
    val f = keyColsFile(statsDir)
    if (f.exists()) {
      val got = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      require(got == keyCols.mkString(","),
        s"index at $statsDir is keyed by ($got), not " +
          s"(${keyCols.mkString(",")}) — a mismatched probe hashes " +
          "differently and would wrongly prune every file")
    } else require(keyCols.size == 1,
      s"index at $statsDir predates composite keys (no sidecar): only " +
        "single-column probes are accepted")
  }

  /** Admit `df` into the data Store AND its per-file blooms into the
    * sibling stats Store, both under the same idempotency id (replays
    * no-op on both sides; a replay that finds the data admitted but the
    * stats missing — the crash window — heals the stats). Returns whether
    * this call admitted the data batch. */
  def admitIndexed(df: DataFrame, dataDir: String, statsDir: String,
      keyCol: String, id: String, expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Boolean =
    admitIndexedMulti(df, dataDir, statsDir, Seq(keyCol), id,
      expectedPerFile, fpp)

  /** [[admitIndexed]] with a COMPOSITE key: the per-file bloom holds
    * `xxhash64(c1, c2, ...)` — production point lookups are often
    * multi-column (e.g. (orderkey, linenumber)). The key columns are
    * recorded in the sidecar and every probe must match them exactly. */
  def admitIndexedMulti(df: DataFrame, dataDir: String, statsDir: String,
      keyCols: Seq[String], id: String, expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Boolean = {
    require(keyCols.nonEmpty, "at least one key column")
    ensureKeyCols(statsDir, keyCols)
    index.admit(df, dataDir, statsDir, id)(
      fileStats(df.sparkSession, keyCols, expectedPerFile, fpp))
  }

  // ── Serve cache: driver-resident stats for point-lookup latency ───────
  //
  // The distributed probe is the 100 TB-safe default, but a SERVING
  // deployment answering point lookups pays a full Spark job per probe
  // just to decide "which files?" — a scheduler round-trip in front of
  // every lookup (bench p50 was ~0.5 s). Stats stores under the
  // [[ServeCache]] budget keep their DESERIALIZED filters on the driver
  // and probes whose keys are known on the driver test them in-process;
  // over budget, or with non-literal probe keys, [[decide]] runs the
  // distributed pass. Spec: ServeCacheSpec.

  private val serveCache = new ServeCache[Map[String, BloomFilter]]

  private val index = new StatsIndex("bloom", "bloom-", serveCache)

  /** Spec-visible number of stats stores the serve cache holds. */
  private[graft] def cachedStores: Int = serveCache.size

  /** xxhash64 of the probe tuple computed in-process — only when every
    * key is a foldable deterministic literal (the serving case);
    * expression-valued probes fall back to the distributed pass. Hashes
    * EXACTLY like the admission side's `xxhash64(cols)`: the same
    * catalyst XxHash64, seed 42. */
  private def literalHash(spark: SparkSession, keys: Seq[Column]): Option[Long] = {
    val exprs =
      try keys.map(k =>
        org.apache.spark.sql.GraftBridge.resolvedExpression(spark, k))
      catch { case scala.util.control.NonFatal(_) => return None }
    if (exprs.forall(e => e.resolved && e.foldable && e.deterministic))
      try Some(new org.apache.spark.sql.catalyst.expressions.XxHash64(exprs)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long])
      catch { case scala.util.control.NonFatal(_) => None }
    else None
  }

  /** The per-file decision of every read face: `k` flags per LIVE data
    * file. A covered file's bloom answers them; an uncovered file (crash
    * window, or renamed by compaction) flags all `k` and is read
    * unconditionally; stats rows for dead files are ignored. A heal
    * racing an admit can leave two stats rows for one file: their flags
    * are OR-merged (either row alone is correct — disagreement is only an
    * fpp straggler, and OR keeps the conservative side).
    *
    * `probe` tests one filter in-process, and is given only when the keys
    * are known on the driver: under the [[ServeCache]] budget it runs over
    * the cached filters, with no Spark job. Otherwise `flags`, the same
    * test as an `array<boolean>` over the stats table's `bloom` column,
    * runs distributed against the live listing, and only files with a
    * true flag come back — true hits + fpp stragglers + uncovered, never
    * an |files| flag list. Returns the surviving `(file, flags)`, sorted
    * by file. */
  private def decide(spark: SparkSession, statsDir: String, live: Set[String],
      k: Int, probe: Option[BloomFilter => Seq[Boolean]], flags: Column)
      : Seq[(String, Seq[Boolean])] = {
    import spark.implicits._
    val all = Seq.fill(k)(true)
    def served = probe.flatMap(p => serveCache.get(statsDir) {
      // the refresh pays ONE collect job (a bounded Store.read merges
      // footers on the driver); of duplicate rows for one file, the map
      // keeps one, which alone is correct
      Store.read(spark, statsDir).select(col("file"), col("bloom"))
        .as[(String, Array[Byte])].collect().iterator.map { case (f, b) =>
          f -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
        }.toMap
    }.map(blooms => live.toSeq.map(f => f -> blooms.get(f).fold(all)(p))))
    def distributed =
      live.toSeq.toDF("file")
        .join(Store.read(spark, statsDir).select(col("file"), flags.as("flags")),
          Seq("file"), "left_outer")
        .select(col("file"),
          coalesce(col("flags"), array_repeat(lit(true), lit(k))).as("flags"))
        .filter(exists(col("flags"), identity))
        .as[(String, Seq[Boolean])].collect().toSeq
    // no stats yet (a store mid-bootstrap): every live file is uncovered
    val rows =
      if (!Store.hasData(statsDir)) live.toSeq.map(_ -> all)
      else served.getOrElse(distributed)
    rows.filter(_._2.contains(true))
      .groupMapReduce(_._1)(_._2)((a, b) => a.lazyZip(b).map(_ || _))
      .toSeq.sortBy(_._1)
  }

  /** Point lookup over a bloom-indexed Store ([[decide]], one flag per
    * live file). Returns the filtered frame plus (filesRead, filesTotal).
    * The equality predicate is still applied (and still pushes down to
    * parquet row groups): a bloom's "maybe" is never trusted as a hit.
    *
    * `key` must be a literal/column of the SAME type as the indexed
    * column — `xxhash64` is type-aware, so an int probe of a long-keyed
    * index would hash differently and (correctly but uselessly) prune
    * everything. */
  def lookupIndexed(spark: SparkSession, dataDir: String, statsDir: String,
      keyCol: String, key: Column): (DataFrame, (Int, Int)) =
    lookupIndexedMulti(spark, dataDir, statsDir, Seq(keyCol), Seq(key))

  /** [[lookupIndexed]] with a COMPOSITE key: `keys` are the probe values
    * ordered exactly as the index's key columns (sidecar-verified — a
    * mismatched arity or order is rejected, never guessed). Values must
    * have the indexed columns' exact types: xxhash64 is type-aware. */
  def lookupIndexedMulti(spark: SparkSession, dataDir: String,
      statsDir: String, keyCols: Seq[String], keys: Seq[Column])
      : (DataFrame, (Int, Int)) = {
    require(keys.size == keyCols.size,
      s"probe arity ${keys.size} != key columns ${keyCols.size}")
    verifyKeyCols(statsDir, keyCols)
    // |files|-bounded driver-side listing of names only; everything FROM
    // here is survivor-bounded
    val live = Store.liveFiles(dataDir).toSet
    val files = decide(spark, statsDir, live, 1,
      literalHash(spark, keys).map(h => (b: BloomFilter) => Seq(b.mightContainLong(h))),
      array(BloomSketch.mightContain(col("bloom"), xxhash64(keys: _*)))).map(_._1)
    val pred = keyCols.lazyZip(keys).map((c, k) => col(c) === k)
      .reduce(_ && _)
    // fallback schema frame is BY-NAME: only built (and only then merging
    // the store's schemas) when the candidate set is empty
    val df = Store.readCandidates(spark, files, pred,
      emptyFrom = Store.read(spark, dataDir))
    (df, (files.length, live.size))
  }

  /** Batched point lookup over a bloom-indexed Store: ONE decision over
    * the stats ([[decide]], one flag per key) for ALL K keys — production
    * lookup traffic arrives in batches, and K sequential [[lookupIndexed]]
    * calls pay K stats-table scans (and K bloom deserializations per stats
    * row) for what one array-probe pass answers. Each filter is probed
    * with the whole key batch ([[graft.functions.BloomContainsFlags]] on
    * the distributed pass).
    *
    * Returns (rows matching ANY key, per-key candidate files indexed like
    * `keys` — the attribution a lookup router needs to dispatch each key
    * to its files, each entry a subset of that key's single-lookup
    * candidates — and (filesRead, filesTotal)). */
  def lookupIndexedBatch(spark: SparkSession, dataDir: String,
      statsDir: String, keyCol: String, keys: Seq[Column])
      : (DataFrame, Seq[Seq[String]], (Int, Int)) = {
    require(keys.nonEmpty, "at least one lookup key")
    verifyKeyCols(statsDir, Seq(keyCol))
    // driver-side listing, same rationale as lookupIndexedMulti's
    val live = Store.liveFiles(dataDir).toSet
    val hashes = keys.map(key => literalHash(spark, Seq(key)))
    val survivors = decide(spark, statsDir, live, keys.length,
      Option.when(hashes.forall(_.isDefined))(hashes.flatten)
        .map(hs => (b: BloomFilter) => hs.map(b.mightContainLong)),
      BloomSketch.containsFlags(col("bloom"), array(keys.map(xxhash64(_)): _*)))
    val perKey: Seq[Seq[String]] = keys.indices.map(i =>
      survivors.collect { case (f, flags) if flags(i) => f })
    val pred = keys.map(key => col(keyCol) === key).reduce(_ || _)
    val df = Store.readCandidates(spark, survivors.map(_._1), pred,
      emptyFrom = Store.read(spark, dataDir))
    (df, perKey, (survivors.length, live.size))
  }

  /** Join-driven file pruning (dynamic file skipping) — the star-join
    * shape q32's runtime row-group filter and q82's literal-key file
    * skipping both stop short of: prune the FACT side's FILE SET from a
    * selective DIM side's key set BEFORE the join ever scans. At 10^6
    * fact files a 0.1%-selective dim turns "list and open everything"
    * into "open the files that can possibly hold a matching key" — the
    * Delta/Iceberg dynamic-file-pruning idea served from the store's own
    * bloom stats instead of a table-format commit log.
    *
    * Protocol: the dim keys are hashed DISTRIBUTED (one tiny job — the
    * same `xxhash64` the index was built with, so `dimKeys`' column must
    * have the fact key column's exact type; a mismatch would hash
    * differently and wrongly prune everything, which is why it is
    * require()d away), collected under `maxKeys` (the DPP broadcast-side
    * bound — this is the same order as the hashes a broadcast join would
    * ship anyway), and tested against every covered file's bloom in one
    * [[decide]] (one flag: might the file hold ANY dim key) — in-process
    * over the serve cache when warm, else one stats pass
    * ([[graft.functions.BloomMightContainAny]]: one filter
    * deserialization per stats row, short-circuit across the key batch).
    * Uncovered live files are kept unconditionally; a dim side wider
    * than `maxKeys` skips pruning entirely (logged) — both degrade to
    * scanning, never to a wrong join.
    *
    * Returns the fact scan restricted to surviving files — UNfiltered by
    * key, so the caller's join (or IN) applies the exact predicate — plus
    * (filesRead, filesTotal). Result-invisible by the bloom contract: a
    * pruned file definitely holds no dim key, so no join row is lost. */
  def prunedJoinScan(spark: SparkSession, dataDir: String, statsDir: String,
      factKeyCol: String, dimKeys: DataFrame, maxKeys: Int = 65536)
      : (DataFrame, (Int, Int)) = {
    import spark.implicits._
    require(dimKeys.columns.length == 1,
      s"dimKeys must be the single join-key column, got ${dimKeys.columns.toSeq}")
    verifyKeyCols(statsDir, Seq(factKeyCol))
    val live = Store.liveFiles(dataDir).toSet
    // a bounded store's schema is merged on the driver, with no job
    val dataSchema = Store.read(spark, dataDir).schema
    val factType = dataSchema(factKeyCol).dataType
    val dimType = dimKeys.schema.head.dataType
    require(dimType == factType,
      s"dim key type ${dimType.simpleString} must equal fact key column " +
        s"'$factKeyCol' type ${factType.simpleString}: xxhash64 is " +
        "type-aware and a mismatch would (wrongly) prune every file")
    val hashes: Array[Long] = dimKeys
      .select(xxhash64(col(dimKeys.columns.head)).as("h"))
      .distinct().limit(maxKeys + 1)
      .as[Long].collect()
    val files: Seq[String] =
      if (hashes.isEmpty) Nil
      else if (hashes.length > maxKeys) {
        log.info(s"dim side exceeds maxKeys=$maxKeys distinct keys; " +
          "skipping file pruning (full fact scan, correct join)")
        live.toSeq.sorted
      } else decide(spark, statsDir, live, 1,
        Some(b => Seq(hashes.exists(b.mightContainLong))),
        array(BloomSketch.mightContainAny(col("bloom"), lit(hashes)))).map(_._1)
    val df =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          dataSchema)
      else Store.readFiles(spark, files)
    (df, (files.length, live.size))
  }

  /** Streaming face: the SAME admission as [[admitIndexed]] through
    * [[Store.admissionSink]] — a replayed micro-batch re-admits nothing on
    * either store, and a replay that finds the data committed but the
    * stats missing heals them (the index's own crash window is covered by
    * the same id). */
  def streamingAdmission(rows: DataFrame, dataDir: String, statsDir: String,
      keyCol: String, expectedPerFile: Long = 100000L, fpp: Double = 0.01)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(rows, "bl") { (batch, id) =>
      admitIndexed(batch, dataDir, statsDir, keyCol, id, expectedPerFile, fpp): Unit
    }

  /** Admit-count-triggered maintenance for a bloom-indexed Store — the
    * [[Store.maintain]] one-call-per-admit story, index included: once
    * `every` deltas have committed, compact the data store (bin-pack by
    * default; the bloom face is layout-independent, so pass `clusterBy`
    * only when the SAME store also serves range scans) and immediately
    * heal the index, so the uncovered window after a compaction lasts one
    * heal instead of waiting for an operator. Call after each
    * [[admitIndexed]]. */
  def maintainIndexed(spark: SparkSession, dataDir: String, statsDir: String,
      keyCol: String, every: Int = 16, numFiles: Int = 8,
      clusterBy: Seq[String] = Nil, zOrder: Boolean = false,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01,
      minFileBytes: Long = 0L): Unit =
    // minFileBytes > 0: selective fold — full-sized files keep their
    // NAMES, so their bloom stats stay valid and the heal only builds
    // filters for the folded output
    if (Store.maintain(spark, dataDir, every, numFiles, clusterBy = clusterBy,
        zOrder = zOrder, minFileBytes = minFileBytes))
      maintainIndex(spark, dataDir, statsDir, keyCol, expectedPerFile, fpp)

  /** Heal the index: build blooms for live-but-uncovered data files (one
    * pass over just those files) and compact the stats store down to rows
    * whose file still exists. Run after [[Store.compact]] on the data
    * store — compaction renames every file, so until this runs lookups
    * fall back to full scans (correct, unpruned). */
  def maintainIndex(spark: SparkSession, dataDir: String, statsDir: String,
      keyCol: String, expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit =
    maintainIndexMulti(spark, dataDir, statsDir, Seq(keyCol),
      expectedPerFile, fpp)

  /** [[maintainIndex]] for a composite-keyed index (sidecar-verified so a
    * heal can never rebuild stats under the wrong hash). */
  def maintainIndexMulti(spark: SparkSession, dataDir: String,
      statsDir: String, keyCols: Seq[String],
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    if (Store.hasData(statsDir)) verifyKeyCols(statsDir, keyCols)
    index.heal(spark, dataDir, statsDir) { files =>
      ensureKeyCols(statsDir, keyCols)
      fileStats(spark, keyCols, expectedPerFile, fpp)(files)
    }
  }
}
