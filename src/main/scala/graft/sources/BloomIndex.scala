package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  *  - BUILD is one distributed pass grouped by `_metadata.file_path`; the
  *    shuffle carries partially-merged filters, |files|-scale, never rows.
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

  /** One distributed pass over `dataPath`: per-file row count + Bloom
    * filter of `xxhash64(keyCol)`, written (overwrite) to `statsDir`.
    *
    * `expectedPerFile` declares the filter size (bits are fixed at
    * creation): size it to the layout's target rows-per-file. Oversizing
    * wastes ~1.2 KB per 1000 declared items at 1% fpp; undersizing only
    * degrades the false-positive rate — a bloom's "definitely absent" is
    * unconditional, so pruning stays CORRECT either way. */
  def build(spark: SparkSession, dataPath: String, keyCol: String,
      statsDir: String, expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Unit = {
    val data = spark.read.parquet(dataPath)
    statsFor(spark, data, Seq(keyCol), expectedPerFile, fpp)
      .coalesce(statsNumFiles(data.inputFiles.length, expectedPerFile, fpp))
      .write.mode(SaveMode.Overwrite).parquet(statsDir)
  }

  /** Stats-table output file count sized from its predicted BYTE volume
    * (|dataFiles| rows x one serialized bloom each), not a hardcoded 1:
    * at the design point of 10^6 files x ~100 KB blooms a coalesce(1)
    * write is a ~100 GB single task. The bloom's serialized size is a
    * pure function of (expectedItems, fpp) — priced ARITHMETICALLY with
    * the same formula `BloomFilter.optimalNumOfBits` uses (bits =
    * -n*ln(p)/ln(2)^2, rounded up to the 64-bit words the bit array
    * allocates): creating a throwaway filter just to read bitSize()
    * would materialize the whole bit array on the driver (~1.2 GB at
    * expectedPerFile=1e9, fpp=0.01) on every build/heal. Parity with the
    * allocated size is spec-pinned across the (n, fpp) grid. */
  private[graft] def statsNumFiles(nDataFiles: Int, expectedPerFile: Long,
      fpp: Double, targetBytes: Long = 64L << 20): Int = {
    val optBits = math.max(1L,
      (-expectedPerFile * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bytesPerRow = ((optBits + 63) / 64) * 64 / 8 + 64
    math.max(1L, (nDataFiles.toLong * bytesPerRow + targetBytes - 1)
      / targetBytes).toInt
  }

  /** Scan `dataPath` for rows with `keyCol === key`, reading ONLY files
    * whose Bloom filter might contain the key. Returns the filtered frame
    * plus (filesRead, filesTotal) for observability. The equality
    * predicate is still applied (and still pushes down to parquet row
    * groups): a bloom's "maybe" is never trusted as a hit.
    *
    * `key` must be a literal/column of the SAME type as the indexed
    * column — `xxhash64` is type-aware, so an int probe of a long-keyed
    * index would hash differently and (correctly but uselessly) prune
    * everything. */
  def scanPointLookup(spark: SparkSession, dataPath: String,
      statsDir: String, keyCol: String, key: Column): (DataFrame, (Int, Int)) = {
    // ONE distributed pass over the stats table decides both the candidate
    // list and the total: the probe AND the keep-filter run where the
    // blooms live, so the driver receives only the SURVIVING file names
    // (true hits + fpp stragglers) plus one count — never the bloom column
    // and never an |files|-sized flag list
    val row = spark.read.parquet(statsDir)
      .select(col("file"),
        BloomSketch.mightContain(col("bloom"), xxhash64(key)).as("keep"))
      .agg(count(lit(1)).as("total"),
        // when() without otherwise yields NULL for pruned files, and
        // collect_list skips NULLs: survivors only
        collect_list(when(col("keep"), col("file"))).as("files"))
      .head()
    val total = row.getLong(0).toInt
    val files = row.getSeq[String](1)
    val df = readCandidates(spark, files, col(keyCol) === key,
      fallbackSchemaFrom = spark.read.parquet(dataPath))
    (df, (files.length, total))
  }

  /** Shared probe tail: read only `files` presenting their union schema
    * (honoring the Store's schema-evolution contract — a file subset must
    * not let one sampled footer decide the result schema; the union is
    * merged driver-side for bounded candidate lists, [[Store.readFiles]])
    * and apply the residual predicate; an empty candidate set returns an
    * empty frame shaped by `fallbackSchemaFrom` with no data scan at all. */
  private def readCandidates(spark: SparkSession, files: Seq[String],
      pred: Column, fallbackSchemaFrom: => DataFrame): DataFrame =
    if (files.isEmpty) fallbackSchemaFrom.filter(lit(false))
    else Store.readFiles(spark, files).filter(pred)

  // ── Incremental face: a bloom-indexed Store ────────────────────────────
  //
  // Composition with [[Store]]'s crash-safe admission: each admitted delta
  // carries its per-file blooms into a SIBLING stats store, and lookups
  // treat the index as a conservative ACCELERATOR — a live data file the
  // stats do not cover is read unconditionally, so a crash between the
  // data commit and the stats append (or a compaction that renamed every
  // file) degrades pruning to scanning, NEVER correctness. maintainIndex
  // heals both directions (covers new files, drops rows for dead ones).

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

  private def statsFor(spark: SparkSession, dataFiles: DataFrame,
      keyCols: Seq[String], expectedPerFile: Long, fpp: Double): DataFrame =
    dataFiles
      // xxhash64 is variadic: a composite key hashes all components in one
      // codegen'd pass — no struct allocation, no string concat
      .select(col("_metadata.file_path").as("raw"),
        xxhash64(keyCols.map(col): _*).as("h"))
      .groupBy(col("raw"))
      .agg(count(lit(1)).as("n_rows"),
        BloomSketch.bloomAgg(col("h"), expectedPerFile, fpp).as("bloom"))
      // canonicalize AFTER the agg: the udf runs once per FILE, not per row
      .select(canonPathUdf(col("raw")).as("file"), col("n_rows"), col("bloom"))

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
    val spark = df.sparkSession
    val admitted = Store.appendIdempotent(df, dataDir, id)
    val delta = new java.io.File(dataDir, s"delta-$id")
    // stats follow whenever the delta is still live (replay heal included);
    // a delta already compacted away is covered by maintainIndex instead.
    // The delta re-read can RACE a maintenance compaction's swap (the
    // exists() check and the Spark job's file listing are two steps) —
    // that race must not fail an admission whose data already committed:
    // skip the stats instead, leaving the file in the uncovered-read-
    // unconditionally state that maintainIndex (or a replay) heals.
    if (delta.exists()) {
      try {
        val stats = statsFor(spark, spark.read.parquet(delta.toString),
          keyCols, expectedPerFile, fpp)
        Store.appendIdempotent(stats, statsDir, s"bloom-$id"): Unit
      } catch {
        // a path-shaped failure IS the tolerated race (the delta vanished
        // between exists() and the job's listing/read — compaction folded
        // it; maintainIndex covers the renamed file). Any OTHER analysis
        // error (unresolved keyCol, bad config) is deterministic: silently
        // absorbing it would permanently disable pruning with zero signal,
        // so rethrow. Runtime job failures are logged, never silent.
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null && (
              e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist")) =>
          log.warn(s"bloom stats for delta-$id skipped (delta compacted " +
            s"away mid-admission; maintainIndex heals): ${e.getMessage}")
        case e: org.apache.spark.sql.AnalysisException => throw e
        case scala.util.control.NonFatal(e) =>
          log.warn(s"bloom stats for delta-$id skipped (data admitted; " +
            s"file stays uncovered until maintainIndex heals)", e)
      }
      serveCache.invalidate(statsDir)
    }
    admitted
  }

  // ── Serve cache: driver-resident stats for point-lookup latency ───────
  //
  // The distributed probe is the 100 TB-safe default, but a SERVING
  // deployment answering point lookups pays a full Spark job per probe
  // just to decide "which files?" — a scheduler round-trip in front of
  // every lookup (bench p50 was ~0.5 s). Stats stores under the
  // [[ServeCache]] budget keep their DESERIALIZED filters on the driver
  // and literal probes test them in-process; over budget, or with
  // non-literal probe keys, lookups run the distributed pass. Spec:
  // ServeCacheSpec.

  private val serveCache =
    new ServeCache[Map[String, org.apache.spark.util.sketch.BloomFilter]]

  /** The cached (or freshly refreshed) filter map; None when the store
    * exceeds the driver budget — callers run the distributed pass. */
  private def cachedBlooms(spark: SparkSession, statsDir: String)
      : Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
    serveCache.get(statsDir) {
      // liveFiles + readFiles: the refresh pays ONE collect job — Store.read's
      // mergeSchema option would add a distributed footer-merge job first
      val rows = Store.readFiles(spark, Store.liveFiles(statsDir))
        .select(col("file"), col("bloom")).collect()
      // duplicate rows for one file (heal racing admit): either is correct
      rows.iterator.map { r =>
        r.getString(0) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      }.toMap
    }

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

  /** Point lookup over a bloom-indexed Store. Decision per LIVE data file:
    * covered by stats → its bloom decides; uncovered (crash window, or
    * renamed by compaction) → read unconditionally. Stale stats rows
    * pointing at dead files are ignored. Returns the filtered frame plus
    * (filesRead, filesTotal). */
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
    import spark.implicits._
    require(keys.size == keyCols.size,
      s"probe arity ${keys.size} != key columns ${keyCols.size}")
    verifyKeyCols(statsDir, keyCols)
    // |files|-bounded driver-side listing (no DataFrame: Store.read's
    // mergeSchema pays a footer-merge JOB per call — fatal for serve
    // latency); everything FROM here is survivor-bounded
    val live = Store.liveFiles(dataDir).toSet
    // decide per live file DISTRIBUTED-side: covered -> its bloom
    // decides; uncovered (left-join miss: crash window or a compaction
    // rename) -> read unconditionally. Stale stats rows for dead files
    // fall out of the left join. Only the files-to-READ come back —
    // true hits + fpp stragglers + uncovered, never an |files| flag
    // list. distinct() guards against a heal racing an admit leaving
    // two stats rows for one file (either row alone is correct; a
    // duplicated name must not make the reader scan the file twice).
    def distributedDecision(): Seq[String] = {
      val liveDf = live.toSeq.toDF("file")
      liveDf.join(
          Store.readFiles(spark, Store.liveFiles(statsDir)).select(col("file"),
            BloomSketch.mightContain(col("bloom"), xxhash64(keys: _*))
              .as("keep")),
          Seq("file"), "left_outer")
        .filter(coalesce(col("keep"), lit(true)))
        .select(col("file")).distinct()
        .as[String].collect().toSeq.sorted
    }
    val files: Seq[String] =
      if (!Store.hasData(statsDir)) live.toSeq.sorted
      else literalHash(spark, keys).flatMap(h =>
        // serve path: same per-live-file decision, filters probed
        // in-process (uncovered -> forall on None = read unconditionally)
        cachedBlooms(spark, statsDir).map(blooms =>
          live.toSeq.sorted.filter(f =>
            blooms.get(f).forall(_.mightContainLong(h)))))
        .getOrElse(distributedDecision())
    val pred = keyCols.lazyZip(keys).map((c, k) => col(c) === k)
      .reduce(_ && _)
    // fallback schema frame is BY-NAME: only built (and only then paying
    // the schema-merge job) when the candidate set is empty
    val df = readCandidates(spark, files, pred,
      fallbackSchemaFrom = Store.readBounded(spark, dataDir))
    (df, (files.length, live.size))
  }

  /** Batched point lookup over a bloom-indexed Store: ONE stats pass
    * decides the candidate files for ALL K keys — production lookup
    * traffic arrives in batches, and K sequential [[lookupIndexed]] calls
    * pay K stats-table scans (and K bloom deserializations per stats row)
    * for what one array-probe pass answers. Each stats row's filter is
    * deserialized once and probed with the whole key batch
    * ([[graft.functions.BloomContainsFlags]]); covered files keep their
    * per-key flags, uncovered live files (crash window, compaction
    * rename) conservatively flag every key. Only rows with at least one
    * maybe survive to the driver — true hits + fpp stragglers + uncovered,
    * never |files|.
    *
    * Returns (rows matching ANY key, per-key candidate files indexed like
    * `keys` — the attribution a lookup router needs to dispatch each key
    * to its files, each entry a subset of that key's single-lookup
    * candidates — and (filesRead, filesTotal)). */
  def lookupIndexedBatch(spark: SparkSession, dataDir: String,
      statsDir: String, keyCol: String, keys: Seq[Column])
      : (DataFrame, Seq[Seq[String]], (Int, Int)) = {
    import spark.implicits._
    require(keys.nonEmpty, "at least one lookup key")
    verifyKeyCols(statsDir, Seq(keyCol))
    // driver-side listing, same rationale as lookupIndexedMulti's
    val live = Store.liveFiles(dataDir).toSet
    val k = keys.length
    val collected: Seq[(String, Seq[Boolean])] =
      if (!Store.hasData(statsDir))
        live.toSeq.sorted.map(f => f -> Seq.fill(k)(true))
      else {
        // serve path: every probe key hashed in-process, each cached
        // filter deserialized ONCE for its lifetime (vs once per batch in
        // the distributed pass)
        val hashOpts = keys.map(key => literalHash(spark, Seq(key)))
        val served: Option[Seq[(String, Seq[Boolean])]] =
          if (hashOpts.forall(_.isDefined))
            cachedBlooms(spark, statsDir).map { blooms =>
              val hs = hashOpts.map(_.get)
              live.toSeq.sorted
                .map(f => f -> (blooms.get(f) match {
                  case Some(b) => hs.map(b.mightContainLong)
                  case None => Seq.fill(k)(true)
                }))
                .filter(_._2.exists(identity))
            }
          else None
        served.getOrElse {
          val hashes = array(keys.map(key => xxhash64(key)): _*)
          val liveDf = live.toSeq.toDF("file")
          liveDf.join(
              Store.readFiles(spark, Store.liveFiles(statsDir)).select(col("file"),
                BloomSketch.containsFlags(col("bloom"), hashes).as("flags")),
              Seq("file"), "left_outer")
            .select(col("file"),
              coalesce(col("flags"),
                array_repeat(lit(true), lit(k))).as("flags"))
            .filter(exists(col("flags"), identity))
            .as[(String, Seq[Boolean])].collect().toSeq
        }
      }
    // a heal racing an admit can leave two stats rows for one file; merge
    // per-key flags with OR (either row alone is correct — disagreement is
    // only ever an fpp straggler, and OR keeps the conservative side)
    val survivors: Seq[(String, Seq[Boolean])] = collected
      .groupBy(_._1).view
      .mapValues(_.map(_._2).reduce((a, b) => a.lazyZip(b).map(_ || _)))
      .toSeq.sortBy(_._1)
    val perKey: Seq[Seq[String]] = keys.indices.map(i =>
      survivors.collect { case (f, flags) if flags(i) => f })
    val pred = keys.map(key => col(keyCol) === key).reduce(_ || _)
    val df = readCandidates(spark, survivors.map(_._1), pred,
      fallbackSchemaFrom = Store.readBounded(spark, dataDir))
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
    * ship anyway), and probed against every covered file's bloom in ONE
    * stats pass ([[graft.functions.BloomMightContainAny]]: one filter
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
    // driver-side listing + driver-merged schema: Store.read's mergeSchema
    // paid a distributed footer-merge job per call just to learn the fact
    // key's type and the live file names (r13)
    val live = Store.liveFiles(dataDir).toSet
    val dataSchema =
      if (live.nonEmpty && live.size <= 256)
        org.apache.spark.sql.GraftBridge
          .mergedParquetSchema(spark, live.toSeq.sorted)
      else Store.read(spark, dataDir).schema // 10^6-file stores: distributed
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
      if (!Store.hasData(statsDir) || hashes.isEmpty ||
          hashes.length > maxKeys) {
        if (hashes.length > maxKeys)
          log.info(s"dim side exceeds maxKeys=$maxKeys distinct keys; " +
            "skipping file pruning (full fact scan, correct join)")
        if (hashes.isEmpty) Nil else live.toSeq.sorted
      } else {
        val liveDf = live.toSeq.toDF("file")
        liveDf.join(
            Store.readFiles(spark, Store.liveFiles(statsDir)).select(col("file"),
              BloomSketch.mightContainAny(col("bloom"), lit(hashes))
                .as("keep")),
            Seq("file"), "left_outer")
          .filter(coalesce(col("keep"), lit(true)))
          .select(col("file")).distinct()
          .as[String].collect().toSeq.sorted
      }
    val df =
      if (files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          dataSchema)
      else Store.readFiles(spark, files)
    (df, (files.length, live.size))
  }

  /** Streaming face: the SAME admission as [[admitIndexed]], as a
    * foreachBatch sink with idempotent per-micro-batch ids — an
    * at-least-once replay (sink ran, checkpoint didn't commit) re-admits
    * nothing on either store, and a replay that finds the data committed
    * but the stats missing heals them (the [[IvfIndex]] admission shape,
    * with the index's own crash window covered by the same id). */
  def streamingAdmission(rows: DataFrame, dataDir: String, statsDir: String,
      keyCol: String, expectedPerFile: Long = 100000L, fpp: Double = 0.01)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitIndexed(batch, dataDir, statsDir, keyCol, s"bl$batchId",
          expectedPerFile, fpp): Unit
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
    if (every > 0 && Store.deltaCount(dataDir) >= every) {
      // minFileBytes > 0: selective fold — full-sized files keep their
      // NAMES, so their bloom stats stay valid and the heal below only
      // builds filters for the folded output (index maintenance cost
      // tracks folded bytes too)
      if (minFileBytes > 0)
        Store.compactSelective(spark, dataDir, minFileBytes,
          clusterBy = clusterBy, zOrder = zOrder): Unit
      else Store.compact(spark, dataDir, numFiles, identity, clusterBy, zOrder)
      maintainIndex(spark, dataDir, statsDir, keyCol, expectedPerFile, fpp)
    }

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
    import spark.implicits._
    if (Store.hasData(statsDir)) verifyKeyCols(statsDir, keyCols)
    // driver-side listing (r13): Store.read(...).inputFiles paid a
    // distributed footer-merge job just to learn the live file NAMES
    val live = Store.liveFiles(dataDir).toSet
    val covered: Set[String] =
      if (Store.hasData(statsDir))
        Store.readFiles(spark, Store.liveFiles(statsDir))
          .select($"file").as[String].collect().toSet
      else Set.empty
    val missing = (live -- covered).toSeq.sorted
    if (missing.nonEmpty) {
      ensureKeyCols(statsDir, keyCols)
      Store.append(
        statsFor(spark, Store.readFiles(spark, missing), keyCols,
          expectedPerFile, fpp)
          .coalesce(statsNumFiles(missing.length, expectedPerFile, fpp)),
        statsDir)
    }
    // rewrite the stats store only when there is something to clean:
    // stale rows for dead files (post-compaction heal), or enough heal
    // deltas accreted to matter (each heal appends one). A clean heal —
    // all stats rows live, few deltas — skips the whole compact cycle
    // (r13: the rewrite cost 4-6 jobs per heal and bought nothing when
    // admits had already covered every file); stale rows are dropped by
    // the per-lookup live join either way, so skipping is
    // result-invisible and the next dirty heal cleans up.
    val dead = covered -- live
    if (Store.hasData(statsDir) &&
        (dead.nonEmpty || Store.deltaCount(statsDir) >= statsCompactEvery)) {
      // the live listing is recomputed INSIDE the rewrite, at image time:
      // a semi-join against the listing taken above would drop the stats
      // of any delta admitted while the heal ran. The residual window
      // (admit between this listing and the image write) leaves that
      // file merely UNCOVERED — scanned unconditionally, healed by the
      // next maintainIndex — never wrongly pruned.
      // File count: sized from the stats store's own BYTE volume (a heal
      // over 10^6 files x ~100 KB blooms is a ~100 GB table — a
      // hardcoded numFiles=1 would funnel it through one task).
      Store.compactToFileSize(spark, statsDir, targetBytes = 64L << 20,
        rewrite = { stats =>
          val liveNow = Store.liveFiles(dataDir).toDF("file")
          stats.join(broadcast(liveNow), Seq("file"), "left_semi")
        }): Unit
    }
    serveCache.invalidate(statsDir)
  }

  /** Stats-store delta budget between hygiene rewrites (heal appends one
    * delta each; rows for dead files force a rewrite regardless). */
  private val statsCompactEvery = 8
}
