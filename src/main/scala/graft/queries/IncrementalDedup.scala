package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._


import graft.functions.{TextFunctions => TF}
import graft.sources.Store

/** Incremental corpus deduplication — the production shape at 100 TB, where
  * a corpus is never re-deduplicated from scratch: a persisted fingerprint
  * index absorbs each new batch (a daily crawl drop, a stream micro-batch)
  * and batch documents are admitted iff their content is new.
  *
  * The batch-level operators here are deliberately STATE-FREE apart from the
  * index directory itself, so the same call works from a scheduled batch job
  * or inside `foreachBatch` of a Structured Streaming query (the index is
  * the state, and it survives restarts — the cross-RESTART face of
  * streaming dedup, complementing `dropDuplicatesWithinWatermark`'s
  * in-query state).
  *
  * Scale shape (the invariant everything below preserves): THE INDEX IS
  * NEVER SHUFFLED AND NEVER BROADCAST. A delta batch is orders of magnitude
  * smaller than the corpus index; every join broadcasts the batch (or a
  * ≤ batch-sized derivative) into a map-side probe of the index scan.
  *
  * Persistence is [[graft.sources.Store]]: admissions commit via the
  * stage-then-rename protocol (a crashed admit leaves the index byte-for-
  * byte unchanged — never a half-admitted batch), and an admit-count-
  * triggered [[graft.sources.Store.maintain]] compaction bounds the file
  * count under continuous admission instead of growing one delta directory
  * per admit forever. On a real deployment a transactional table format
  * replaces the file-level protocol; the admit-iff-new contract is
  * unchanged.
  */
object IncrementalDedup {

  /** Create (overwrite) the exact-dup index for an initial corpus slice:
    * one (fp, keeper_id) row per distinct md5 text fingerprint. */
  def writeExactIndex(docs: DataFrame, indexDir: String): Unit = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", TF.fingerprintMd5($"text").as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("keeper_id"))
      .write.mode(SaveMode.Overwrite).parquet(indexDir)
  }

  /** Admit `batch` (doc_id, text, ...) against the index at `indexDir`:
    * returns the admitted (doc_id, fp) rows — documents whose fingerprint
    * is new to the index AND minimal within the batch — and appends exactly
    * those fingerprints to the index.
    *
    * Join plan, in index-never-moves order:
    *  1. within-batch keep-min — one batch-sized hash aggregate;
    *  2. membership probe — the batch fingerprint set broadcasts INTO the
    *     index scan (inner BHJ, index side streamed map-side);
    *  3. the matched set that comes back is ≤ |batch| rows and broadcasts
    *     into the batch-side LEFT ANTI join (Spark builds anti joins on the
    *     right, which is why step 2's inner probe exists at all: a direct
    *     batch-anti-index would have to build on the corpus-sized index).
    *
    * The admitted frame is materialized with its lineage CUT (eager
    * `localCheckpoint`) BEFORE the append. A persist is not enough: the
    * parquet append refreshes the path's file index and invalidates cache
    * entries whose lineage reads that path, so a merely-persisted frame
    * would re-derive itself against its own appended output and evaluate
    * empty. (Cluster deployments wanting executor-loss durability for the
    * admitted frame swap in reliable `checkpoint()` — the same trade as the
    * CC loop's cut.) */
  def dedupeBatchExact(batch: DataFrame, indexDir: String,
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val admitted =
      admissionFrame(batch, Store.read(spark, indexDir)).localCheckpoint()
    if (Store.appendMaybeIdempotent(
        admitted.select($"fp", $"doc_id".as("keeper_id")), indexDir, id))
      Store.maintain(spark, indexDir, maintainEvery)
    admitted.orderBy($"doc_id")
  }

  /** The admission join of [[dedupeBatchExact]] BEFORE the lineage cut —
    * split out so the spec can assert the index-never-moves plan shape
    * (localCheckpoint executes eagerly, leaving only an RDD scan to
    * inspect on the returned frame). */
  private[graft] def admissionFrame(batch: DataFrame, index: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    val batchKeep = batch
      .select($"doc_id", TF.fingerprintMd5($"text").as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val matched = index.join(broadcast(batchKeep.select($"fp")), "fp")
      .select($"fp")
    batchKeep
      .join(broadcast(matched), Seq("fp"), "left_anti")
      .select($"doc_id", $"fp")
  }

  // ---- near-dup (MinHash signature) index -------------------------------

  private val SigComponents = 32 // 8 bands x 4 rows, as dedup_minhash_pairs

  /** (doc_id, sig) 32-component minhash signature of each document's 3-word
    * shingle hash set — 256 bytes per document, the standard signature-store
    * economics: the index keeps sketches, never text or shingles. */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val mins = (0 until SigComponents)
      .map(j => min(xxhash64($"h", lit(j))).as(s"h$j"))
    docs.select($"doc_id",
        explode(graft.functions.VectorFunctions.shingleHashSet($"text", 3)).as("h"))
      .groupBy($"doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until SigComponents).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** Banded LSH keys DERIVED from a stored signature column — a map-side
    * projection, so the index scan never carries more than (doc_id, sig).
    * Writer and prober share this one definition; a keying change cannot
    * strand an existing index silently (keys simply stop matching). */
  private def bandKeys(rowsPerBand: Int): Column = {
    val nBands = SigComponents / rowsPerBand
    explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((rowsPerBand * b until rowsPerBand * (b + 1))
          .map(j => element_at(col("sig"), j + 1)): _*).as("key"))
    }: _*))
  }

  /** Create (overwrite) the near-dup signature index: one (doc_id, sig) row
    * per document. */
  def writeMinhashIndex(docs: DataFrame, indexDir: String): Unit =
    signatures(docs).write.mode(SaveMode.Overwrite).parquet(indexDir)

  /** Admit `batch` (doc_id, text, ...) against the near-dup index: drop
    * batch documents whose ESTIMATED Jaccard (fraction of matching
    * signature components, the unbiased minhash estimator) against any
    * indexed document reaches `tNum/tDen`; resolve near-dups WITHIN the
    * batch by keeping the min doc_id per connected component of the same
    * estimator relation; append the admitted signatures.
    *
    * Honesty caveat (the [[DataPipeline.methodCard]] discipline): at 32
    * components the estimator's std-dev near t = 0.8 is ~0.07, so documents
    * with TRUE Jaccard just beyond either side of the threshold can be
    * mis-admitted or mis-dropped — the index stores sketches, not shingle
    * sets, and 256 B/doc is the price signature-store dedup pays at 100 TB.
    * Candidate generation is exact-recall for pairs whose signatures agree
    * on any full band, the same 8×4 banding as `dedup_minhash_pairs`.
    *
    * Scale shape: identical to [[dedupeBatchExact]] — the index is probed
    * map-side via broadcast batch band keys, only candidate (doc pairs ×
    * sig) rows come back, and the index is never shuffled. */
  def dedupeBatchNearDup(batch: DataFrame, indexDir: String,
      rowsPerBand: Int = 4, tNum: Int = 4, tDen: Int = 5,
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(tNum > 0 && tNum <= tDen, s"need 0 < t <= 1, got $tNum/$tDen")
    val batchSig = signatures(batch).localCheckpoint() // reused three times below
    val batchBands = batchSig.select($"doc_id", $"sig", bandKeys(rowsPerBand).as("bk"))
      .select($"doc_id", $"sig", $"bk.band".as("band"), $"bk.key".as("key"))
    // estimator: #matching components * tDen >= t * n, in exact integers
    def estHit(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), c => c)) * tDen >=
        lit(SigComponents) * tNum
    // 1. index screen: batch band keys broadcast INTO the index scan's
    //    derived-key projection; candidates (ids + sigs) are posting-bounded
    val index = Store.read(spark, indexDir)
    val indexBands = index.select($"doc_id", $"sig", bandKeys(rowsPerBand).as("bk"))
      .select($"sig".as("sig_i"), $"bk.band".as("band"), $"bk.key".as("key"))
    val dropByIndex = indexBands
      .join(broadcast(batchBands.select($"band", $"key", $"doc_id", $"sig")),
        Seq("band", "key"))
      .filter(estHit($"sig", $"sig_i"))
      .select($"doc_id").distinct()
    val survivors = batchSig
      .join(broadcast(dropByIndex), Seq("doc_id"), "left_anti")
    // 2. within-batch resolution: band self-join over the survivors, keep
    //    the min doc_id per connected component of the estimator relation —
    //    dedup_clusters semantics, batch-sized
    val sBands = survivors.select($"doc_id", $"sig", bandKeys(rowsPerBand).as("bk"))
      .select($"doc_id", $"sig", $"bk.band".as("band"), $"bk.key".as("key"))
    val pairs = sBands.select($"band", $"key", $"doc_id".as("doc_a"), $"sig".as("sig_a"))
      .join(sBands.select($"band", $"key", $"doc_id".as("doc_b"), $"sig".as("sig_b")),
        Seq("band", "key"))
      .filter($"doc_a" < $"doc_b")
      .filter(estHit($"sig_a", $"sig_b"))
      .select($"doc_a", $"doc_b").distinct()
    val labels = Dedup.connectedComponents(
      survivors.select($"doc_id".as("id"), $"doc_id".as("label")),
      pairs, _.localCheckpoint())
    val admitted = survivors
      .join(labels.filter($"id" === $"label").select($"id".as("doc_id")), "doc_id")
      .localCheckpoint() // same refreshByPath trap as the exact path
    if (Store.appendMaybeIdempotent(admitted.select($"doc_id", $"sig"), indexDir, id))
      Store.maintain(spark, indexDir, maintainEvery)
    admitted.select($"doc_id").orderBy($"doc_id")
  }

  // ---- span-level (chunk hash) index ------------------------------------
  // (No writeChunkIndex init protocol: the span store self-bootstraps —
  // the first dedupeBatchChunks admission against an empty directory IS
  // the index build, and it also returns the rebuilt batch.)

  /** Admit `batch` (doc_id, text, ...) against the span index: each batch
    * document is REWRITTEN to keep only spans that are new — first
    * occurrence within the batch (min (doc_id, idx)) AND absent from the
    * index — and exactly those span hashes append to the store. Returns the
    * rebuilt batch (doc_id, n_tokens, n_chunks_kept, text_dedup).
    *
    * Sequential admission of doc_id-ordered batches reproduces the batch
    * operator exactly (first-seen-wins across batches = global min
    * (doc_id, idx)) — the driver face rides the SAME oracle SQL as
    * `dedup_chunks`, so the hash check itself proves the equivalence.
    *
    * Scale shape: identical to [[dedupeBatchExact]] — the batch's chunk-key
    * set broadcasts INTO the index scan (inner probe), the matched set
    * (≤ batch chunks) broadcasts back into the batch-side anti join, and
    * the index is never shuffled, never broadcast. The rebuild reads the
    * batch docs + the checkpointed admitted set (plus, only in the
    * empty-admission corner, a batch-probed index read — see below); span
    * text never touches the store.
    *
    * CONTRACT — globally unique doc_ids: a doc_id names ONE document for
    * the lifetime of the index. Re-sending the same (doc_id, content) is a
    * replay and rebuilds identically (spec-pinned); re-USING a doc_id for
    * DIFFERENT content is outside the contract — the empty-admission
    * corner serves the index's positions for that doc_id, which were
    * decided for the old content. Production admitters derive doc_ids
    * from a content-independent unique source (ingest sequence, UUID), so
    * the corner is unreachable; the alternative (keying the probe on
    * (doc_id, ck)) would force a full-width index probe for a corner that
    * the id discipline already excludes. */
  def dedupeBatchChunks(batch: DataFrame, indexDir: String,
      maintainEvery: Int = 16, id: Option[String] = None,
      ordered: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val tokDocs = DedupRewrite.tokenized(batch)
    val batchKeep = DedupRewrite.hashedChunks(tokDocs)
      .groupBy($"ck")
      .agg(min(struct($"doc_id", $"idx")).as("f"))
      .select($"ck", $"f.doc_id".as("doc_id"), $"f.idx".as("idx"))
    // self-bootstrapping: the first admission sees an empty store and
    // probes nothing (Store.read would fail schema inference on it)
    val admitted = (
      if (Store.hasData(indexDir))
        chunkAdmissionFrame(batchKeep, Store.read(spark, indexDir))
      else batchKeep
    ).localCheckpoint() // same refreshByPath trap as the exact path
    if (Store.appendMaybeIdempotent(
        admitted.select($"ck", $"doc_id", $"idx"), indexDir, id))
      Store.maintain(spark, indexDir, maintainEvery)
    // rebuild source: normally the checkpointed admitted set (no store
    // read). When admitted is EMPTY, that alone cannot distinguish "every
    // span was a cross-doc duplicate" (rebuild all-empty, correct) from a
    // REPLAYED batch whose spans sit in the store under these very doc ids
    // (rebuild must reproduce the original admission, not strip the docs)
    // — so the empty case serves positions from the index, restricted to
    // the batch's doc ids via a broadcast semi-probe (index never moves).
    val keptSource =
      if (admitted.isEmpty && Store.hasData(indexDir))
        Store.read(spark, indexDir)
          .join(broadcast(tokDocs.select($"doc_id")), Seq("doc_id"))
          .select($"doc_id", $"idx")
      else admitted.select($"doc_id", $"idx")
    val keptIdx = keptSource.groupBy($"doc_id")
      .agg(collect_set($"idx").as("kept"))
    // ordered=false for callers that compose batches and sort once on
    // top (the incremental face): a per-batch sort under a union is
    // redundant interior work (AQE-lint-pinned)
    if (ordered) DedupRewrite.rebuild(tokDocs, keptIdx)
    else DedupRewrite.rebuildUnordered(tokDocs, keptIdx)
  }

  /** The membership screen of [[dedupeBatchChunks]] BEFORE the lineage cut
    * — split out (like [[admissionFrame]]) so the spec can pin the
    * index-never-moves plan: the batch chunk-key set broadcasts INTO the
    * index scan, the ≤ batch-sized matched set broadcasts back into the
    * batch-side anti join. */
  private[graft] def chunkAdmissionFrame(batchKeep: DataFrame,
      index: DataFrame): DataFrame = {
    import batchKeep.sparkSession.implicits._
    val matched = index
      .join(broadcast(batchKeep.select($"ck")), "ck")
      .select($"ck")
    batchKeep.join(broadcast(matched), Seq("ck"), "left_anti")
  }

  /** Serve the span-rewritten form of `docs` from the persisted index: the
    * store's admitted (doc_id, idx) positions ARE the surviving spans, so
    * serving is one store aggregate + the positional rebuild — no
    * re-decision, and doc text still never touches the store. Docs with no
    * admitted spans rebuild empty (every span of theirs first occurred
    * elsewhere). */
  def rebuildFromChunkIndex(docs: DataFrame, indexDir: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val kept = Store.read(spark, indexDir)
      .groupBy($"doc_id").agg(collect_set($"idx").as("kept"))
    DedupRewrite.rebuild(DedupRewrite.tokenized(docs), kept)
  }

  /** Streaming face of the span rewrite: the SAME [[dedupeBatchChunks]]
    * admission as the batch/incremental paths through
    * [[Store.admissionSink]] — a replayed micro-batch no-ops (the
    * chunk-level replay spec pins this). */
  def chunkStreamingAdmission(docs: DataFrame, storeDir: String,
      maintainEvery: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(docs, "sb") { (batch, id) =>
      // admission is eager inside the call (the admitted frame is
      // localCheckpoint'd before the append); the rebuilt frame is the
      // batch caller's product, not the sink's — discard it
      dedupeBatchChunks(batch, storeDir, maintainEvery, id = Some(id)): Unit
    }

  // ---- perceptual (media phash) index -----------------------------------

  /** Create (overwrite) the perceptual media index: one (doc_id, ph) row
    * per DISTINCT payload (octet-identical copies collapse to their min-id
    * representative upstream) — 16 bytes per distinct payload, the cheapest
    * signature store here. */
  def writePhashIndex(docs: DataFrame, indexDir: String): Unit =
    Multimodal.distinctPayloadHashes(docs)
      .write.mode(SaveMode.Overwrite).parquet(indexDir)

  /** Admit `batch` (doc_id, text/payload, ...) against the phash index: drop
    * batch payloads within Hamming ≤ `maxHamming` of ANY indexed payload
    * (or of an octet-identical batch sibling — the rep collapse), resolve
    * near-dups WITHIN the batch by min-id connected component, append the
    * admitted hashes — continuous media ingestion's dedup gate.
    *
    * Unlike the minhash store there is no estimator error: the 64-bit hash
    * IS the similarity state, the Hamming verify is exact on it, and the
    * 4×16 banding's pigeonhole recall is exact at d ≤ 3 (hence the
    * `maxHamming` bound). What IS approximate is the hash itself — byte
    * simhash collisions/misses against a true perceptual metric are the
    * operator's stated trade (`multimodal_phash_dedup`'s method).
    *
    * Scale shape: identical to [[dedupeBatchExact]] — batch band keys
    * broadcast INTO the index scan's derived-key projection (the index is
    * never shuffled, never broadcast), only matched ids come back, and the
    * within-batch resolution is batch-sized. */
  def dedupeBatchPhash(batch: DataFrame, indexDir: String,
      maxHamming: Int = 3, maintainEvery: Int = 16,
      id: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding guarantees recall only to Hamming 3, got $maxHamming")
    val batchPh = Multimodal.distinctPayloadHashes(batch).localCheckpoint()
    val batchBands = batchPh
      .select($"doc_id", $"ph", Multimodal.phashBandStructs.as("bk"))
      .select($"doc_id", $"ph", $"bk.band".as("band"), $"bk.key".as("key"))
    // self-bootstrapping like the chunk index: a first admission (the
    // streaming-from-scratch case) sees an empty store and probes nothing
    val dropByIndex = if (!Store.hasData(indexDir))
      batchPh.select($"doc_id").limit(0)
    else {
      val indexBands = Store.read(spark, indexDir)
        .select($"ph", Multimodal.phashBandStructs.as("bk"))
        .select($"ph".as("ph_i"), $"bk.band".as("band"), $"bk.key".as("key"))
      indexBands
        .join(broadcast(batchBands), Seq("band", "key"))
        .filter(graft.functions.SimHash.hammingDistance($"ph", $"ph_i") <= maxHamming)
        .select($"doc_id").distinct()
    }
    val survivors = batchPh
      .join(broadcast(dropByIndex), Seq("doc_id"), "left_anti")
    val pairs = Multimodal.phashBandCandidates(survivors)
      .filter(graft.functions.SimHash.hammingDistance($"ph_a", $"ph_b") <= maxHamming)
      .select($"doc_a", $"doc_b").distinct()
    val labels = Dedup.connectedComponents(
      survivors.select($"doc_id".as("id"), $"doc_id".as("label")),
      pairs, _.localCheckpoint())
    val admitted = survivors
      .join(labels.filter($"id" === $"label").select($"id".as("doc_id")), "doc_id")
      .localCheckpoint() // same refreshByPath trap as the exact path
    if (Store.appendMaybeIdempotent(admitted.select($"doc_id", $"ph"), indexDir, id))
      Store.maintain(spark, indexDir, maintainEvery)
    admitted.select($"doc_id").orderBy($"doc_id")
  }

  /** Streaming face of the perceptual gate: [[dedupeBatchPhash]] through
    * [[Store.admissionSink]] — continuous media ingestion's dedup gate
    * with exactly-once admission. */
  def phashStreamingAdmission(docs: DataFrame, storeDir: String,
      maxHamming: Int = 3, maintainEvery: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(docs, "sb") { (batch, id) =>
      dedupeBatchPhash(batch, storeDir, maxHamming, maintainEvery, id = Some(id)): Unit
    }
}
