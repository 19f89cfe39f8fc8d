package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.{Similarity, VectorFunctions}
import graft.sources.{Store, Tables}

/** Persisted incremental ANN index (VERDICT r8 task 3) — the retrieval
  * counterpart of [[IncrementalDedup]]'s fingerprint stores: a real 100 TB
  * deployment does not re-derive IVF cells per query ([[SimilaritySearch
  * .simIvfTopk]]'s in-query shape); it ADMITS new embeddings into a
  * persisted inverted-file index and SERVES top-k from the store alone.
  *
  * Layout — two [[graft.sources.Store]]s under one index root, both with
  * crash-safe stage-then-rename admission:
  *  - `<indexDir>/codebook`: (version, cell, centroid) — the coarse
  *    quantizer, VERSIONED: retraining appends a new version rather than
  *    rewriting history, so cells assigned under the old codebook remain
  *    self-describing during a migration. Bounded: nCells × dim rows per
  *    version, and compaction prunes versions older than the previous one
  *    (the migration window), so lifetime retrains don't accrete.
  *  - `<indexDir>/cells`: (version, cell, vec_id, v) — the inverted file.
  *    The ONLY corpus-sized artifact; append-only, compaction-maintained
  *    ([[graft.sources.Store.maintain]] keeps file count bounded under
  *    continuous admission).
  *
  * Scale invariants (the dedup-store discipline, restated for retrieval):
  *  - THE INDEX IS NEVER SHUFFLED AND NEVER BROADCAST. Admission's
  *    membership probe broadcasts the batch's vec_ids INTO the cells scan;
  *    the matched set (≤ |batch|) broadcasts back into the batch-side anti
  *    join. Serving broadcasts the (query × nprobe) probe set into the
  *    cells scan. Cell assignment is a map-side projection through the
  *    constant-code [[graft.functions.CodebookTopCells]] kernel.
  *  - Driver state is the codebook collect only (nCells × dim doubles) —
  *    the same bounded footprint as loading an offline codebook.
  *  - A crashed admit leaves the index byte-identical (Store protocol);
  *    replayed micro-batches are no-ops via idempotent batch ids.
  *
  * CONTRACT — globally unique vec_ids, the [[IncrementalDedup
  * .dedupeBatchChunks]] doc_id contract transposed: a vec_id names one
  * embedding for the lifetime of a codebook version; admission skips
  * vec_ids already indexed UNDER THE CURRENT VERSION (so replays and
  * overlapping drops are no-ops), which means re-USING a vec_id for a
  * different vector keeps the first. Re-embedding a corpus is a version
  * migration: register the retrained codebook as version+1 and re-admit —
  * membership is per-version, so the same vec_ids flow into the new
  * version's cells while the old version stays servable until the cut.
  */
object IvfIndex {

  private[graft] def codebookDir(indexDir: String): String = indexDir + "/codebook"
  private[graft] def cellsDir(indexDir: String): String = indexDir + "/cells"

  /** Initialize (or upgrade) the index's coarse quantizer: append
    * `codebook` as `version`. Crash-safe via the Store protocol; an index
    * root is "initialized" exactly when its codebook store has data. */
  def writeIvfIndex(spark: SparkSession, indexDir: String,
      codebook: Array[Array[Double]], version: Int = 0): Unit = {
    import spark.implicits._
    val rows = codebook.zipWithIndex.map { case (c, i) => (version, i, c.toSeq) }
    Store.append(
      spark.createDataset(rows.toSeq)
        .toDF("version", "cell", "centroid"),
      codebookDir(indexDir))
    // superseded versions are dead weight for readCodebook's one-collect
    // read (their rows ride every collect but are filtered driver-side —
    // ADVICE r13): compaction's fold keeps the latest version plus its
    // predecessor (the migration window the header promises — cells
    // admitted under the previous codebook stay self-describing while a
    // retrain re-admits), so the store is bounded at nCells × (2 + retrains
    // since last compaction ≤ 4) rows regardless of lifetime retrain count
    Store.maintain(spark, codebookDir(indexDir), every = 4,
      rewrite = migrationWindowOnly)
  }

  /** Compaction fold for the codebook store: drop versions older than the
    * previous one. Bounded single-partition window — the store is
    * nCells × versions. */
  private def migrationWindowOnly(rows: DataFrame): DataFrame = {
    rows
      .withColumn("__mx",
        max(col("version")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .filter(col("version") >= col("__mx") - 1)
      .drop("__mx")
  }

  /** Latest codebook: (version, centroids ordered by cell). The collect is
    * nCells × dim — the bounded codebook-collect discipline. */
  def readCodebook(spark: SparkSession, indexDir: String): (Int, Array[Array[Double]]) = {
    require(Store.hasData(codebookDir(indexDir)),
      s"no codebook at $indexDir — writeIvfIndex first")
    // ONE collect (r13): the store is nCells x versions rows, and
    // writeIvfIndex's maintenance fold drops versions older than the
    // migration window, so the collect is bounded at nCells × (2 + retrains
    // since last compaction ≤ 4) regardless of lifetime retrain count —
    // the max-version aggregate job the old two-pass read paid per call
    // (3 calls per served query: 2 admits + 1 serve) was pure scheduler
    // overhead
    val rows = Store.read(spark, codebookDir(indexDir))
      .select(col("version"), col("cell"), col("centroid")).collect()
    val version = rows.iterator.map(_.getInt(0)).max
    val cells = rows.iterator.filter(_.getInt(0) == version)
      .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
      .toArray.sortBy(_._1).map(_._2)
    (version, cells)
  }

  /** Admit a batch of embeddings (`vec_id`, `embedding`: any numeric
    * array) into the index: assign each NEW vector to its nearest cell
    * under the latest codebook and crash-safely append (version, cell,
    * vec_id, v) to the inverted file. Returns the admitted assignment
    * frame (vec_id, cell).
    *
    * "New" = vec_id not yet indexed UNDER THE CURRENT CODEBOOK VERSION
    * and minimal-row within the batch — membership is per-version, so
    * after a [[reindexIvf]] retrain the same vec_ids must be re-admitted
    * to populate the new version's cells (the versioning spec pins this).
    * The probe uses the [[IncrementalDedup.admissionFrame]] join order:
    * batch ids broadcast INTO the cells scan (inner probe), the ≤
    * batch-sized matched set broadcasts back into the batch-side anti
    * join. The index never moves. Assignment itself is join-free: one
    * codegen'd codebook-kernel projection over the surviving batch rows.
    *
    * The admitted frame is lineage-CUT (eager localCheckpoint) before the
    * append — the store append refreshes the path's file index, and a
    * lazily re-derived frame that probed that same path would re-evaluate
    * against its own output (the dedup-store trap). */
  def admitBatchIvf(batch: DataFrame, indexDir: String,
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame =
    admitCellsInto(batch, indexDir, cellsDir(indexDir),
      payload = Seq(org.apache.spark.sql.functions.col("v")),
      maintainEvery, id)

  /** Most files per admitted cells delta (see the coalesce note in
    * [[admitCellsInto]]). */
  private val DeltaFiles = 4

  /** The shared admission protocol of the exact and SQ8 inverted files —
    * ONE implementation so a fix to the membership probe, lineage-cut
    * ordering, or append/maintain sequencing can never silently diverge
    * the two stores' crash-safety semantics. `payload` selects what the
    * cells persist for each admitted vector (fp64 `v`, or int8 codes +
    * scale), evaluated over the assignment frame's `v` column. */
  private def admitCellsInto(batch: DataFrame, indexDir: String,
      cellsPath: String, payload: Seq[org.apache.spark.sql.Column],
      maintainEvery: Int, id: Option[String],
      versionCodebook: Option[(Int, Array[Array[Double]])] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // reindexIvf passes the retrained quantizer explicitly: its cells must
    // land BEFORE the codebook registers, so the store can't yet answer
    // readCodebook for that version
    val (version, codebook) = versionCodebook.getOrElse(readCodebook(spark, indexDir))
    val vecs = batch
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("v"))
      .dropDuplicates("vec_id")
    val fresh =
      if (Store.hasData(cellsPath)) {
        // membership is PER CODEBOOK VERSION: a retrain (new version)
        // re-admits every vector under the new quantizer, while replays
        // and overlapping drops within a version stay no-ops. The version
        // predicate prunes the cells scan before the probe.
        val index = Store.read(spark, cellsPath)
          .filter($"version" === version)
        val matched = index
          .join(broadcast(vecs.select($"vec_id")), "vec_id")
          .select($"vec_id")
        vecs.join(broadcast(matched), Seq("vec_id"), "left_anti")
      } else vecs
    val admitted = fresh
      .select(Seq(
        lit(version).as("version"),
        element_at(
          VectorFunctions.codebookTopCells($"v", codebook, nTop = 1), 1)
          .as("cell"),
        $"vec_id") ++ payload: _*)
      .localCheckpoint()
    // delta file sizing (r13, guide §6): the admitted frame inherits the
    // membership shuffle's partitioning (AQE keeps ~|cores| slivers under
    // parallelism-first), so each micro-batch wrote ~16 KB-scale files —
    // and every serve/maintenance pass pays per-file listing+footer costs.
    // coalesce AFTER the checkpoint is a zero-shuffle concat of the
    // already-materialized partitions; micro-batches are bounded by the
    // admission contract, so a small fixed file count is the right
    // economics (a bulk load that wants more parallelism can pre-shape,
    // exactly like the zone face's repartitionByRange discipline). A batch
    // with fewer partitions keeps them: coalesce never raises the count.
    if (Store.appendMaybeIdempotent(admitted.coalesce(DeltaFiles), cellsPath, id))
      Store.maintain(spark, cellsPath, every = maintainEvery)
    admitted.select($"vec_id", $"cell")
  }

  /** Serve cosine top-`k` for `queries` (query_id, q: array<double>)
    * READING ONLY THE STORE: probe the latest version's cells — the
    * (query × nprobe) probe set broadcasts into the version-pruned cells
    * scan (the version predicate reaches the parquet footer as a pushed
    * filter) — score candidates with the exact stored vectors, and
    * window-top-k per query. The shuffle carries candidates only
    * (≤ queries × probed-cell population), never the index.
    *
    * `excludeSelf` drops candidates whose vec_id equals the query_id —
    * the corpus-vector-as-query convention of the sim_* family. */
  def servedIvfTopk(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nprobe: Int, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (version, codebook) = readCodebook(spark, indexDir)
    val probes = queries.select($"query_id", $"q",
      explode(VectorFunctions.codebookTopCells($"q", codebook, nprobe)).as("cell"))
    val candidates = Store.read(spark, cellsDir(indexDir))
      .filter($"version" === version)
      .join(broadcast(probes), "cell")
      .filter(if (excludeSelf) $"vec_id" =!= $"query_id" else lit(true))
      .withColumn("cos", VectorFunctions.cosineSim($"q", $"v"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    candidates.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"),
        $"rank".cast("long").as("rank"), round($"cos", 4).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  // ---- SQ8-quantized cells: the storage-economics face ------------------

  private[graft] def cellsSq8Dir(indexDir: String): String =
    indexDir + "/cells_sq8"

  /** Admit into a QUANTIZED inverted file: cells hold int8 codes plus the
    * per-vector max-|x| scale instead of fp64 components — the IVF-SQ8
    * production trade (FAISS `IVF,SQ8`): storage and scan bytes drop ~8×,
    * served ranks become approximate (the [[SimilaritySearch
    * .simQuantizedTopk]] scoring model; pair with an fp32 side table for
    * exact re-rank when the use case needs it). Cell assignment runs on
    * the FULL-precision vector BEFORE quantization, so cell choice is
    * identical to the exact store's — only the stored representation and
    * the serve-time scores differ. Same per-version membership,
    * idempotent ids, and crash-safe protocol as [[admitBatchIvf]]. */
  def admitBatchIvfSq8(batch: DataFrame, indexDir: String,
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    admitCellsInto(batch, indexDir, cellsSq8Dir(indexDir),
      payload = Seq(VectorFunctions.quantizeInt8(c("v")).as("qv"),
        VectorFunctions.maxAbs(c("v")).as("m")),
      maintainEvery, id)
  }

  /** Serve approximate cosine top-`k` from the QUANTIZED store alone:
    * probes as in [[servedIvfTopk]]; candidate scores are the dequantized
    * int8 dot (`qdot · m_q · m_c / 127²`) — integer arithmetic against
    * the stored codes, no fp64 vector ever read. */
  def servedIvfTopkSq8(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (version, codebook) = readCodebook(spark, indexDir)
    val probes = queries.select($"query_id",
      VectorFunctions.quantizeInt8($"q").as("qq"),
      VectorFunctions.maxAbs($"q").as("mq"),
      explode(VectorFunctions.codebookTopCells($"q", codebook, nprobe)).as("cell"))
    val candidates = Store.read(spark, cellsSq8Dir(indexDir))
      .filter($"version" === version)
      .join(broadcast(probes), "cell")
      .filter(if (excludeSelf) $"vec_id" =!= $"query_id" else lit(true))
      .withColumn("score",
        VectorFunctions.dotInt($"qq", $"qv").cast("double") *
          $"mq" * $"m" / lit(16129.0))
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id")
    candidates.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"query_id", $"vec_id".as("neighbor_id"),
        $"rank".cast("long").as("rank"), round($"score", 4).as("score"))
      .orderBy($"query_id", $"rank")
  }

  /** Retrain-and-migrate — the version-migration contract made an
    * operation: train a spherical k-means codebook ON THE VECTORS ALREADY
    * IN THE INDEX (latest version's cells — the index is self-sufficient;
    * no access to the original embeddings table is needed), re-admit every
    * stored vector under the new quantizer (codebook held in memory), and
    * only THEN register the codebook as version+1.
    *
    * Ordering is the crash contract: serving flips to the new version at
    * the codebook append (readCodebook takes max version), so the cells
    * must be complete BEFORE that append — the flip is atomic AND
    * complete. A crash anywhere mid-migration leaves readCodebook still
    * answering the old version (whose cells are untouched and fully
    * servable); a retried reindex re-derives the same codebook (the
    * trainer is deterministic: smallest-vec_id seeds + Lloyd rounds over
    * the same version-v cells) and re-admission under v+1 is a per-version
    * membership no-op for every vector the crashed attempt already landed.
    * The old version's cells remain until a caller prunes them — migration
    * debris is visible, never load-bearing. Returns the new version. */
  def reindexIvf(spark: SparkSession, indexDir: String,
      nCells: Int = SimilaritySearch.IvfNCells, iters: Int = 2,
      maintainEvery: Int = 16): Int = {
    import spark.implicits._
    val (v, _) = readCodebook(spark, indexDir)
    val stored = Store.read(spark, cellsDir(indexDir))
      .filter($"version" === v)
      .select($"vec_id", $"v")
    val codebook = SimilaritySearch.trainIvfCodebookOn(
      stored.select($"vec_id", $"v".as("r")), nCells, iters)
    admitBatchIvfAt(stored.select($"vec_id", $"v".as("embedding")),
      indexDir, v + 1, codebook, maintainEvery)
    writeIvfIndex(spark, indexDir, codebook, v + 1)
    v + 1
  }

  /** [[admitBatchIvf]] with the quantizer passed explicitly instead of
    * read from the store — the migration face [[reindexIvf]] admits
    * through (its cells must land before the codebook registers), and the
    * seam the crash spec drives to prove a migration interrupted between
    * admission and registration leaves the old version serving. */
  private[graft] def admitBatchIvfAt(batch: DataFrame, indexDir: String,
      version: Int, codebook: Array[Array[Double]],
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame = {
    val c = org.apache.spark.sql.functions.col _
    admitCellsInto(batch, indexDir, cellsDir(indexDir),
      payload = Seq(c("v")), maintainEvery, id,
      versionCodebook = Some((version, codebook)))
  }

  /** Drop every non-latest version's cells (and codebook rows) once a
    * migration is cut over — the companion of [[reindexIvf]], which
    * deliberately leaves the old version servable. Runs as a compaction
    * REWRITE on each store (filter-to-latest inside the crash-safe
    * rename-aside swap), so a crash mid-prune leaves a fully consistent
    * store at one of the two states. */
  def pruneIvfVersions(spark: SparkSession, indexDir: String,
      numFiles: Int = 8): Unit = {
    import spark.implicits._
    val (latest, _) = readCodebook(spark, indexDir)
    Store.compact(spark, codebookDir(indexDir), numFiles = 1,
      rewrite = _.filter($"version" === latest))
    if (Store.hasData(cellsDir(indexDir)))
      Store.compact(spark, cellsDir(indexDir), numFiles = numFiles,
        rewrite = _.filter($"version" === latest))
  }

  /** Streaming face: the SAME admission as the batch path through
    * [[Store.admissionSink]] — a replayed micro-batch re-admits nothing. */
  def ivfStreamingAdmission(vecs: DataFrame, indexDir: String,
      maintainEvery: Int = 8): DataStreamWriter[Row] =
    Store.admissionSink(vecs, "sv") { (batch, id) =>
      admitBatchIvf(batch, indexDir, maintainEvery, id = Some(id)): Unit
    }

  /** Driver face: seed the codebook exactly as [[SimilaritySearch
    * .simIvfTopk]] (first `IvfNCells` vectors — training-free, so the
    * bench line prices admission + serving, not Lloyd rounds), admit the
    * corpus in two INTERLEAVED halves into a throwaway index, and serve
    * the standard query set from the store alone. Rows-only: the in-query
    * `sim_ivf_topk` is itself argmax-over-codebook non-ANSI; the spec pins
    * the stronger fact that this result EQUALS sim_ivf_topk's on the same
    * codebook, plus half+half ≡ from-scratch and replay no-op. */
  def simIvfServed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_index_").toString
    try {
      val vecs = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding")
      Phases.time("build") {
        val cb = vecs
          .select($"vec_id", Similarity.toDoubleArray($"embedding").as("v"))
          .filter($"vec_id" < SimilaritySearch.IvfNCells)
          .orderBy($"vec_id").collect()
          .map(_.getSeq[Double](1).toArray)
        writeIvfIndex(spark, indexDir, cb)
      }
      Phases.time("admit") {
        admitBatchIvf(vecs.filter($"vec_id" % 2 === 0), indexDir)
        admitBatchIvf(vecs.filter($"vec_id" % 2 =!= 0), indexDir)
      }
      val queries = vecs
        .filter($"vec_id" < SimilaritySearch.NQueries)
        .select($"vec_id".as("query_id"),
          Similarity.toDoubleArray($"embedding").as("q"))
      Phases.time("serve") {
        servedIvfTopk(spark, indexDir, queries,
          k = SimilaritySearch.K, nprobe = SimilaritySearch.IvfNProbe)
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir)):
        Unit
    }
  }

  /** Driver face of the QUANTIZED store: same throwaway-index protocol as
    * [[simIvfServed]], but admission and serving run the SQ8 path — the
    * result the driver hashes is produced entirely from int8 codes +
    * scales read back from the store. */
  def simIvfServedSq8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft_ivfq_index_").toString
    try {
      val vecs = Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding")
      Phases.time("build") {
        val cb = vecs
          .select($"vec_id", Similarity.toDoubleArray($"embedding").as("v"))
          .filter($"vec_id" < SimilaritySearch.IvfNCells)
          .orderBy($"vec_id").collect()
          .map(_.getSeq[Double](1).toArray)
        writeIvfIndex(spark, indexDir, cb)
      }
      Phases.time("admit") {
        admitBatchIvfSq8(vecs.filter($"vec_id" % 2 === 0), indexDir)
        admitBatchIvfSq8(vecs.filter($"vec_id" % 2 =!= 0), indexDir)
      }
      val queries = vecs
        .filter($"vec_id" < SimilaritySearch.NQueries)
        .select($"vec_id".as("query_id"),
          Similarity.toDoubleArray($"embedding").as("q"))
      Phases.time("serve") {
        servedIvfTopkSq8(spark, indexDir, queries,
          k = SimilaritySearch.K, nprobe = SimilaritySearch.IvfNProbe)
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(indexDir)):
        Unit
    }
  }

  /** DuckDB twin of [[simIvfServedSq8]]: the [[SimilaritySearch
    * .simIvfTopkSql]] assignment/probe construction composed with the
    * [[SimilaritySearch.simQuantizedTopkSql]] dequantized-int8 scoring
    * model — `round(x·127/max|x|)` codes (the kernel's CASE-guarded
    * all-zero branch included), exact integer dot in double (≤ 64·127²,
    * far inside the 2^53 exact-integer range), `qdot·m_q·m_c/127²` in the
    * engine's association order. */
  val simIvfServedSq8Sql: String = {
    val cos =
      """(CASE WHEN sqrt(list_inner_product(v.emb, v.emb)) * sqrt(list_inner_product(cb.cemb, cb.cemb)) = 0
        |       THEN 0.0
        |       ELSE list_inner_product(v.emb, cb.cemb) /
        |            (sqrt(list_inner_product(v.emb, v.emb)) * sqrt(list_inner_product(cb.cemb, cb.cemb))) END)""".stripMargin
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cb AS (SELECT vec_id AS cell, emb AS cemb FROM v WHERE vec_id < ${SimilaritySearch.IvfNCells}),
       |scored AS (
       |  SELECT v.vec_id, cb.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY $cos DESC, cb.cell DESC) AS rnk
       |  FROM v CROSS JOIN cb
       |),
       |assigned AS (SELECT vec_id, cell FROM scored WHERE rnk = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM scored
       |           WHERE vec_id < ${SimilaritySearch.NQueries} AND rnk <= ${SimilaritySearch.IvfNProbe}),
       |q8 AS (
       |  SELECT vec_id, m,
       |    list_transform(emb, x -> CAST(round(x * scale) AS INTEGER)) AS qv
       |  FROM (SELECT vec_id, emb,
       |          list_max(list_transform(emb, x -> abs(x))) AS m,
       |          CASE WHEN list_max(list_transform(emb, x -> abs(x))) > 0
       |               THEN 127.0 / list_max(list_transform(emb, x -> abs(x)))
       |               ELSE 0.0 END AS scale
       |        FROM v)
       |),
       |ranked AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CAST(list_dot_product(CAST(qq.qv AS DOUBLE[]), CAST(c.qv AS DOUBLE[])) AS BIGINT)
       |      * qq.m * c.m / 16129.0 AS score,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY CAST(list_dot_product(CAST(qq.qv AS DOUBLE[]), CAST(c.qv AS DOUBLE[])) AS BIGINT)
       |                 * qq.m * c.m / 16129.0 DESC, a.vec_id) AS rank
       |  FROM assigned a
       |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN q8 qq ON qq.vec_id = p.query_id
       |  JOIN q8 c ON c.vec_id = a.vec_id
       |)
       |SELECT query_id, neighbor_id, rank, round(score, 4) AS score
       |FROM ranked WHERE rank <= ${SimilaritySearch.K}
       |ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ivf_served" -> (simIvfServed _),
    "sim_ivf_served_sq8" -> (simIvfServedSq8 _))

  /** Same oracle as sim_ivf_topk: the driver face is spec-proven equal to
    * the in-query operator on the shared codebook, so they ride one SQL
    * twin — the hash check independently re-proves that serving from the
    * persisted store is invisible in the result. */
  val oracles: Map[String, String] = Map(
    "sim_ivf_served" -> SimilaritySearch.simIvfTopkSql,
    "sim_ivf_served_sq8" -> simIvfServedSq8Sql)
}
