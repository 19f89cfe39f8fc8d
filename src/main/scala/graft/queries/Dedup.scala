package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, SimHash, VectorFunctions, TextFunctions => TF}
import graft.sources.Tables

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline. Four families: exact (hash groupBy), MinHash+LSH
  * banding, SimHash Hamming-banding, exact n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 128-bit fingerprint — the minimum
  *    possible data movement (fingerprints, not documents, after the first
  *    projection);
  *  - MinHash/LSH turns the O(n²) all-pairs problem into `explode(bands)` +
  *    an equi-join on band keys: only documents agreeing on a band collide,
  *    so the join is sparse and shuffle keys are uniformly-distributed hashes
  *    (no skew);
  *  - SimHash is one codegen'd projection to a 64-bit value; banding on
  *    16-bit quarters finds all pairs within Hamming distance 3 exactly
  *    (pigeonhole: d<=3 differing bits leave >=1 of 4 bands identical);
  *  - candidate pairs are re-verified with the exact measure before emission
  *    (LSH only generates candidates — precision comes from verification).
  */
object Dedup {

  /** Shipped banding parameters — the single source of truth shared by the
    * operators below AND by [[DataPipeline.methodCard]], so the published
    * caveat card cannot drift from the code that runs. */
  private[graft] val MinhashBands = 8
  private[graft] val MinhashRowsPerBand = 4
  private[graft] val MinhashThreshold = 0.8
  private[graft] val SignLshBands = 4
  private[graft] val SignLshPlanesPerBand = 4
  private[graft] val EmbeddingCosineThreshold = 0.4

  /** Documents as sorted 64-bit shingle-hash sets: one codegen'd pass builds
    * (doc_id[, source], sh, sz); shingle strings never leave this projection.
    * Shared base of every shingle-level dedup family below. */
  private[queries] def shingledDocs(spark: SparkSession, dir: String,
      withSource: Boolean = false): DataFrame = {
    import spark.implicits._
    val cols =
      (if (withSource) Seq($"source") else Nil) ++
        Seq($"doc_id", VectorFunctions.shingleHashSet($"text", 3).as("sh"))
    Tables.documents(spark, dir)
      .select(cols: _*)
      .withColumn("sz", size($"sh"))
  }

  /** (doc_id, band, key) LSH index rows for `docs` — the exploded banded
    * minhash signature shared by the self-join ([[minhashVerifiedPairs]]) and
    * cross-join ([[minhashCrossVerifiedPairs]]) candidate generators. */
  private def bandedKeys(docs: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val n = nBands * rowsPerBand
    val mins = (0 until n).map(j => min(xxhash64($"h", lit(j))).as(s"h$j"))
    val sig = docs.select($"doc_id", explode($"sh").as("h"))
      .groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    sig.select($"doc_id", explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((rowsPerBand * b until rowsPerBand * (b + 1))
          .map(j => col(s"h$j")): _*).as("key"))
    }: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.key".as("key"))
  }

  /** Exact-Jaccard verification of a candidate (doc_a, doc_b) id-pair set:
    * rejoin the shingle sets, one codegen'd merge-intersection per pair,
    * keep jac >= t. */
  private def verifyJaccard(cand: DataFrame, docsA: DataFrame, docsB: DataFrame,
      t: Double): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(docsA.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"sz".as("sz_a")), "doc_a")
      .join(docsB.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"sz".as("sz_b")), "doc_b")
      .withColumn("inter", VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      .withColumn("jac",
        $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .filter($"jac" >= t)
      .select($"doc_a", $"doc_b", $"jac")
  }

  /** Near-dup pairs via MinHash banding over `docs` (from [[shingledDocs]]):
    * signatures are `nBands*rowsPerBand` map-side-combined min-aggregations
    * over the exploded hash index (codegen'd hash agg — interpreted HOF
    * transforms were the sf0.1 bottleneck); candidate ids only through the
    * band join; hash arrays rejoin AFTER the candidate set collapses for one
    * merge-intersection each. Returns (doc_a, doc_b, jac) with jac >= t.
    * Contract: `doc_id` must be globally unique in `docs` (the verify joins
    * key on it alone — unlike [[prefixFilterJaccardPairs]], which scopes by
    * source). */
  private[queries] def minhashVerifiedPairs(docs: DataFrame, nBands: Int,
      rowsPerBand: Int, t: Double): DataFrame = {
    import docs.sparkSession.implicits._
    val banded = bandedKeys(docs, nBands, rowsPerBand)
    val cand = banded.select($"band", $"key", $"doc_id".as("doc_a"))
      .join(banded.select($"band", $"key", $"doc_id".as("doc_b")), Seq("band", "key"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    verifyJaccard(cand, docs, docs, t)
  }

  /** Cross-corpus near-dup pairs: candidates from an equi-join of the two
    * sides' OWN band indexes (each side bands only its own documents — at
    * 100 TB the small side's index is a fraction of a self-join's), verified
    * with exact Jaccard. Returns (doc_a ∈ docsA, doc_b ∈ docsB, jac >= t).
    * Same recall argument as [[minhashVerifiedPairs]]: banding bounds recall,
    * verification makes precision exact.
    *
    * Contract: `doc_id` must be unique across docsA ∪ docsB (e.g. two
    * disjoint splits of one corpus, as in the contamination caller). The
    * doc_a ≠ doc_b guard then only suppresses the same underlying document
    * appearing on both sides (overlapping splits); with independent id
    * spaces it would wrongly drop distinct same-id documents — re-key one
    * side first in that case. */
  private[queries] def minhashCrossVerifiedPairs(docsA: DataFrame, docsB: DataFrame,
      nBands: Int, rowsPerBand: Int, t: Double): DataFrame = {
    import docsA.sparkSession.implicits._
    val cand = bandedKeys(docsA, nBands, rowsPerBand)
      .select($"band", $"key", $"doc_id".as("doc_a"))
      .join(bandedKeys(docsB, nBands, rowsPerBand)
        .select($"band", $"key", $"doc_id".as("doc_b")), Seq("band", "key"))
      .filter($"doc_a" =!= $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    verifyJaccard(cand, docsA, docsB, t)
  }

  /** Exact dedup: group by md5(normalized text); keep min doc_id per group.
    * Output is every group (fingerprint, keeper, n_copies) — the survivor
    * list and the duplicate count in one result. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TF.fingerprintMd5($"text").as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy($"fp")
  }

  val dedupExactSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY fp""".stripMargin

  /** MinHash+LSH near-dup pairs: 3-word shingles → 32-component signature →
    * 8 bands × 4 rows → equi-self-join on band key → verify exact Jaccard ≥ t.
    * 8×4 banding (same as [[dedupClusters]] edges) has brute-force-exact
    * recall at this corpus' similarity levels (LlmOpsSpec), so the verified
    * output equals the exact-Jaccard pair set and IS oracle-checked against
    * DuckDB's brute-force pair join. The jaccard value is computed on hashed
    * shingle sets; set sizes equal the string-set sizes w.h.p. (64-bit
    * hashes, P(collision) ≈ 1e-15), so both engines produce the same ratio. */
  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashVerifiedPairs(shingledDocs(spark, dir), nBands = MinhashBands,
      rowsPerBand = MinhashRowsPerBand, t = MinhashThreshold)
      .select($"doc_a", $"doc_b", $"jac".as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupMinhashPairsSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS toks
      |        FROM documents))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact Jaccard set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., WWW'08) —
    * over `docs` from [[shingledDocs]] (source, doc_id, sh sorted, sz).
    * Threshold t = tNum/tDen is kept rational so every filter is exact
    * integer arithmetic (no float-boundary surprises).
    *
    * Never materializes all pairs. Three bounds do the pruning:
    *  - prefix filter: tokens of each doc are ordered rarest-first by
    *    per-source document frequency (ties by hash — a total order shared by
    *    all docs in the block); only the first `sz - ceil(t*sz) + 1` tokens
    *    are indexed. Two docs with Jaccard >= t MUST share a prefix token,
    *    so the inverted-index equi-join on (source, prefix token) finds every
    *    true pair. Rarest-first ordering keeps high-frequency tokens out of
    *    the index, so posting lists stay short even on repetitive corpora.
    *  - length filter: |min| >= t*|max|, else Jaccard < t regardless of
    *    overlap.
    *  - positional filter (PPJoin): a match at 1-based prefix positions
    *    (pa, pb) caps the overlap at 1 + min(sz_a-pa, sz_b-pb); require
    *    (tNum+tDen)*cap >= tNum*(sz_a+sz_b)  (⟺ cap >= t/(1+t)*(sz_a+sz_b)).
    *
    * Candidates travel as ids+positions only; the shingle arrays rejoin AFTER
    * the candidate set collapses, for one codegen'd merge-intersection per
    * surviving pair. At 100 TB this is the scale-correct form: shuffle volume
    * is O(sum of prefix posting-list squares), not O(block²), and the final
    * verify join is an equi-join on doc ids. */
  private[graft] def prefixFilterJaccardPairs(docs: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // verify joins carry source so per-source doc ids can't attach foreign
    // shingle arrays (doc_id is only guaranteed unique within a source)
    prefixFilterCandidates(docs, tNum, tDen)
      .join(docs.select($"source", $"doc_id".as("doc_a"), $"sh".as("sh_a"),
        $"sz".as("sz_a")), Seq("source", "doc_a"))
      .join(docs.select($"source", $"doc_id".as("doc_b"), $"sh".as("sh_b"),
        $"sz".as("sz_b")), Seq("source", "doc_b"))
      .withColumn("inter", VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      // threshold test in exact integers: I/U >= tNum/tDen  ⟺  I*tDen >= U*tNum
      .filter($"inter" * tDen >= ($"sz_a" + $"sz_b" - $"inter") * tNum)
      .withColumn("jac",
        $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .select($"source", $"doc_a", $"doc_b", $"jac")
  }

  /** The candidate half of [[prefixFilterJaccardPairs]] — distinct (source,
    * doc_a, doc_b) id pairs surviving the prefix + length + positional
    * filters, BEFORE the merge-intersection verify. Exposed so
    * CandidateVolumeSpec can pin the sub-quadratic candidate bound on a
    * tiny-vocabulary repetitive corpus (the adversarial case rarest-first
    * prefix ordering exists for). */
  private[graft] def prefixFilterCandidates(docs: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    import docs.sparkSession.implicits._
    require(tNum > 0 && tNum < tDen, s"need 0 < t < 1, got $tNum/$tDen")
    // ceil(t*n) in exact integer arithmetic (n small → double div is exact,
    // cast truncates the already-integral value)
    def ceilT(n: Column): Column =
      floor((n * tNum + (tDen - 1)) / tDen).cast("int")

    val ex = docs.select($"source", $"doc_id", $"sz", explode($"sh").as("h"))
    val dfreq = ex.groupBy($"source", $"h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy($"source", $"doc_id").orderBy($"df", $"h")
    val index = ex.join(dfreq, Seq("source", "h"))
      .withColumn("pos", row_number().over(byRarity))
      .filter($"pos" <= $"sz" - ceilT($"sz") + 1)
      .select($"source", $"h", $"doc_id", $"pos", $"sz")

    val a = index.select($"source", $"h", $"doc_id".as("doc_a"),
      $"pos".as("pos_a"), $"sz".as("sz_a"))
    val b = index.select($"source", $"h", $"doc_id".as("doc_b"),
      $"pos".as("pos_b"), $"sz".as("sz_b"))
    a.join(b, Seq("source", "h"))
      .filter($"doc_a" < $"doc_b")
      .filter(least($"sz_a", $"sz_b") * tDen >= greatest($"sz_a", $"sz_b") * tNum)
      .filter((lit(1) + least($"sz_a" - $"pos_a", $"sz_b" - $"pos_b")) * (tNum + tDen)
        >= ($"sz_a" + $"sz_b") * tNum)
      .select($"source", $"doc_a", $"doc_b").distinct()
  }

  /** Blocked all-pairs form of the same join: O(block²) merge-intersections
    * within each `source`. Kept as the fallback for blocks small enough that
    * building the inverted index costs more than the quadratic scan, and as
    * the independent implementation DedupSpec cross-checks
    * [[prefixFilterJaccardPairs]] against. Not the scale default. */
  private[graft] def blockedJaccardPairs(docs: DataFrame, t: Double): DataFrame = {
    import docs.sparkSession.implicits._
    // empty shingle sets (texts under 3 words) are excluded, matching the
    // prefix-filter form (which never indexes them); without this, an
    // empty-empty pair yields jac = 0/0 = NaN, and NaN >= t is TRUE under
    // Spark's NaN-greatest ordering — a silent divergence on short docs
    val ne = docs.filter($"sz" > 0)
    val a = ne.select($"source", $"doc_id".as("doc_a"), $"sh".as("sh_a"), $"sz".as("sz_a"))
    val b = ne.select($"source", $"doc_id".as("doc_b"), $"sh".as("sh_b"), $"sz".as("sz_b"))
    a.join(b, "source")
      .filter($"doc_a" < $"doc_b")
      .withColumn("inter", VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      .withColumn("jac",
        $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .filter($"jac" >= t)
      .select($"source", $"doc_a", $"doc_b", $"jac")
  }

  /** Exact n-gram Jaccard near-dup pairs within each `source` group, via the
    * prefix-filter (PPJoin-style) inverted-index join — fully SQL-expressible
    * so this one IS oracle-checked. 3-word shingles, distinct-set
    * Jaccard ≥ 0.5.
    * Collision note: 64-bit hashes over ~100-element sets — P(any collision)
    * ≈ 1e-15, far below the oracle's float-rounding tolerance. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = shingledDocs(spark, dir, withSource = true)
    prefixFilterJaccardPairs(docs, tNum = 1, tDen = 2)
      .select($"source", $"doc_a", $"doc_b", $"jac".as("jaccard"))
      .orderBy($"source", $"doc_a", $"doc_b")
  }

  // Jaccard = |∩|/|∪| of integer set sizes → identical doubles in both
  // engines, emitted RAW (rounding a double diverges cross-engine — DuckDB
  // round is not nearest-double-of-decimal). list_distinct before compare.
  val dedupNgramJaccardSql: String =
    """WITH sh AS (
      |  SELECT source, doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS sh
      |  FROM (SELECT source, doc_id,
      |          string_split(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS toks
      |        FROM documents))
      |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
      |ORDER BY source, doc_a, doc_b""".stripMargin

  /** SimHash near-dup pairs: 64-bit simhash per doc (custom codegen'd
    * Catalyst expression), banded into 4×16-bit keys; pairs sharing a band are
    * verified by full Hamming distance ≤ 3. Exact for d<=3 by pigeonhole —
    * which makes the banded output EQUAL to brute-force hamming ≤ 3, and
    * THAT is what the oracle checks: [[dedupSimhashSql]] re-derives FNV-1a
    * and the sign-accumulation in DuckDB (HUGEINT wrap-around arithmetic,
    * hex-decoded UTF-8 bytes, hi/lo 32-bit halves for xor/bit_count) and
    * brute-forces all pairs — independent reimplementation, shared only
    * the published FNV constants and the engine's tokenization fragment. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", SimHash.simhash64(TF.wordTokens($"text")).as("sh"))
    val banded = docs.select($"doc_id", $"sh",
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright($"sh", b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("bk"))
      .select($"doc_id", $"sh", $"bk.band".as("band"), $"bk.key".as("key"))
    val a = banded.select($"band", $"key", $"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = banded.select($"band", $"key", $"doc_id".as("doc_b"), $"sh".as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        SimHash.hammingDistance($"sh_a", $"sh_b").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .orderBy($"doc_a", $"doc_b")
  }

  /** DuckDB twin of [[dedupSimhash]]. Independence argument: same PUBLIC
    * algorithm (FNV-1a 64 constants, Charikar sign-accumulation), fully
    * re-derived mechanics — bytes come from hex-decoding the token (so
    * multi-byte UTF-8 matches Java's getBytes exactly), the 64-bit
    * wrap-around multiply runs in HUGEINT mod 2^64 (xor emulated on the
    * low byte, the only byte FNV xors), and the final hash lives as hi/lo
    * 32-bit BIGINT halves so banding-free brute-force hamming uses plain
    * xor + bit_count. Brute force over all pairs replaces the banding —
    * legitimate because pigeonhole makes banding exact at hamming ≤ 3. */
  val dedupSimhashSql: String = {
    val fnv =
      """list_reduce(
        |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |        [16*(strpos('0123456789ABCDEF', hex(tok)[2*i-1])-1) +
        |         strpos('0123456789ABCDEF', hex(tok)[2*i])-1
        |         FOR i IN range(1, strlen(tok)+1)]),
        |      (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
        |                 * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin
    s"""WITH nrm AS (
       |  SELECT doc_id, ${OracleFragments.norm("text")} AS norm FROM documents
       |),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
       |  FROM nrm WHERE length(norm) > 0
       |),
       |th AS (
       |  SELECT doc_id,
       |    CAST(fnv // CAST(4294967296 AS HUGEINT) AS BIGINT) AS h_hi,
       |    CAST(fnv % CAST(4294967296 AS HUGEINT) AS BIGINT) AS h_lo
       |  FROM (SELECT doc_id, $fnv AS fnv FROM toks)
       |),
       |bitcnt AS (
       |  SELECT doc_id, bb.bit AS bit,
       |    sum(CASE WHEN ((CASE WHEN bb.bit < 32 THEN h_lo >> bb.bit
       |                    ELSE h_hi >> (bb.bit-32) END) & 1) = 1
       |        THEN 1 ELSE -1 END) AS cnt
       |  FROM th CROSS JOIN (SELECT unnest(range(0,64)) AS bit) bb
       |  GROUP BY doc_id, bb.bit
       |),
       |sh AS (
       |  SELECT n.doc_id, coalesce(s.sh_hi, 0) AS sh_hi, coalesce(s.sh_lo, 0) AS sh_lo
       |  FROM nrm n LEFT JOIN (
       |    SELECT doc_id,
       |      sum(CASE WHEN cnt > 0 AND bit >= 32 THEN (CAST(1 AS BIGINT) << (bit-32)) ELSE 0 END) AS sh_hi,
       |      sum(CASE WHEN cnt > 0 AND bit < 32 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sh_lo
       |    FROM bitcnt GROUP BY doc_id) s ON n.doc_id = s.doc_id
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh_hi, b.sh_hi)) + bit_count(xor(a.sh_lo, b.sh_lo)) AS INTEGER) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh_hi, b.sh_hi)) + bit_count(xor(a.sh_lo, b.sh_lo)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** High-similarity embedding pairs: banded sign-LSH (4 bands × 4
    * deterministic hyperplanes; candidates = any band agrees) then exact
    * cosine ≥ threshold on candidates. The test embeddings are near-random
    * (max pairwise cosine ≈ 0.51), so the threshold is 0.4 — "top of the
    * distribution" rather than true near-dups, exercising the same plan
    * shape. LlmOpsSpec verifies precision (every emitted pair really clears
    * the threshold, brute-force checked); recall vs brute force is partial
    * by design (~50% at the threshold boundary, what banding theory
    * predicts at 4×4 — exact recall would need 32 bands, by which point 85%
    * of all pairs are candidates and LSH is brute force in disguise).
    *
    * Oracle-checked since r9: partial recall never blocked an oracle — the
    * OUTPUT is deterministic (fixed planes → fixed bands → fixed candidate
    * set), so [[dedupEmbeddingCosineSql]] re-derives the banding with the
    * same inlined plane constants and must match pair-for-pair. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    embeddingCosinePairs(spark, dir, threshold = EmbeddingCosineThreshold)
      .orderBy($"id_a", $"id_b")
  }

  /** The banded-LSH + exact-cosine pair generator behind
    * [[dedupEmbeddingCosine]] (unordered), shared with [[dedupSemantic]]. */
  private[graft] def embeddingCosinePairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("v"))
    val banded = vecs
      .select($"vec_id", $"v",
        explode(Similarity.signLshBands($"v", nBands = SignLshBands,
          planesPerBand = SignLshPlanesPerBand, dim = 64)).as("bk"))
      .select($"vec_id", $"bk.band".as("band"), $"bk.key".as("key"))
    // ids-only candidate join + distinct, THEN one codegen'd cosine per
    // surviving pair (VectorFunctions.cosineSim — the interpreted
    // zip_with/aggregate HOF was the sf0.1 bottleneck)
    val a = banded.select($"band", $"key", $"vec_id".as("id_a"))
    val b = banded.select($"band", $"key", $"vec_id".as("id_b"))
    val cand = a.join(b, Seq("band", "key"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
    cand
      .join(vecs.select($"vec_id".as("id_a"), $"v".as("v_a")), "id_a")
      .join(vecs.select($"vec_id".as("id_b"), $"v".as("v_b")), "id_b")
      .select($"id_a", $"id_b",
        round(VectorFunctions.cosineSim($"v_a", $"v_b"), 4).as("cosine"))
      .filter($"cosine" >= threshold)
  }

  /** DuckDB twin of [[dedupEmbeddingCosine]] — engine-GENERATED oracle (the
    * langid-profile pattern): the 16 deterministic hyperplanes are computed
    * once by [[Similarity.signLshPlanes]] and inlined as literals; the
    * mechanics (sign-bit band keys, band equi-join candidates, exact cosine
    * filter) are re-derived in SQL. Deterministic sign-LSH is fully
    * expressible — the earlier "recall is probabilistic" rows-only argument
    * conflated the operator's recall vs BRUTE FORCE (genuinely partial,
    * spec-pinned) with reproducibility of its OUTPUT (exact: same planes →
    * same bands → same candidates → same pairs). `list_cosine_similarity`
    * agreeing with the codegen'd kernel at 4-decimal rounding is already
    * load-bearing in the green sim_bruteforce_topk oracle. */
  /** Shared WITH-body for the embedding-pair oracles: sign-LSH band keys
    * (inlined plane literals), candidate equi-join, exact-cosine filter —
    * ends in a `pairs(id_a, id_b, cosine)` CTE that both the pair-report
    * and the semantic-CC oracles consume. */
  private def embeddingPairsWithBody: String = {
    val planes = Similarity.signLshPlanes(
      SignLshBands * SignLshPlanesPerBand, dim = 64)
    def dot(p: Seq[Double]): String =
      s"list_inner_product(emb, [${p.mkString(", ")}])"
    val bandSelects = (0 until SignLshBands).map { b =>
      val key = (0 until SignLshPlanesPerBand).map { i =>
        s"(CASE WHEN ${dot(planes(b * SignLshPlanesPerBand + i))} >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, $b AS band, $key AS key FROM v"
    }.mkString("\n  UNION ALL\n")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |banded AS (
       |$bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.vec_id < b.vec_id
       |),
       |pairs AS (
       |  SELECT id_a, id_b,
       |    round(list_cosine_similarity(va.emb, vb.emb), 4) AS cosine
       |  FROM cand
       |  JOIN v va ON va.vec_id = id_a
       |  JOIN v vb ON vb.vec_id = id_b
       |  WHERE round(list_cosine_similarity(va.emb, vb.emb), 4) >= $EmbeddingCosineThreshold
       |)""".stripMargin
  }

  val dedupEmbeddingCosineSql: String =
    s"""WITH $embeddingPairsWithBody
       |SELECT id_a, id_b, cosine FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of [[dedupSemantic]]: the edge set is the (now
    * oracle-proven deterministic) pair CTE; connected components are the
    * transitive closure by recursive CTE — `reach` saturates each vertex's
    * reachable set over undirected edges (UNION dedups, so the fixpoint
    * terminates), the component representative is the min reachable id,
    * exactly the engine CC loop's min-label convergence. Quadratic in
    * component size — fine for an oracle, not a 100 TB plan (which is why
    * the ENGINE runs label propagation instead). */
  val dedupSemanticSql: String =
    s"""WITH RECURSIVE $embeddingPairsWithBody,
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM v
       |  UNION
       |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
       |),
       |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
       |SELECT label AS cluster_rep, count(*) AS n_members
       |FROM labels GROUP BY label
       |ORDER BY cluster_rep""".stripMargin

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): connected
    * components over high-cosine EMBEDDING pairs instead of lexical-shingle
    * pairs — clusters paraphrases and re-encodings that share no n-grams,
    * keeping the min-id representative per semantic cluster. Reuses
    * [[embeddingCosinePairs]] (banded sign-LSH candidates → codegen'd exact
    * cosine) for edges and the generic [[connectedComponents]] loop; the
    * same 100 TB bounds apply (ids-only candidate join on uniform band
    * keys, O(diameter) label rounds, one action per round).
    *
    * Oracle-checked since r9 ([[dedupSemanticSql]]): the edge set is
    * deterministic (fixed planes), and CC over a fixed edge set is a pure
    * function — the recursive-CTE transitive closure must produce the same
    * (min-id representative, size) rows. The spec additionally pins label
    * consistency and member conservation at sf0.001. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val verts = Tables.embeddings(spark, dir)
      .select($"vec_id".as("id"), $"vec_id".as("label"))
    val pairs = embeddingCosinePairs(spark, dir, threshold = EmbeddingCosineThreshold)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"))
    connectedComponents(verts, pairs, _.localCheckpoint())
      .groupBy($"label".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"cluster_rep")
  }

  /** Fuzzy (edit-distance) near-dup pairs: levenshtein(normalized texts)
    * ≤ 4 — catches character-level corruption (OCR noise, encoding damage,
    * single-word edits) that token-level Jaccard under-weights. Candidate
    * generation is LOSSLESS length-band blocking: |len_a − len_b| ≤ k is
    * necessary for distance ≤ k, so side A explodes into the ⌈(2k+1)/B⌉+1
    * buckets its ±k window covers and side B keys by ⌊len/B⌋ — every true
    * pair meets in exactly one bucket (B's single key), no dedup needed.
    * Candidates travel as ids+lengths only; texts rejoin for ONE verify per
    * pair, using the THRESHOLDED levenshtein kernel (returns −1 past k, so
    * the DP exits early on the ~everything that doesn't match).
    *
    * Candidate generation is PassJoin segment filtering (Li et al.,
    * VLDB'12; kernel contract in [[graft.functions.PassJoinUtil]]): the
    * shorter side of a pair partitions into k+1 segments, ≥ 1 of which an
    * edit script of ≤ k ops must leave intact — so candidates are an
    * EQUI-JOIN on hashed (length, segment, content) keys, ids only. Per-doc
    * key fan-out is a constant in k ((k+1) index keys, ≤ (k+1)³ probe keys),
    * so candidate volume is linear in corpus size regardless of the length
    * distribution — unlike length-band blocking, whose within-band join goes
    * quadratic when a real corpus concentrates into few bands (the r5 scale
    * gap). [[bandFuzzyPairs]] keeps the band form as the differential
    * cross-check. */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairs(spark, dir, k = 4)

  private def normalizedDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TF.normalizeText($"text").as("t"))
      .withColumn("len", length($"t"))
  }

  /** Exact thresholded-levenshtein verify of ids-only candidate pairs:
    * texts rejoin for ONE DP per pair (kernel returns −1 past k, so the DP
    * exits early on the ~everything that doesn't match). */
  private def verifyLevenshtein(cand: DataFrame, n: DataFrame, k: Int): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(n.select($"doc_id".as("doc_a"), $"t".as("t_a")), "doc_a")
      .join(n.select($"doc_id".as("doc_b"), $"t".as("t_b")), "doc_b")
      .withColumn("distance", levenshtein($"t_a", $"t_b", k))
      .filter($"distance" >= 0)
      .select($"doc_a", $"doc_b", $"distance".cast("long").as("distance"))
      .orderBy($"doc_a", $"doc_b")
  }

  private[graft] def fuzzyPairs(spark: SparkSession, dir: String, k: Int): DataFrame =
    passJoinPairs(normalizedDocs(spark, dir), k)

  /** PassJoin candidate generation + exact verify over a normalized
    * (doc_id, t, len) frame — split from [[fuzzyPairs]] so specs can drive
    * it with adversarial fixtures. */
  private[graft] def passJoinPairs(n: DataFrame, k: Int): DataFrame =
    verifyLevenshtein(passJoinCandidates(n, k), n, k)

  /** The candidate half of [[passJoinPairs]] — distinct (doc_a, doc_b) id
    * pairs BEFORE the levenshtein verify. Exposed so CandidateVolumeSpec can
    * pin the ≤ c·n candidate bound on adversarial length distributions (the
    * whole point of PassJoin over length-band blocking). */
  private[graft] def passJoinCandidates(n: DataFrame, k: Int): DataFrame = {
    import n.sparkSession.implicits._
    import graft.functions.PassJoinFunctions
    val longEnough = n.filter($"len" > k) // k+1 non-empty segments need len ≥ k+1
    val segs = longEnough.select($"doc_id".as("id_s"),
      explode(PassJoinFunctions.segKeys($"t", k)).as("key"))
    val subs = longEnough.select($"doc_id".as("id_p"),
      explode(PassJoinFunctions.subKeys($"t", k)).as("key"))
    // probe keys cover shorter lengths la ∈ [lb−k, lb] only, so orientation
    // (index = shorter) is enforced by the key itself; equal-length pairs
    // match in both directions and self-pairs at Δ=0 always match → exclude
    // self, normalize to doc_a < doc_b, distinct
    val candSeg = segs.join(subs, "key")
      .filter($"id_s" =!= $"id_p")
      .select(least($"id_s", $"id_p").as("doc_a"),
        greatest($"id_s", $"id_p").as("doc_b"))
    // strings under k+1 code points have no non-empty segmentation: pair the
    // tiny block (shorter ≤ k ⇒ longer ≤ 2k) directly — a join both of whose
    // sides hold only near-empty docs, broadcastable at any corpus scale
    val tiny = n.filter($"len" <= k)
      .select($"doc_id".as("id_s"), $"len".as("len_s"))
    val small = n.filter($"len" <= 2 * k)
      .select($"doc_id".as("id_p"), $"len".as("len_p"))
    val candTiny = broadcast(tiny).join(small,
        abs($"len_s" - $"len_p") <= k && $"id_s" =!= $"id_p")
      .select(least($"id_s", $"id_p").as("doc_a"),
        greatest($"id_s", $"id_p").as("doc_b"))
    candSeg.union(candTiny).distinct()
  }

  /** PassJoin candidates ACROSS two corpora: every (a, b) pair with
    * editDistance(a.t, b.t) ≤ k, ids in separate namespaces (no self-pair
    * or ordering concerns — a is not b). Same kernels and bounds as
    * [[passJoinPairs]]; orientation is by length, so A-segments probe
    * B-substrings for len_a ≤ len_b and A-substrings probe B-segments for
    * the converse; equal lengths match in both directions and collapse in
    * the distinct. Inputs are normalized (doc_id, t, len) frames. Backs
    * fuzzy eval-set decontamination — batch and its per-micro-batch
    * streaming face (state-free: no keys ever persist across batches). */
  private[graft] def fuzzyCrossPairs(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    import a.sparkSession.implicits._
    import graft.functions.PassJoinFunctions
    def seg(n: DataFrame, idAs: String) = n.filter($"len" > k).select(
      $"doc_id".as(idAs), explode(PassJoinFunctions.segKeys($"t", k)).as("key"))
    def sub(n: DataFrame, idAs: String) = n.filter($"len" > k).select(
      $"doc_id".as(idAs), explode(PassJoinFunctions.subKeys($"t", k)).as("key"))
    val segCand = seg(a, "id_a").join(sub(b, "id_b"), "key").select($"id_a", $"id_b")
    val subCand = sub(a, "id_a").join(seg(b, "id_b"), "key").select($"id_a", $"id_b")
    // pairs whose SHORTER side is under k+1 code points (no non-empty
    // segmentation): both sides are then ≤ 2k — a near-empty-docs block,
    // broadcastable at any corpus scale
    val tinyA = a.filter($"len" <= 2 * k).select($"doc_id".as("id_a"), $"len".as("len_a"))
    val tinyB = b.filter($"len" <= 2 * k).select($"doc_id".as("id_b"), $"len".as("len_b"))
    val tinyCand = broadcast(tinyA).join(tinyB,
        abs($"len_a" - $"len_b") <= k && least($"len_a", $"len_b") <= k)
      .select($"id_a", $"id_b")
    val cand = segCand.union(subCand).union(tinyCand).distinct()
    cand
      .join(a.select($"doc_id".as("id_a"), $"t".as("t_a")), "id_a")
      .join(b.select($"doc_id".as("id_b"), $"t".as("t_b")), "id_b")
      .withColumn("distance", levenshtein($"t_a", $"t_b", k))
      .filter($"distance" >= 0)
      .select($"id_a", $"id_b", $"distance".cast("long").as("distance"))
  }

  /** Length-band blocking form (the pre-PassJoin default): lossless —
    * |len_a − len_b| ≤ k is necessary for distance ≤ k, side A explodes into
    * the buckets its ±k window covers, side B keys by ⌊len/B⌋, every true
    * pair meets in exactly one bucket — but the within-band join is
    * quadratic. Kept as the independent implementation DedupSpec
    * cross-checks [[fuzzyPairs]] against; not the scale default. */
  private[graft] def bandFuzzyPairs(n: DataFrame, k: Int, bucketWidth: Int): DataFrame = {
    import n.sparkSession.implicits._
    val aIdx = n.select($"doc_id".as("doc_a"), $"len".as("len_a"),
      explode(sequence(floor(($"len" - k) / bucketWidth),
        floor(($"len" + k) / bucketWidth))).as("bucket"))
    val bIdx = n.select($"doc_id".as("doc_b"), $"len".as("len_b"),
      floor($"len" / bucketWidth).as("bucket"))
    val cand = aIdx.join(bIdx, "bucket")
      .filter($"doc_a" < $"doc_b")
      .filter(abs($"len_a" - $"len_b") <= k)
      .select($"doc_a", $"doc_b")
    verifyLevenshtein(cand, n, k)
  }

  val dedupFuzzySql: String =
    s"""WITH n AS (
      |  SELECT doc_id, ${OracleFragments.norm("text")} AS t FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS distance
      |FROM n a JOIN n b ON a.doc_id < b.doc_id
      |WHERE abs(len(a.t) - len(b.t)) <= 4 AND levenshtein(a.t, b.t) <= 4
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The end-to-end dedup step: connected components over near-dup pairs,
    * keeping one representative (the min doc_id) per cluster. Components via
    * distributed min-label propagation — the standard scale-out CC loop
    * (labels only shrink, so it converges in O(diameter) rounds; each round
    * is one join + aggregate, lineage truncated by localCheckpoint).
    *
    * Edges: MinHash candidates (32-component signatures, 8 bands × 4 rows —
    * deterministic, and at this corpus' similarity levels recall is exact,
    * verified against brute force in LlmOpsSpec) filtered by exact Jaccard
    * ≥ 0.8. The oracle recomputes the same edges by brute force and closes
    * them with a recursive CTE. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersImpl(spark, dir, reliableCheckpoint = false)

  /** Reliable-checkpoint variant for real clusters: per-round lineage cuts go
    * through `Dataset.checkpoint()` into the SparkContext checkpoint dir
    * (HDFS/object store in production) instead of `localCheckpoint()`'s
    * executor block manager, so a lost executor cannot lose a round's labels
    * mid-loop. Costs one extra computation per round (RDD checkpoint writes
    * in a second job after the computing job) — the durability trade, not the
    * bench default. Caller must have set `sc.setCheckpointDir` first. */
  private[graft] def dedupClustersReliable(spark: SparkSession, dir: String): DataFrame =
    dedupClustersImpl(spark, dir, reliableCheckpoint = true)

  private def dedupClustersImpl(spark: SparkSession, dir: String,
      reliableCheckpoint: Boolean): DataFrame =
    clustersFromLabels(ccLabels(spark, dir, reliableCheckpoint))

  /** Cluster membership counts from a precomputed (id, label) frame. */
  private[queries] def clustersFromLabels(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    labels
      .groupBy($"label".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy($"cluster_rep")
  }

  /** The min-label-propagation loop of [[dedupClusters]], exposed as the
    * (id, label) assignment so downstream operators ([[dedupCanonical]]) can
    * consume cluster membership without re-deriving it. */
  private[graft] def ccLabels(spark: SparkSession, dir: String,
      reliableCheckpoint: Boolean, driverMaxRows: Int = CcDriverMaxRows)
      : DataFrame = {
    import spark.implicits._
    if (reliableCheckpoint)
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable checkpoint mode needs sc.setCheckpointDir(...)")
    def cut(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()
    connectedComponents(
      Tables.documents(spark, dir).select($"doc_id".as("id"), $"doc_id".as("label")),
      minhashVerifiedPairs(shingledDocs(spark, dir),
        nBands = MinhashBands, rowsPerBand = MinhashRowsPerBand,
        t = MinhashThreshold).select($"doc_a", $"doc_b"),
      cut, driverMaxRows)
  }

  /** Count of full CC-loop executions in this JVM — lets the shared-labels
    * spec pin "one computation served N consumers" without listener
    * machinery. Driver-side, incremented once per loop, zero hot-path cost.
    * SINGLE-THREADED TEST ASSUMPTION: the exact-delta assertions in
    * PrepOpsSpec/LlmOpsSpec require no concurrent CC loop in the JVM; the
    * build runs suites sequentially in one forked JVM (build.sbt pins
    * `Test / parallelExecution := false`) — keep it that way, or move the
    * counter assertions behind a lock, before parallelizing suites. */
  private[graft] val ccComputations = new java.util.concurrent.atomic.AtomicLong(0)

  /** Rounds the most recent CC loop took to converge (driver-side, set once
    * per run) — lets the spec pin the pointer-jumping O(log diameter) bound
    * on an adversarial chain graph instead of trusting the comment. */
  private[graft] val ccLastRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Vertex+edge-count bound under which the CC ITERATION runs on the
    * driver (r13 optimization, the [[GraphQueries]] pagerank pattern): the
    * loop's per-round cost at bench scale is Spark job overhead (eager
    * checkpoint + observation per round, ~3 jobs x O(log diameter)
    * rounds), not data — for a corpus whose (id, label) pairs fit in a
    * bounded driver object, the SAME min-label + pointer-jumping fixpoint
    * over Long ids runs in-process with identical integer arithmetic, so
    * the result is equal row-for-row by construction (spec-pinned). The
    * collect is |V|+|E|-scale under an explicit cap — the IVF-codebook
    * bounded-driver-object discipline — and any input over the cap (or
    * non-Long-keyed) takes the distributed loop below, unchanged.
    * The gate observes only the input's size: the vertex count rides the
    * loop's own `cc_init` checkpoint and the edge count a `limit(cap + 1)`
    * probe, and the driver path runs when both are within the cap. */
  private val CcDriverMaxRows: Int = 1 << 17

  /** The driver-side CC fixpoint over the collected bounded graph (the
    * caller gates on size and key type). Replicates the distributed
    * semantics EXACTLY — duplicate vertex ids min-merged (as the first
    * groupBy(id).min(label) round does — ADVICE r13), a duplicate-
    * INCLUSIVE initial checksum, neighbor-min via directed copies of each
    * undirected pair, min-merge with current labels, then one pointer
    * jump (dropping rows whose label is absent, as the inner self-join
    * does), converging on the label-sum checksum. */
  private def driverCc(vs: Array[(Long, Long)], es: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    // undirected: both directions, like the distributed edge union
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    // duplicate vertex ids MIN-merge (the distributed loop's first
    // groupBy(id).min(label) round does exactly this; a last-wins toMap
    // could propagate the wrong duplicate's label in round 1 — ADVICE r13),
    // while the convergence checksum stays duplicate-INCLUSIVE like the
    // distributed init sum
    val labels0 = scala.collection.mutable.HashMap.empty[Long, Long]
    vs.foreach { case (id, l) =>
      val cur = labels0.get(id)
      if (cur.isEmpty || l < cur.get) labels0(id) = l
    }
    var labels: Map[Long, Long] = labels0.toMap
    var checksum = vs.iterator.map(_._2).sum
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      // neighborMin: every (a -> b) edge whose a currently has a label
      // emits (b, label(a)); merged with the current labels by min
      val next = scala.collection.mutable.HashMap.empty[Long, Long]
      labels.foreach { case (id, l) => next(id) = l }
      labels.foreach { case (a, l) =>
        adj.get(a).foreach(_.foreach { b =>
          val cur = next.get(b)
          if (cur.isEmpty || l < cur.get) next(b) = l
        })
      }
      // pointer jump: label(x) <- label(label(x)); the distributed form is
      // an inner join, so rows whose label has no row drop out
      val jumped = next.iterator.flatMap { case (id, l) =>
        next.get(l).map(j => (id, j))
      }.toMap
      val nextSum = jumped.valuesIterator.sum
      converged = nextSum == checksum
      checksum = nextSum
      labels = jumped
    }
    ccLastRounds.set(round)
    labels.toArray.sortBy(_._1)
  }

  /** Generic distributed connected components: min-label propagation over
    * undirected `pairs` (doc_a, doc_b) starting from `vertices` (id,
    * label = id), returning the fixpoint (id, label) assignment. Labels only
    * decrease, so the label-sum is a strictly-monotone convergence measure
    * (one agg per round instead of a change-detecting join); the checksum
    * rides the eager checkpoint job as an observed metric — exactly ONE
    * driver action per round (plus the checkpoint write job in reliable
    * mode), not a checkpoint job plus a separate agg job. `cut` truncates
    * each round's lineage (localCheckpoint for bench; `Dataset.checkpoint`
    * for cluster fault tolerance). Inputs within `driverMaxRows` vertices
    * and edges run the same fixpoint on the driver instead (see
    * [[CcDriverMaxRows]]). */
  private[graft] def connectedComponents(vertices: DataFrame, pairs: DataFrame,
      cut: DataFrame => DataFrame, driverMaxRows: Int = CcDriverMaxRows)
      : DataFrame = {
    import vertices.sparkSession.implicits._
    val spark = vertices.sparkSession
    ccComputations.incrementAndGet()
    def checkpointWithSum(df: DataFrame, tag: String): (DataFrame, Long, Long) = {
      val obs = org.apache.spark.sql.Observation(tag)
      val cp = cut(df.observe(obs,
        sum($"label").as("s"), count(lit(1)).as("n")))
      (cp, obs.get("s").asInstanceOf[Long], obs.get("n").asInstanceOf[Long])
    }
    // The bounded-graph gate rides the init checkpoint the distributed
    // loop needs anyway (r14; the r13 probe paid up to two wasted
    // limit-collect jobs on an over-cap input): the vertex count is an
    // observed metric of cc_init, the edge probe is a single bounded
    // CollectLimit (no exchange — PlanLintSpec runs over this), and the
    // under-cap vertex collect reads the already-materialized checkpoint
    // blocks. Over-cap inputs proceed to the distributed loop having paid
    // nothing beyond the loop's own initialization.
    val lt = org.apache.spark.sql.types.LongType
    val longKeyed = vertices.schema.fields.forall(_.dataType == lt) &&
      pairs.schema.fields.forall(_.dataType == lt)
    var (labels, checksum, nV) = checkpointWithSum(vertices, "cc_init")
    if (longKeyed && nV <= driverMaxRows) {
      val es = pairs.limit(driverMaxRows + 1).as[(Long, Long)].collect()
      if (es.length <= driverMaxRows) {
        val vs = labels.as[(Long, Long)].collect()
        org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(labels)
        return spark.createDataFrame(driverCc(vs, es).toSeq)
          .toDF("id", "label")
      }
    }
    // edges are static across rounds and always join on doc_a: materialize
    // them ALREADY HASH-PARTITIONED on doc_a (the lineage cut preserves
    // outputPartitioning through LogicalRDD), so each round's propagate join
    // shuffles only the labels side — at 100 TB that's one edge-set shuffle
    // total instead of one per round
    val edges = cut(pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .repartition($"doc_a"))
    var converged = false
    var round = 0
    while (!converged) {
      round += 1
      val neighborMin = edges
        .join(labels, $"doc_a" === $"id")
        .select($"doc_b".as("id"), $"label")
      val propagated = labels.union(neighborMin)
        .groupBy($"id").agg(min($"label").as("label"))
      // pointer jumping: label(x) ← label(label(x)). Every label value is
      // itself a vertex id (labels only shrink toward component minima), so
      // the self-join is total; jumping halves the remaining path length
      // each round — O(log diameter) rounds instead of O(diameter), which
      // is the difference between 4 and 40 driver actions on a chain-shaped
      // component (per-round job overhead dominates at bench scale; at
      // 100 TB the saved rounds are saved full-data shuffles).
      val jumped = propagated
        .join(propagated.select($"id".as("jid"), $"label".as("jlabel")),
          $"label" === $"jid")
        .select($"id", $"jlabel".as("label"))
      val (next, nextSum, _) = checkpointWithSum(jumped, s"cc_round_$round")
      converged = nextSum == checksum
      checksum = nextSum
      // the superseded round's checkpoint blocks are dead the moment the
      // next round materialized — release them instead of waiting for GC
      // (r14 §5: bounded storage footprint across the loop's lifetime)
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(labels)
      labels = next
    }
    ccLastRounds.set(round)
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(edges)
    labels
  }

  /** Canonical-document selection: within each near-dup cluster, keep the
    * HIGHEST-quality member (ties to the smaller doc_id) instead of
    * [[dedupClusters]]' min-id representative — "dedup keeping the best
    * copy", the form a curation pipeline actually ships. Selection is a
    * `max_by` over a (quality, −doc_id) struct — one partial+final hash
    * aggregate over the labels; nothing but (label, doc_id, quality) crosses
    * the wire, and the quality column is a codegen'd projection on the
    * document scan. Oracle: the same recursive-CTE closure as
    * dedup_clusters + a rank-1 window with the identical tie-break (DuckDB
    * arg_max cannot order by a struct). */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame =
    canonicalFromLabels(spark, dir, ccLabels(spark, dir, reliableCheckpoint = false))

  /** Canonical selection from a precomputed (id, label) frame. */
  private[queries] def canonicalFromLabels(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    import spark.implicits._
    val quality = Tables.documents(spark, dir)
      .select($"doc_id", TF.qualityScore($"text").as("q"))
    labels
      .join(quality, $"id" === $"doc_id")
      .groupBy($"label".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        max_by($"doc_id", struct($"q".as("q"), (-$"doc_id").as("negid")))
          .as("canonical_doc"),
        max($"q").as("best_quality"))
      .orderBy($"cluster_rep")
  }

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS sh
      |  FROM (SELECT doc_id, ${OracleFragments.tokens("text")} AS toks
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8),
      |edges AS (SELECT doc_a, doc_b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.dst = e.doc_a),
      |labels AS (SELECT src AS id, min(dst) AS label FROM reach GROUP BY src),
      |q AS (SELECT doc_id, ${OracleFragments.quality("text")} AS q FROM documents),
      |ranked AS (
      |  SELECT l.label, q.doc_id, q.q,
      |    row_number() OVER (PARTITION BY l.label
      |                       ORDER BY q.q DESC, q.doc_id ASC) AS r
      |  FROM labels l JOIN q ON l.id = q.doc_id)
      |SELECT label AS cluster_rep, count(*) AS n_members,
      |  max(CASE WHEN r = 1 THEN doc_id END) AS canonical_doc,
      |  max(q) AS best_quality
      |FROM ranked
      |GROUP BY label
      |ORDER BY cluster_rep""".stripMargin

  val dedupClustersSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |                   FOR i IN range(1, len(toks) - 1)]) AS sh
      |  FROM (SELECT doc_id,
      |          string_split(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS toks
      |        FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8),
      |edges AS (SELECT doc_a, doc_b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.dst = e.doc_a),
      |labels AS (SELECT src AS id, min(dst) AS label FROM reach GROUP BY src)
      |SELECT label AS cluster_rep, count(*) AS n_members
      |FROM labels
      |GROUP BY label
      |ORDER BY cluster_rep""".stripMargin

  /** Verbatim-span near-dup pairs: documents sharing at least one verbatim
    * run of `SpanGramTokens` tokens, with the count of distinct shared runs
    * per pair — span-level dedup in the Lee et al. (ACL 2022,
    * "Deduplicating Training Data Makes Language Models Better") sense. It
    * complements the doc-level families above: a paragraph copied into an
    * otherwise-new document never crosses a whole-document Jaccard/MinHash
    * threshold and shifts every character of a fuzzy comparison, but its
    * token runs are verbatim.
    *
    * Scale shape: per-doc DISTINCT hashed n-grams (map-side projection, the
    * [[VectorFunctions.shingleHashSet]] kernel) → document-frequency window
    * over the gram key (one shuffle) → df-capped self-equi-join on the
    * 8-byte gram hash (reuses the same hash partitioning) → one pair-keyed
    * aggregate. The df cap is the quadratic guard: a gram appearing in more
    * than `SpanDfCap` documents is boilerplate (site templates, licenses,
    * headers) whose posting list is the n² term and which evidences no
    * copying between any SPECIFIC pair — so join volume is bounded by
    * dfCap · (gram volume), linear in corpus size. The cap is a recall
    * caveat and is surfaced in `prep_method_card`. Counts-only output keeps
    * the string-gram oracle exact w.h.p. (the [[dedupMinhashPairs]] 64-bit
    * collision argument). */
  def dedupSpanOverlap(spark: SparkSession, dir: String): DataFrame =
    spanOverlapPairs(spark, dir, n = SpanGramTokens, dfCap = SpanDfCap)

  private[graft] val SpanGramTokens = 12
  private[graft] val SpanDfCap = 32

  private[graft] def spanOverlapPairs(spark: SparkSession, dir: String,
      n: Int, dfCap: Int): DataFrame =
    spanOverlapOn(Tables.documents(spark, dir), n, dfCap)

  /** [[spanOverlapPairs]] over any (doc_id, text) frame — split out so
    * CandidateVolumeSpec can drive it with a boilerplate-heavy fixture. */
  private[graft] def spanOverlapOn(docs: DataFrame, n: Int, dfCap: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = docs
      .select($"doc_id", explode(VectorFunctions.shingleHashSet($"text", n)).as("g"))
    // df via hash aggregate, NOT a window over g: partial (map-side)
    // combine keeps counting a boilerplate gram distributed, where a window
    // would materialize its entire posting list in one task — the exact
    // skew the cap exists to kill. Hot grams leave keptGrams BEFORE the
    // join, so no posting list longer than dfCap ever joins.
    val keptGrams = grams.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" <= dfCap)
    val kept = grams.join(keptGrams.select($"g"), "g")
    val a = kept.select($"g", $"doc_id".as("doc_a"))
    val b = kept.select($"g", $"doc_id".as("doc_b"))
    a.join(b, "g")
      .filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupSpanOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${OracleFragments.tokens("text")} AS t
       |  FROM documents
       |  WHERE length(${OracleFragments.norm("text")}) > 0),
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(t[i:i+11], ' ')
       |                          FOR i IN range(1, len(t) - 10)])) AS g
       |  FROM toks),
       |keep AS (
       |  SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY g)
       |  WHERE df <= 32)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared_grams
       |FROM g a JOIN g b USING (g) JOIN keep USING (g)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-document line-level dedup (the C4 "three-sentence"/CCNet
    * boilerplate strip, at line granularity): a line occurring in ≥ `minDf`
    * DISTINCT documents is boilerplate (nav text, license headers, cookie
    * banners) and is removed from EVERY document; each doc is rebuilt from
    * its surviving lines in original order. Complements the doc-level
    * families: boilerplate inflates every pairwise similarity without being
    * copying, and removing it is a per-LINE decision no doc-level operator
    * expresses. On the no-newline driver corpus each doc is one line, so the
    * operator degenerates to emptying exact-dup texts — the multi-line
    * behavior is fixture-pinned in PrepOpsSpec.
    *
    * Scale shape: the df count aggregates (16-byte md5 key, doc_id) pairs —
    * map-side combinable, line strings never enter the count shuffle. The
    * removal is a LEFT ANTI equi-join on the uniform hash key (no broadcast
    * assumption: the boilerplate set is corpus-dependent), and the rebuild
    * is one doc-keyed aggregate whose per-group state is the doc's own
    * lines. Nothing is ever quadratic; line text shuffles exactly once (into
    * the rebuild). */
  def dedupLines(spark: SparkSession, dir: String, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would strip every line, got $minDf")
    import spark.implicits._
    // limit -1: keep trailing empty lines (DuckDB string_split does; Spark's
    // default limit 0 drops them and would desync n_lines on \n-final text)
    val lines = Tables.documents(spark, dir)
      .select($"doc_id", posexplode(split($"text", "\n", -1)))
      .toDF("doc_id", "pos", "line")
      .withColumn("lk", md5($"line"))
    val frequent = lines.filter(length(trim($"line")) > 0)
      .groupBy($"lk").agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= minDf)
    val rebuilt = lines.join(frequent.select($"lk"), Seq("lk"), "left_anti")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"pos", $"line"))).as("kl"))
      .select($"doc_id",
        size($"kl").cast("long").as("n_lines_kept"),
        array_join(transform($"kl", x => x("line")), "\n").as("text_clean"))
    Tables.documents(spark, dir)
      .select($"doc_id", size(split($"text", "\n", -1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_lines",
        coalesce($"n_lines_kept", lit(0L)).as("n_lines_kept"),
        coalesce($"text_clean", lit("")).as("text_clean"))
      .orderBy($"doc_id")
  }

  val dedupLinesSql: String =
    """WITH l AS (
      |  SELECT doc_id, unnest(toks) AS line,
      |    unnest(range(1, len(toks) + 1)) AS ord
      |  FROM (SELECT doc_id, string_split(text, chr(10)) AS toks
      |        FROM documents)),
      |f AS (
      |  SELECT md5(line) AS lk FROM l WHERE length(trim(line)) > 0
      |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
      |k AS (SELECT doc_id, line, ord FROM l
      |      WHERE md5(line) NOT IN (SELECT lk FROM f)),
      |r AS (
      |  SELECT doc_id, count(*) AS n_lines_kept,
      |    string_agg(line, chr(10) ORDER BY ord) AS text_clean
      |  FROM k GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
      |  coalesce(r.text_clean, '') AS text_clean
      |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
      |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_lines" -> ((s: SparkSession, d: String) => dedupLines(s, d)),
    "dedup_span_overlap" -> (dedupSpanOverlap _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_semantic" -> (dedupSemantic _),
    "dedup_fuzzy" -> (dedupFuzzy _))

  val oracles: Map[String, String] = Map(
    "dedup_lines" -> dedupLinesSql,
    "dedup_span_overlap" -> dedupSpanOverlapSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_canonical" -> dedupCanonicalSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_pairs" -> dedupMinhashPairsSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_semantic" -> dedupSemanticSql,
    "dedup_fuzzy" -> dedupFuzzySql)
}

/** Explicitly-scoped shared CC labels for composed dedup pipelines.
  *
  * `dedup_clusters`, `dedup_canonical` and `prep_corpus` each derive from
  * the same (id, label) connected-components fixpoint; standalone they
  * recompute it (the honest per-query cost the bench reports). A session
  * that runs several of them over ONE corpus should pay for the CC loop
  * once: this handle computes the labels eagerly at construction, persists
  * them for its own lifetime, and serves every consumer from the persisted
  * frame. Deliberately NOT a global/implicit cache — the caller owns the
  * scope (`close()` unpersists), so two handles over different dirs can
  * never serve each other stale labels.
  *
  * {{{
  * val shared = new SharedDedupLabels(spark, dir)
  * try {
  *   shared.clusters ...; shared.canonical ...; shared.corpus ...
  * } finally shared.close()
  * }}}
  */
final class SharedDedupLabels(spark: SparkSession, dir: String) extends AutoCloseable {
  /** The (id, label) fixpoint — one CC computation, persisted. The CC loop
    * itself runs eagerly (driver-side convergence loop), so construction
    * pays the full cost and every consumer below is loop-free. */
  val labels: DataFrame = Dedup.ccLabels(spark, dir, reliableCheckpoint = false)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[Dedup.dedupClusters]] over the shared labels. */
  def clusters: DataFrame = Dedup.clustersFromLabels(labels)

  /** [[Dedup.dedupCanonical]] over the shared labels. */
  def canonical: DataFrame = Dedup.canonicalFromLabels(spark, dir, labels)

  /** [[DataPipeline.prepCorpus]] over the shared labels. */
  def corpus: DataFrame = DataPipeline.prepCorpusFromLabels(spark, dir, labels)

  override def close(): Unit = { labels.unpersist(); () }
}
