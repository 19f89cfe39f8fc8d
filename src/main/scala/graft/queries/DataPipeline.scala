package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables

/** Training-data preparation operators: deterministic splits, weighted
  * mixture sampling, sequence packing, chunking, and redaction.
  *
  * Everything here is built on content-hash determinism (md5 of stable keys)
  * rather than `rand()`: at 100 TB a split/sample must be reproducible across
  * reruns, stable under repartitioning, and computable with ZERO shuffles —
  * a hash of the row's own key is all three, while `rand()` is none. All five
  * operators are pure projections or per-source window scans; none shuffles
  * more than one narrow aggregation.
  */
object DataPipeline {

  /** First `width` hex chars of md5(key) — a uniform draw in [0, 16^width)
    * that both Spark and DuckDB compute byte-identically. Comparing the hex
    * PREFIX STRING against a hex threshold string avoids any hex→int
    * conversion (which the two engines spell differently). */
  private def md5Prefix(key: Column, width: Int): Column =
    substring(md5(key.cast("string")), 1, width)

  /** The 80/10/10 train/val/test assignment of an id column: bucket = first
    * two hex chars of md5(id) → 256 uniform buckets; [00,cc) train (~80%),
    * [cc,e6) val (~10%), [e6,ff] test. ONE definition (mirrored by
    * [[OracleFragments.splitCase]]) shared by [[splitAssign]] and
    * [[contamination]] — a boundary change here cannot leave a consumer
    * checking against the old split. */
  private[graft] def splitCol(id: Column): Column = {
    val bucket = md5Prefix(id, 2)
    when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
  }

  /** Deterministic train/val/test assignment: [[splitCol]] as a pure
    * projection — no shuffle, no RNG state, and the assignment of a given
    * doc_id never changes as the corpus grows, which is the property that
    * keeps eval sets uncontaminated across dataset versions. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", splitCol($"doc_id").as("split"))
      .orderBy($"doc_id")
  }

  val splitAssignSql: String =
    s"""SELECT doc_id, source,
       |  ${OracleFragments.splitCase("doc_id")} AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Per-source sampling rates for [[mixWeighted]]. Sources cycle through
    * full / half / quarter / tenth — the shape of a real training mixture
    * (keep all of the high-quality source, downsample the crawl). The oracle
    * SQL is GENERATED from this map so the two sides cannot drift. */
  val mixRates: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> Seq(1.0, 0.5, 0.25, 0.1)(i % 4))

  /** Hex threshold string for a keep-rate: keep iff the 4-hex-char md5 prefix
    * sorts below it. Rates that round to the full 65536 map to "g000", which
    * every [0-9a-f] prefix sorts below — no special case needed on either
    * engine (and no 5-char "10000", which would sort BELOW most 4-char
    * prefixes and invert the comparison). */
  private def rateThreshold(rate: Double): String = {
    val bound = math.round(rate * 65536)
    if (bound >= 65536) "g000" else f"$bound%04x"
  }

  /** Weighted mixture sampling: each source keeps a deterministic fraction of
    * its documents (md5 of doc_id:source vs a per-source hex threshold).
    * The salt ("mix:") decorrelates this draw from [[splitAssign]]'s buckets
    * so sampling does not bias the split. Pure projection + filter — the
    * 100 TB shape is a single scan that emits the mixed corpus with no
    * shuffle and no driver state. */
  /** The mixture-keep predicate of [[mixWeighted]], exposed so compositions
    * ([[prepCorpus]]) apply the exact same draw. try_element_at: a source
    * outside the rate map yields NULL, the predicate is NULL, the filter
    * drops the row — same as the oracle CASE's NULL. Plain element_at would
    * THROW under Spark 4's default ANSI mode, diverging from the oracle the
    * moment the corpus grows a new source. */
  private[queries] def mixKeep(docId: Column, source: Column): Column = {
    val thr = try_element_at(
      map(mixRates.flatMap { case (s, r) => Seq(lit(s), lit(rateThreshold(r))) }: _*),
      source)
    md5Prefix(concat_ws(":", lit("mix"), docId, source), 4) < thr
  }

  /** SQL mirror of [[mixKeep]] — the WHERE fragment both mix oracles
    * interpolate, GENERATED from the same rate map. */
  private def mixKeepSql(docIdExpr: String, sourceExpr: String): String = {
    val cases = mixRates.map { case (s, r) =>
      s"WHEN '$s' THEN '${rateThreshold(r)}'"
    }.mkString("\n      |    ", "\n      |    ", "").stripMargin
    s"""substring(md5(concat_ws(':', 'mix', CAST($docIdExpr AS VARCHAR), $sourceExpr)), 1, 4)
       |      < CASE $sourceExpr $cases END""".stripMargin
  }

  def mixWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(mixKeep($"doc_id", $"source"))
      .select($"doc_id", $"source")
      .orderBy($"doc_id")
  }

  val mixWeightedSql: String =
    s"""SELECT doc_id, source
       |FROM documents
       |WHERE ${mixKeepSql("doc_id", "source")}
       |ORDER BY doc_id""".stripMargin

  /** Quality-weighted sampling: keep each document with probability equal
    * to its [[TF.qualityScore]] — the importance-sampling step between hard
    * screening (`prep_screen`, a cliff at 0.75) and uniform mixing
    * (`prep_mix`, source-constant rates): low-quality text is down-weighted
    * smoothly instead of either kept or guillotined. Deterministic like
    * every sampler here: the draw is the md5 prefix of the salted doc id,
    * the threshold is the per-row quality mapped onto the same 16^4 grid
    * ([[rateThreshold]]'s scheme, computed per row — "g000" when a score of
    * 1.0 rounds to the full 65536, avoiding the 5-char-hex sort inversion).
    * Keep probability is exact to 1/65536. Pure scan-and-filter: no
    * shuffle, no RNG state, reproducible under repartitioning — and the
    * oracle recomputes the identical predicate from the shared quality
    * fragment, so the hash check pins BOTH the quality formula and the
    * threshold mapping. */
  def qualityMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bound = floor($"quality" * 65536).cast("long")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", TF.qualityScore($"text").as("quality"))
      .filter(md5Prefix(concat_ws(":", lit("qmix"), $"doc_id"), 4) <
        when(bound >= 65536, lit("g000"))
          .otherwise(format_string("%04x", bound)))
      .orderBy($"doc_id")
  }

  val qualityMixSql: String =
    s"""SELECT doc_id, source, q AS quality
       |FROM (SELECT doc_id, source,
       |        ${OracleFragments.quality("text")} AS q
       |      FROM documents)
       |WHERE substring(md5(concat_ws(':', 'qmix', CAST(doc_id AS VARCHAR))), 1, 4)
       |      < CASE WHEN CAST(floor(q * 65536) AS BIGINT) >= 65536 THEN 'g000'
       |             ELSE printf('%04x', CAST(floor(q * 65536) AS BIGINT)) END
       |ORDER BY doc_id""".stripMargin

  /** Sequence packing: concatenate documents (in doc_id order, per source)
    * into fixed token-budget packs of `budget` tokens. Pack assignment is the
    * EXCLUSIVE running token total integer-divided by the budget — the
    * streaming-quota form of packing (a doc may straddle its pack boundary;
    * trainers that split documents across context windows want exactly this).
    * Partitioning by source keeps the window scan parallel: at 100 TB the
    * running sum never crosses partition boundaries, so this is one narrow
    * per-source sort, not a global one. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      // kernel token count ≡ tokenCount (FunctionsSpec differential)
      .select($"source", $"doc_id",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"pack_id")
  }

  def packSequencesSql(budget: Int = 256): String =
    s"""WITH counted AS (
       |  SELECT source, doc_id,
       |    ${OracleFragments.tokenCount("text")} AS n_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT source, doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // $budget AS pack_id
       |  FROM counted)
       |SELECT source, pack_id, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM packed
       |GROUP BY 1, 2
       |ORDER BY source, pack_id""".stripMargin

  /** Overlapping fixed-size chunking (RAG / context-window prep): each
    * document yields word-window chunks of `size` tokens every `stride`
    * tokens. One generate-and-explode projection — no shuffle; chunk ids are
    * derived from the window start (start / stride), not an ordinal, so the
    * operator stays deterministic under any row order. */
  def textChunks(spark: SparkSession, dir: String,
                 size: Int = 32, stride: Int = 16): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TF.wordTokens($"text").as("toks"))
      .filter(org.apache.spark.sql.functions.size($"toks") > 0)
      .select($"doc_id",
        explode(sequence(lit(0), org.apache.spark.sql.functions.size($"toks") - 1,
          lit(stride))).as("start"), $"toks")
      .select($"doc_id",
        expr(s"start div $stride").as("chunk_id"),
        org.apache.spark.sql.functions.size(slice($"toks", $"start" + 1, lit(size)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice($"toks", $"start" + 1, lit(size)), " ").as("chunk"))
      .orderBy($"doc_id", $"chunk_id")
  }

  def textChunksSql(size: Int = 32, stride: Int = 16): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ${OracleFragments.tokens("text")} AS t
       |  FROM documents
       |  WHERE length(${OracleFragments.norm("text")}) > 0),
       |starts AS (
       |  SELECT doc_id, t, unnest(range(0, len(t), $stride)) AS start FROM toks)
       |SELECT doc_id,
       |  start // $stride AS chunk_id,
       |  len(list_slice(t, start + 1, start + $size)) AS n_chunk_tokens,
       |  array_to_string(list_slice(t, start + 1, start + $size), ' ') AS chunk
       |FROM starts
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** PII-shaped redaction over `events.props`: numeric literals and
    * email-shaped tokens are masked with typed placeholders. Patterns are
    * written in the RE2-compatible subset (no lookarounds, no \\s shorthand)
    * so Spark's Java regex and the oracle's RE2 agree byte-for-byte. A pure
    * projection — the 100 TB shape is scan-and-rewrite with pushdown intact. */
  def textRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id",
        regexp_replace(
          regexp_replace($"props", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
          "[0-9]+", "<NUM>").as("redacted"))
      .orderBy($"event_id")
  }

  val textRedactSql: String =
    """SELECT event_id,
      |  regexp_replace(regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
      |                 '[0-9]+', '<NUM>', 'g') AS redacted
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Eval-set contamination check: test-split documents that are NEAR-DUPS
    * (shingle-Jaccard >= 0.8) of a train-split document — the check every
    * training pipeline must run before reporting eval numbers. Exact-dup
    * leakage is the degenerate case (jaccard = 1.0); near-dup is the one
    * that actually bites, because paraphrased/reformatted eval items survive
    * an exact-fingerprint screen. Reuses [[splitAssign]]'s hash-bucket split
    * so the query IS the production composition, not a fixture.
    *
    * 100 TB shape ([[Dedup.minhashCrossVerifiedPairs]]): each side builds a
    * band index over its OWN documents only — the test side is ~10% of the
    * corpus, so the candidate equi-join is test-index × train-index on
    * uniform hash keys, far cheaper than the dedup self-join; exact-Jaccard
    * verification touches only the collapsed candidate id-set. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tagged = Dedup.shingledDocs(spark, dir)
      .withColumn("split", splitCol($"doc_id"))
    val testDocs = tagged.filter($"split" === "test").drop("split")
    val trainDocs = tagged.filter($"split" === "train").drop("split")
    Dedup.minhashCrossVerifiedPairs(testDocs, trainDocs,
        nBands = 8, rowsPerBand = 4, t = 0.8)
      .select($"doc_a".as("test_doc"), $"doc_b".as("train_doc"),
        $"jac".as("jaccard"))
      .orderBy($"test_doc", $"train_doc")
  }

  /** Brute-force cross-split oracle (same argument as `dedup_minhash_pairs`:
    * 8×4 banding recall is brute-force-exact on this corpus, so the verified
    * engine output equals the exact pair set). */
  val contaminationSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+2], ' ')
       |                   FOR i IN range(1, len(toks) - 1)]) AS sh,
       |    ${OracleFragments.splitCase("doc_id")} AS split
       |  FROM (SELECT doc_id, ${OracleFragments.tokens("text")} AS toks FROM documents))
       |SELECT a.doc_id AS test_doc, b.doc_id AS train_doc,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
       |FROM sh a JOIN sh b ON a.split = 'test' AND b.split = 'train'
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
       |ORDER BY test_doc, train_doc""".stripMargin

  /** Per-group percentile outlier filter: rows whose extended price exceeds
    * their return-flag group's exact p99 — the "drop the pathological tail
    * before training" shape (over-long documents, runaway token counts).
    *
    * Scale shape: the cutoffs aggregate is GROUPS-sized (here 3 rows) and
    * broadcast back, so the filter pass is a pure map over the fact scan —
    * no row-level shuffle. Exact percentile materializes each group once in
    * the cutoff agg; the 100 TB form passes `approx = true`, which swaps in
    * `approx_percentile` (the q25 GK-sketch path — constant memory per
    * group, mergeable partials) with the broadcast join-back unchanged.
    * PrepOpsSpec bounds the approx cutoff's deviation from the exact one
    * and the resulting row-set drift. The driver-facing `prep_outliers`
    * entry stays on the exact form (hash-matched against DuckDB
    * quantile_cont). The cutoff is used AND emitted unrounded: the interpolation
    * (hi−pos)·loVal + (pos−lo)·hiVal is bitwise-identical across engines
    * (pinned by the spec's independent recompute), while ROUNDING it is not — DuckDB's
    * round(x, 4) does not return the nearest double of the 4-decimal value
    * the way Spark's BigDecimal HALF_UP does (observed 1-ulp divergence at
    * sf0.1), so a rounded cutoff column would hash-mismatch exactly when the
    * raw one matches. */
  def outlierFilter(spark: SparkSession, dir: String): DataFrame =
    outlierFilterTuned(spark, dir, approx = false)

  /** `approx = true`: sketch-based cutoffs via `approx_percentile` at
    * accuracy 10000 (rank error ≤ n/10000 per group) — the form to run at
    * 100 TB, where an exact per-group percentile would materialize each
    * group's full value multiset in the cutoff aggregate. */
  def outlierFilterTuned(spark: SparkSession, dir: String, approx: Boolean): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val cuts =
      if (approx)
        li.groupBy($"l_returnflag")
          .agg(expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99"))
      else
        exactPercentileCutoffs(li, "l_returnflag", "l_extendedprice", 0.99)
          .withColumnRenamed("pct", "p99")
    li.join(broadcast(cuts), "l_returnflag")
      .filter($"l_extendedprice" > $"p99")
      .select($"l_returnflag", $"l_orderkey",
        $"l_linenumber".cast("long").as("l_linenumber"),
        $"l_extendedprice", $"p99")
      // the synthetic lineitem has a handful of duplicate (orderkey,
      // linenumber) keys — price joins the sort so the output order is total
      .orderBy($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
  }

  val outlierFilterSql: String =
    """WITH cuts AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.99) AS p99
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, l.l_orderkey,
      |  CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
      |  l.l_extendedprice, c.p99
      |FROM lineitem l JOIN cuts c USING (l_returnflag)
      |WHERE l.l_extendedprice > c.p99
      |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_extendedprice""".stripMargin

  /** Exact per-group percentile with bounded memory. Catalyst's
    * `percentile()` buffers every distinct group value in its aggregation
    * buffer (a boxed OpenHashMap that cannot spill) — measured OOM in a
    * 1 GiB JVM at sf1 (MemoryStressSpec). Same number, different plan:
    * rank the group with a window (UnsafeExternalSorter — spills to disk),
    * keep only the one or two rows the interpolation needs, and fold them
    * with the exact arithmetic of Catalyst's `Percentile.getPercentile` —
    * pos = p·(n−1), result = (hi−pos)·loVal + (pos−lo)·hiVal, with the
    * no-fraction and equal-key short-circuits — so the output is
    * bitwise-identical to `percentile()` (pinned by PrepOpsSpec on the
    * fixture decades and on synthetic tie/interpolation-heavy frames).
    * Returns one row per group: (key, pct). Groups whose values are all
    * NULL are absent (percentile() would return NULL; callers join the
    * cutoffs back, where a NULL cutoff selects nothing either way). */
  private[graft] def exactPercentileCutoffs(
      df: DataFrame, keyCol: String, valCol: String, p: Double): DataFrame = {
    val k = col(keyCol)
    val v = col(valCol)
    val counts = df.filter(v.isNotNull)
      .groupBy(k)
      .agg(count(v).as("n"))
      .withColumn("pos", lit(p) * (col("n") - 1).cast("double"))
      .withColumn("lo_i", floor(col("pos")))
      .withColumn("hi_i", ceil(col("pos")))
    val w = Window.partitionBy(k).orderBy(v)
    // null-safe: percentile() returns a row for the NULL-key group too
    df.filter(v.isNotNull)
      .select(k, v)
      .join(broadcast(counts.withColumnRenamed(keyCol, "__k")), k <=> col("__k"))
      .drop("__k")
      .withColumn("rk", row_number().over(w).cast("long") - 1L)
      .filter(col("rk") === col("lo_i") || col("rk") === col("hi_i"))
      .groupBy(k, col("pos"), col("lo_i"), col("hi_i"))
      .agg(
        min(when(col("rk") === col("lo_i"), v)).as("lov"),
        min(when(col("rk") === col("hi_i"), v)).as("hiv"))
      .select(k,
        when(col("hi_i") === col("lo_i") || col("lov") === col("hiv"), col("lov"))
          .otherwise((col("hi_i").cast("double") - col("pos")) * col("lov") +
                     (col("pos") - col("lo_i").cast("double")) * col("hiv"))
          .as("pct"))
  }

  /** Quality screening: keep documents whose heuristic quality score clears
    * the threshold — the filter step between dedup and mixing in a training
    * pipeline. Pure scan + projection + filter (the score is a codegen'd
    * column formula): zero shuffles at any scale, pushdown intact. The score
    * is emitted RAW (the repo's rounding rule) and the oracle reproduces the
    * full formula via [[OracleFragments.quality]], so the threshold
    * comparison cannot diverge at the boundary. The 0.75 threshold sits
    * inside this corpus' observed [0.63, 0.93] range (engine policy —
    * chosen so the filter genuinely partitions the fixtures). */
  def qualityScreen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", TF.qualityScore($"text").as("quality"))
      .filter($"quality" >= 0.75)
      .orderBy($"doc_id")
  }

  val qualityScreenSql: String =
    s"""SELECT doc_id, source,
       |  ${OracleFragments.quality("text")} AS quality
       |FROM documents
       |WHERE ${OracleFragments.quality("text")} >= 0.75
       |ORDER BY doc_id""".stripMargin

  /** Quality-gate counters for a screening run, measured as free riders. */
  final case class ScreenGate(in: org.apache.spark.sql.Observation,
      kept: org.apache.spark.sql.Observation) {
    /** Blocks until the observed frame has been run by an action. */
    def nIn: Long = in.get("n_in").asInstanceOf[Long]
    def nKept: Long = kept.get("n_kept").asInstanceOf[Long]
    def tokensKept: Long = kept.get("tokens_kept").asInstanceOf[Long]
  }

  /** [[qualityScreen]] with production observability: `Dataset.observe`
    * counters ride the SAME job that runs the screen — pre-filter volume,
    * post-filter volume, and kept-token mass are aggregated inline by the
    * scan/filter stages, so a 100 TB quality gate reports its numbers with
    * ZERO additional jobs or scans (spec-pinned: exactly one job runs, and
    * the counters equal independent recomputes). The frame's rows, schema,
    * and plan shape are unchanged — `observe` inserts a CollectMetrics node
    * that aggregates map-side as rows stream through. This is the mechanism
    * a scheduled ingestion wires to its alerting: the action it already
    * performs (the write) yields the gate metrics as a side channel.
    *
    * Deliberately NO global `orderBy`, unlike the driver-facing
    * [[qualityScreen]]: a range sort's partitioner runs a boundary-SAMPLING
    * pass over the same subtree before the real pass, so every observe
    * point upstream of it would accumulate twice (measured: n_in doubles).
    * A 100 TB screen feeding a write has no business globally sorting — and
    * if a consumer adds one, the observe points must sit above it. */
  def qualityScreenObserved(spark: SparkSession, dir: String): (DataFrame, ScreenGate) = {
    import spark.implicits._
    val gate = ScreenGate(
      org.apache.spark.sql.Observation("screen_in"),
      org.apache.spark.sql.Observation("screen_kept"))
    val df = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"text")
      .observe(gate.in, count(lit(1)).as("n_in"))
      .select($"doc_id", $"source", TF.qualityScore($"text").as("quality"),
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"))
      .filter($"quality" >= 0.75)
      .observe(gate.kept, count(lit(1)).as("n_kept"),
        coalesce(sum($"n_tokens"), lit(0L)).as("tokens_kept"))
      .select($"doc_id", $"source", $"quality")
    (df, gate)
  }

  /** Per-source dataset card: the summary statistics a training-mixture
    * design reads off before setting weights — doc/token/char totals, length
    * spread (exact p50), language diversity. ONE partial+final hash aggregate
    * over the corpus; output is sources-sized. The 100 TB form passes
    * `approx = true`, swapping the exact median for `approx_percentile`
    * (the q25 GK-sketch path — constant memory per group, mergeable
    * partials) without changing the aggregate structure; PrepOpsSpec bounds
    * its deviation from the exact median. The driver-facing `prep_datacard`
    * entry stays on the exact form (hash-matched against DuckDB).
    * `avg_chars` is the double division of two
    * exact integers → bitwise reproducible cross-engine. */
  def datacard(spark: SparkSession, dir: String): DataFrame =
    datacardTuned(spark, dir, approx = false)

  /** See [[datacard]]; `approx = true` is the sketch-median 100 TB form. */
  def datacardTuned(spark: SparkSession, dir: String, approx: Boolean): DataFrame = {
    import spark.implicits._
    val p50 =
      if (approx) expr("approx_percentile(length(text), 0.5, 10000)").cast("double")
      else expr("percentile(length(text), 0.5)")
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        // kernel token count ≡ tokenCount (FunctionsSpec differential)
        sum(TF.textScanStats($"text").getItem(0)).cast("long").as("total_tokens"),
        sum(length($"text")).cast("long").as("total_chars"),
        min(length($"text")).cast("long").as("min_chars"),
        max(length($"text")).cast("long").as("max_chars"),
        p50.as("p50_chars"),
        countDistinct($"lang").as("n_langs"))
      .withColumn("avg_chars", $"total_chars".cast("double") / $"n_docs")
      .orderBy($"source")
  }

  val datacardSql: String =
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(${OracleFragments.tokenCount("text")}) AS BIGINT) AS total_tokens,
       |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
       |  CAST(min(length(text)) AS BIGINT) AS min_chars,
       |  CAST(max(length(text)) AS BIGINT) AS max_chars,
       |  quantile_cont(length(text), 0.5) AS p50_chars,
       |  count(DISTINCT lang) AS n_langs,
       |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Deterministic stratified sample: exactly min(k, |source|) documents per
    * source, chosen by md5 order (salt "strat:" decorrelates from the split
    * and mix draws). Content-hash determinism again: the sample is
    * reproducible across reruns and stable under repartitioning, and — unlike
    * `df.stat.sampleBy` — the count per stratum is exact, not binomial.
    *
    * Scale shape: `row_number` + `rank <= k` lowers to WindowGroupLimit
    * (PlanSpec-pinned), which keeps a running top-k per source BEFORE and
    * after the shuffle — per-partition state is k rows per source, never the
    * stratum itself, so a skewed source cannot blow an executor. */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val draw = md5(concat_ws(":", lit("strat"), $"doc_id", $"source"))
    val w = Window.partitionBy($"source").orderBy(draw, $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"source", $"rn")
  }

  def stratifiedSampleSql(k: Int = 5): String =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(concat_ws(':', 'strat', CAST(doc_id AS VARCHAR), source)),
       |               doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, source, rn FROM ranked
       |WHERE rn <= $k
       |ORDER BY source, rn""".stripMargin

  /** Deterministic epoch ordering: assign every document a position in a
    * pseudo-random GLOBAL permutation — the reproducible "shuffle the
    * corpus each epoch" a training run needs — WITHOUT any global sort. The
    * permutation is addressed as (shard, pos): shard = first byte of the
    * salted md5 draw (256 shards a reader streams in parallel), pos = the
    * doc's exact rank within its shard in draw order. Epoch e re-salts the
    * draw, so each epoch is an independent permutation reproducible from
    * (corpus, epoch) alone — no RNG state, stable under repartitioning.
    *
    * Scale design — rank-within-shard is the [[domainCapOn]] distributed
    * prefix pattern with COUNTS instead of token sums: sub-bucket = the
    * draw's second byte, per-(shard, sub) counts are a tiny
    * map-side-combinable agg (≤ 65,536 rows total), exclusive offsets come
    * from a window over that tiny table and broadcast back, and each row's
    * pos = its sub-bucket offset + its rank within the (shard, sub) window
    * — 65,536-way parallel windows, never one task per shard, never a
    * global sort. The naive one-window-per-shard form is the oracle. */
  def epochOrder(spark: SparkSession, dir: String, epoch: Int = 0): DataFrame =
    epochOrderOn(Tables.documents(spark, dir), epoch)

  def epochOrderOn(documents: DataFrame, epoch: Int): DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    import documents.sparkSession.implicits._
    val draw = md5(concat_ws(":", lit("epoch"), lit(epoch), $"doc_id"))
    val docs = documents.select($"doc_id")
      .withColumn("draw", draw)
      .withColumn("shard", substring($"draw", 1, 2))
      .withColumn("sub", substring($"draw", 3, 2))
    val counts = docs.groupBy($"shard", $"sub").agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy($"shard").orderBy($"sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("offset", coalesce(sum($"c").over(wOff), lit(0L)))
      .select($"shard", $"sub", $"offset")
    val wIn = Window.partitionBy($"shard", $"sub").orderBy($"draw", $"doc_id")
    docs.join(broadcast(offsets), Seq("shard", "sub"))
      .withColumn("pos", $"offset" + row_number().over(wIn) - 1)
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  def epochOrderSql(epoch: Int = 0): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    md5(concat_ws(':', 'epoch', '$epoch', CAST(doc_id AS VARCHAR))) AS draw
       |  FROM documents)
       |SELECT doc_id, substring(draw, 1, 2) AS shard,
       |  CAST(row_number() OVER (PARTITION BY substring(draw, 1, 2)
       |    ORDER BY draw, doc_id) - 1 AS BIGINT) AS pos
       |FROM d
       |ORDER BY shard, pos""".stripMargin

  /** Epoch-shuffled sequence packing: [[packSequences]]' token-budget packs,
    * but in the EPOCH-SHUFFLED order of [[epochOrder]] rather than doc_id
    * order — the composition a pretraining run actually executes (shuffle
    * the corpus, then pack the shuffled stream into fixed-budget
    * sequences). Packs are scoped per shard (256 parallel pack streams;
    * packs never cross shards), so the global structure stays deterministic
    * AND parallel: (epoch, shard, pack_id) addresses a pack exactly.
    *
    * Scale: the running token total within a shard is the same two-level
    * distributed prefix sum as [[domainCapOn]] — per-(shard, sub) token
    * sums → broadcast exclusive offsets → 65,536-way parallel windows.
    * (Shards are hash-uniform so even the naive 256-way window has no hot
    * task, but a 100 TB corpus still puts ~400 GB in each; the sub-bucket
    * level keeps window inputs at ~1.5 GB.) Docs may straddle a pack
    * boundary — the [[packSequences]] contract. */
  def packShuffled(spark: SparkSession, dir: String, epoch: Int = 0,
      budget: Long = 512): DataFrame = {
    import spark.implicits._
    require(budget > 0, s"budget must be positive, got $budget")
    val draw = md5(concat_ws(":", lit("epoch"), lit(epoch), $"doc_id"))
    val docs = Tables.documents(spark, dir)
      .select($"doc_id",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"))
      .withColumn("draw", draw)
      .withColumn("shard", substring($"draw", 1, 2))
      .withColumn("sub", substring($"draw", 3, 2))
    val sums = docs.groupBy($"shard", $"sub").agg(sum($"n_tokens").as("stok"))
    val wOff = Window.partitionBy($"shard").orderBy($"sub")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sums
      .withColumn("offset", coalesce(sum($"stok").over(wOff), lit(0L)))
      .select($"shard", $"sub", $"offset")
    val wIn = Window.partitionBy($"shard", $"sub").orderBy($"draw", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(offsets), Seq("shard", "sub"))
      .withColumn("cum_before",
        $"offset" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .select($"doc_id", $"shard", $"n_tokens",
        floor($"cum_before" / budget).cast("long").as("pack_id"),
        $"cum_before")
      .orderBy($"shard", $"cum_before")
  }

  def packShuffledSql(epoch: Int = 0, budget: Long = 512): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(${OracleFragments.tokenCount("text")} AS BIGINT) AS n_tokens,
       |    md5(concat_ws(':', 'epoch', '$epoch', CAST(doc_id AS VARCHAR))) AS draw
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, substring(draw, 1, 2) AS shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY substring(draw, 1, 2)
       |      ORDER BY draw, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT doc_id, shard, n_tokens,
       |  CAST(floor(CAST(cum_before AS DOUBLE) / $budget) AS BIGINT) AS pack_id,
       |  cum_before
       |FROM c
       |ORDER BY shard, cum_before""".stripMargin

  /** Streaming face of [[domainCapOn]]: admit documents from an unbounded
    * stream until each source's cumulative token budget is exhausted, with
    * the consumed-token count as exactly-once keyed state
    * (`flatMapGroupsWithState`, checkpoint-recoverable like every stateful
    * operator here).
    *
    * Semantics note (documented, spec-pinned): the batch form keeps the
    * md5-DRAW-order prefix — a deterministic uniform sample of each
    * over-budget domain. An online admitter cannot see future draws, so the
    * streaming form keeps the ARRIVAL-order prefix across micro-batches,
    * draw-order WITHIN a micro-batch (making a single-batch run identical to
    * the batch operator — the parity the spec pins). Once a domain's budget
    * is consumed, later micro-batches ship nothing for it: the state is one
    * Long per source, and rejected docs are dropped map-side at the state
    * operator, never buffered.
    *
    * Scale: one shuffle per micro-batch on `source` (the same key the state
    * store is partitioned by). A hot domain funnels through one state task
    * per batch, but only until its budget exhausts — after that its rows die
    * at the filter inside the state function; the CLOSED-domain set could be
    * broadcast as a pre-filter if micro-batches stay hot-domain-heavy. */
  def domainCapStream(docs: DataFrame, budget: Long):
      org.apache.spark.sql.Dataset[(Long, String, Long, Long)] = {
    require(budget > 0, s"budget must be positive, got $budget")
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .select($"doc_id", $"source",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"),
        md5(concat_ws(":", lit("cap"), $"doc_id", $"source")).as("draw"))
      .as[(Long, String, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String, Long, String)],
            state: GroupState[Long]) =>
          var consumed = state.getOption.getOrElse(0L)
          val admitted = Vector.newBuilder[(Long, String, Long, Long)]
          // draw-sorted within the batch: deterministic under re-execution
          // of the same micro-batch, and ≡ the batch operator when all data
          // arrives in one batch
          rows.toVector.sortBy(r => (r._4, r._1)).foreach {
            case (id, src, tok, _) =>
              if (consumed < budget) {
                admitted += ((id, src, tok, consumed))
                consumed += tok
              }
          }
          state.update(consumed)
          admitted.result().iterator
      }
  }

  /** Deterministic contrastive negative sampling: `m` pseudo-random partner
    * documents per anchor, each VERIFIED non-similar (exact 3-shingle Jaccard
    * < `maxJaccard`) — the "hard part" of negative mining is not the
    * sampling but guaranteeing a negative isn't an accidental near-dup, and
    * because only the m·N SAMPLED pairs are verified, the check is linear
    * where a full similarity join is quadratic.
    *
    * The partner draw is the content-hash determinism scheme of the file
    * header: offset = (hex32(md5("neg:" + anchor + ":" + slot)) mod (N−1)) +
    * 1, partner = (anchor + offset) mod N — never the anchor itself, uniform
    * over the other ids, reproducible across reruns/repartitionings, and
    * cross-engine exact (both engines read the same 8 hex chars as an
    * integer). N = max(doc_id)+1 is one broadcastable scalar agg; ids absent
    * from a sparse id space simply drop in the partner join (documented
    * contract — the driver corpus is dense).
    *
    * Scale shape: partner derivation is a map-only projection; the two
    * shingle-fetch joins key on uniform doc ids (shuffle volume = m·N id
    * pairs + their shingle sets); the Jaccard verify is one codegen'd
    * merge-intersection per sampled pair. Empty-shingle docs are excluded on
    * BOTH sides (an empty doc can neither anchor nor serve as a negative —
    * and keeps 0/0 out of the ratio). */
  def negativePairs(spark: SparkSession, dir: String, m: Int = 2,
      maxJaccard: Double = 0.5): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(maxJaccard > 0 && maxJaccard <= 1, s"maxJaccard in (0,1], got $maxJaccard")
    import spark.implicits._
    val sh = Dedup.shingledDocs(spark, dir).filter($"sz" > 0)
    val n = Tables.documents(spark, dir).agg(max($"doc_id")).head().getLong(0) + 1
    val cand = Tables.documents(spark, dir)
      .select($"doc_id".as("anchor_id"))
      .withColumn("slot", explode(array((1 to m).map(lit(_)): _*)))
      .withColumn("h",
        conv(substring(md5(concat_ws(":", lit("neg"), $"anchor_id", $"slot")), 1, 8),
          16, 10).cast("long"))
      .select($"anchor_id", $"slot".cast("long").as("slot"),
        (($"anchor_id" + $"h" % (n - 1) + 1) % n).as("negative_id"))
    cand
      .join(sh.select($"doc_id".as("anchor_id"), $"sh".as("sh_a"), $"sz".as("sz_a")),
        "anchor_id")
      .join(sh.select($"doc_id".as("negative_id"), $"sh".as("sh_b"), $"sz".as("sz_b")),
        "negative_id")
      .withColumn("inter",
        graft.functions.VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double"))
      .filter($"jaccard" < maxJaccard)
      .select($"anchor_id", $"slot", $"negative_id", $"jaccard")
      .orderBy($"anchor_id", $"slot")
  }

  // Same draw arithmetic in DuckDB ('0x'-prefixed cast reads the identical 8
  // hex chars); jaccard is an int/int double on identical shingle-set sizes
  // (the dedup_minhash_pairs 64-bit-hash argument), so values AND the
  // boundary comparison agree bitwise.
  def negativePairsSql(m: Int = 2, maxJaccard: Double = 0.5): String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+2], ' ')
       |                   FOR i IN range(1, len(toks) - 1)]) AS sh
       |  FROM (SELECT doc_id,
       |          string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
       |        FROM documents)
       |  WHERE len(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                           FOR i IN range(1, len(toks) - 1)])) > 0),
       |n AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |cand AS (
       |  SELECT d.doc_id AS anchor_id, CAST(s.slot AS BIGINT) AS slot,
       |    (d.doc_id + (('0x' || substr(md5(concat_ws(':', 'neg',
       |         CAST(d.doc_id AS VARCHAR), CAST(s.slot AS VARCHAR))), 1, 8))::BIGINT
       |       % (n.n - 1)) + 1) % n.n AS negative_id
       |  FROM documents d CROSS JOIN (SELECT unnest(range(1, ${m + 1})) AS slot) s
       |    CROSS JOIN n),
       |j AS (
       |  SELECT c.anchor_id, c.slot, c.negative_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.anchor_id
       |  JOIN sh b ON b.doc_id = c.negative_id)
       |SELECT anchor_id, slot, negative_id, jaccard
       |FROM j WHERE jaccard < $maxJaccard
       |ORDER BY anchor_id, slot""".stripMargin

  /** Per-domain token-budget cap: each `source` contributes at most `budget`
    * tokens to the output, selected as the md5-hash-ordered PREFIX of its
    * documents (keep a doc iff the tokens accumulated strictly before it are
    * under budget — so every domain gets ≥ 1 doc). The MassiveText/Gopher
    * "domain cap" shape: bound a mega-domain's share of the mix without
    * touching small domains, deterministically (reproducible across reruns
    * and repartitionings — no rand()).
    *
    * Scale design — the naive form is a running sum over ONE window per
    * source, which puts an entire hot domain (the very domain being capped)
    * in a single task. Instead the running sum is computed as a DISTRIBUTED
    * PREFIX SUM over the draw's own hash space:
    *  1. bucket = first byte of the draw (256 buckets; the draw is hex, so
    *     lexicographic draw order IS bucket-major order);
    *  2. per-(source, bucket) token sums — a map-side-combinable aggregate
    *     whose output is tiny (|sources| × 256 rows);
    *  3. exclusive bucket offsets via a window over that TINY table, then
    *     broadcast back;
    *  4. the within-bucket running sum windows on (source, bucket) — a hot
    *     domain's sort now spreads over 256 tasks, each seeing ~1/256 of it.
    * Result rows are identical to the naive global window (differential- and
    * fixture-pinned in PrepOpsSpec); the oracle states the naive form. */
  def domainCap(spark: SparkSession, dir: String, budget: Long = 1300): DataFrame =
    domainCapOn(Tables.documents(spark, dir), budget)

  /** [[domainCap]] over any (doc_id, source, text) frame — the operator
    * proper; split out so fixtures and the streaming face's single-batch
    * parity spec can drive it directly. */
  def domainCapOn(documents: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import documents.sparkSession.implicits._
    val draw = md5(concat_ws(":", lit("cap"), $"doc_id", $"source"))
    val docs = documents
      .select($"doc_id", $"source",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"))
      .withColumn("draw", draw)
      .withColumn("bucket", substring($"draw", 1, 2))
    val bucketSums = docs.groupBy($"source", $"bucket")
      .agg(sum($"n_tokens").as("btok"))
    val wOff = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketSums
      .withColumn("offset", coalesce(sum($"btok").over(wOff), lit(0L)))
      .select($"source", $"bucket", $"offset")
    val wIn = Window.partitionBy($"source", $"bucket").orderBy($"draw", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum_before",
        $"offset" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .filter($"cum_before" < budget)
      .select($"doc_id", $"source", $"n_tokens", $"cum_before")
      .orderBy($"source", $"doc_id")
  }

  // The naive single-window form: semantically what the bucketed prefix sum
  // computes; the exclusive frame (… AND 1 PRECEDING) is the "strictly
  // before" in the keep rule.
  def domainCapSql(budget: Long = 1300): String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(${OracleFragments.tokenCount("text")} AS BIGINT) AS n_tokens,
       |    md5(concat_ws(':', 'cap', CAST(doc_id AS VARCHAR), source)) AS draw
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY draw, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT doc_id, source, n_tokens, cum_before
       |FROM c WHERE cum_before < $budget
       |ORDER BY source, doc_id""".stripMargin

  /** Global token-budget curation: keep the HIGHEST-QUALITY documents until
    * a corpus-wide token budget fills — "give me the best 500B tokens" — the
    * selection rule behind quality-pruned pretraining sets. Selection order
    * is (quality DESC, doc_id): the unique global prefix of the
    * quality-ranked corpus whose cumulative token count stays under budget.
    *
    * Scale design — logically a global sort + running sum, executed with
    * NEITHER: quality is binned onto a 257-value grid (floor(q·256); bin
    * order ≡ quality order across bins because floor is monotone), per-bin
    * token sums are a tiny map-side-combinable agg, exclusive bin offsets
    * come from one window over that ≤257-row table (single-partition is fine
    * at metadata size — same rationale as [[domainCapOn]]'s broadcast), and
    * each doc's cum_before = its bin's offset + a within-bin prefix sum
    * (256-way parallel windows). The oracle is the naive one-window global
    * form; matching it hash-exactly proves the decomposition. Within-bin
    * ties in quality break by doc_id on both sides, so the kept set is
    * unique. Docs straddling nothing: a doc whose cum_before < budget is
    * kept even if it overshoots — the prefix rule, mirrored exactly.
    *
    * Like [[domainCapOn]], the bin-sum side re-reads the (doc_id, text)
    * scan rather than caching it: two pruned two-column scans beat pinning
    * the scored corpus in cluster memory at 100 TB; persist the projection
    * first if the quality kernel ever dominates the scan. */
  def tokenBudget(spark: SparkSession, dir: String, budget: Long = 8000): DataFrame =
    tokenBudgetOn(Tables.documents(spark, dir), budget)

  /** [[tokenBudget]] over any (doc_id, text) frame — split out for fixture
    * specs, like [[domainCapOn]]. */
  def tokenBudgetOn(documents: DataFrame, budget: Long): DataFrame = {
    import documents.sparkSession.implicits._
    budgetCore(documents
      .select($"doc_id",
        // kernel token count ≡ tokenCount (FunctionsSpec differential)
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"),
        TF.qualityScore($"text").as("quality")), budget)
  }

  /** The 257-bin distributed-prefix-sum budget engine over any prepared
    * (doc_id, n_tokens, quality) frame — the token unit is the CALLER's
    * choice ([[tokenBudgetOn]] counts whitespace tokens; [[bpeBudgetOn]]
    * counts learned BPE tokens, the unit budgets are actually denominated
    * in). One machinery, spec-pinned once (bucketed ≡ naive), any
    * denomination. */
  private[graft] def budgetCore(prepared: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import prepared.sparkSession.implicits._
    val docs = prepared
      .withColumn("bin", floor($"quality" * 256).cast("int"))
    val binSums = docs.groupBy($"bin").agg(sum($"n_tokens").as("btok"))
    // exclusive prefix over bins in DESCENDING quality order; ≤257 rows, so
    // the single-partition window is metadata-sized, never a data shuffle
    val wOff = Window.orderBy($"bin".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = binSums
      .withColumn("offset", coalesce(sum($"btok").over(wOff), lit(0L)))
      .select($"bin", $"offset")
    val wIn = Window.partitionBy($"bin").orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(offsets), Seq("bin"))
      .withColumn("cum_before",
        $"offset" + coalesce(sum($"n_tokens").over(wIn), lit(0L)))
      .filter($"cum_before" < budget)
      .select($"doc_id", $"quality", $"n_tokens", $"cum_before")
      .orderBy($"doc_id")
  }

  /** The budget denominated in LEARNED BPE TOKENS — the unit training
    * budgets are actually written in (a 15T-token budget means tokenizer
    * tokens, not whitespace words). Composes the two 100 TB mechanisms the
    * repo already ships: [[BpeVocab.encodeOnDocs]] supplies per-doc token
    * counts (distinct-word dictionary join, corpus read once) and
    * [[budgetCore]] turns "best N tokens" into the 257-bin distributed
    * prefix sum — no global sort in either half. Docs whose every word
    * fell out of the dictionary (none on this corpus, but possible with
    * OOV-pruned dictionaries) count 0 tokens and ride along free.
    *
    * Rows-only: the learned merge table isn't ANSI-expressible (the BPE
    * trainer's own justification); the spec pins bucketed ≡ naive on the
    * engine's own counts. */
  def bpeBudget(spark: SparkSession, dir: String): DataFrame =
    bpeBudgetOn(Tables.documents(spark, dir), budget = 16000, nMerges = 16)

  def bpeBudgetOn(documents: DataFrame, budget: Long, nMerges: Int): DataFrame = {
    import documents.sparkSession.implicits._
    val counts = BpeVocab.encodeOnDocs(documents, nMerges)
      .select($"doc_id", $"n_tokens")
    budgetCore(
      documents.select($"doc_id", TF.qualityScore($"text").as("quality"))
        .join(counts, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_tokens", lit(0L)).as("n_tokens"),
          $"quality"),
      budget)
  }

  /** DuckDB twin of [[bpeBudgetOn]] (r9): the unrolled-BPE encode counts
    * ([[BpeVocab.sqlCtes]]) feed the same plain-window budget SQL as
    * prep_token_budget — the bucketed prefix sum's equivalence to the
    * plain window is already spec-pinned, so the oracle uses the simple
    * form. */
  val bpeBudgetSql: String =
    s"""WITH ${BpeVocab.sqlCtes(16)},
       |${BpeVocab.occCte},
       |cnts AS (
       |  SELECT o.doc_id, CAST(sum(len(d.syms)) AS BIGINT) AS n_tokens
       |  FROM occ o JOIN w16 d ON d.w = o.w GROUP BY o.doc_id),
       |d AS (
       |  SELECT doc_id, coalesce(c.n_tokens, 0) AS n_tokens,
       |    ${OracleFragments.quality("text")} AS quality
       |  FROM documents LEFT JOIN cnts c USING (doc_id)),
       |c2 AS (
       |  SELECT doc_id, quality, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM d)
       |SELECT doc_id, quality, n_tokens, cum_before
       |FROM c2 WHERE cum_before < 16000
       |ORDER BY doc_id""".stripMargin

  def tokenBudgetSql(budget: Long = 8000): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CAST(${OracleFragments.tokenCount("text")} AS BIGINT) AS n_tokens,
       |    ${OracleFragments.quality("text")} AS quality
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, quality, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM d)
       |SELECT doc_id, quality, n_tokens, cum_before
       |FROM c WHERE cum_before < $budget
       |ORDER BY doc_id""".stripMargin

  /** Exact n-gram decontamination: train-split documents sharing any verbatim
    * 8-gram with a test-split document — the standard exact-overlap
    * decontamination check (the GPT-3 paper used 13-grams; 8 fits this
    * corpus' ~60-token docs), complementing [[contamination]]'s near-dup
    * screen: MinHash catches paraphrases, the n-gram join catches short
    * verbatim splices whose whole-document Jaccard stays under any
    * threshold.
    *
    * Scale shape: per-doc DISTINCT grams (projection, no shuffle) → one
    * equi-join on the gram key → one train-doc-keyed aggregate. Gram keys are
    * near-unique (few posting lists exceed 1), so the join shuffles ~corpus
    * token volume with no hot keys. Grams travel as the codegen'd 64-bit
    * hashed-shingle set (`shingleHashSet(text, 8)`) rather than strings —
    * 8-byte join keys instead of ~50-char grams, and only COUNTS reach the
    * output, so the oracle (which joins on gram strings) still matches
    * exactly w.h.p. — the dedup_minhash_pairs collision argument
    * (P ≈ 1e-15 at these set sizes). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = Tables.documents(spark, dir)
      .select($"doc_id", splitCol($"doc_id").as("split"),
        explode(graft.functions.VectorFunctions.shingleHashSet($"text", 8)).as("g"))
    val train = grams.filter($"split" === "train")
      .select($"g", $"doc_id".as("train_doc"))
    val test = grams.filter($"split" === "test")
      .select($"g", $"doc_id".as("test_doc"))
    train.join(test, "g")
      .groupBy($"train_doc")
      .agg(countDistinct($"test_doc").as("n_test_docs"),
        count(lit(1)).as("n_collisions"))
      .orderBy($"train_doc")
  }

  val decontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${OracleFragments.tokens("text")} AS t,
       |    ${OracleFragments.splitCase("doc_id")} AS split
       |  FROM documents
       |  WHERE length(${OracleFragments.norm("text")}) > 0),
       |g AS (
       |  SELECT doc_id, split,
       |    unnest(list_distinct([array_to_string(t[i:i+7], ' ')
       |                          FOR i IN range(1, len(t) - 6)])) AS g
       |  FROM toks)
       |SELECT a.doc_id AS train_doc,
       |  count(DISTINCT b.doc_id) AS n_test_docs,
       |  count(*) AS n_collisions
       |FROM g a JOIN g b USING (g)
       |WHERE a.split = 'train' AND b.split = 'test'
       |GROUP BY 1
       |ORDER BY train_doc""".stripMargin

  /** Fuzzy eval-set decontamination: train documents within edit distance 4
    * of ANY test document, with the match count and closest distance per
    * flagged doc. Completes the contamination triad: MinHash
    * ([[contamination]]) catches whole-document paraphrase overlap, the
    * exact 8-gram join ([[decontaminate]]) catches verbatim splices, and
    * this catches character-level corruption (OCR noise, encoding damage,
    * whitespace mangling) that shifts every n-gram without changing the
    * document.
    *
    * Scale shape: candidates via [[Dedup.fuzzyCrossPairs]] (PassJoin keys,
    * ids-only equi-join, constant per-doc fan-out in k). This fixture's
    * reference is the hash-split test slice (~10% of the corpus), so the
    * key join shuffles hashes on both sides — still linear, never
    * quadratic; in the production shape the reference is a benchmark suite
    * (MBs against a 100 TB train side), and its two key indexes become the
    * broadcast side so train is never shuffled at all. The same
    * generator applied per micro-batch (foreachBatch) is the streaming
    * ingestion guard — state-free, pinned streaming ≡ batch by
    * StreamingSpec. */
  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.documents(spark, dir)
      .select($"doc_id", splitCol($"doc_id").as("split"),
        TF.normalizeText($"text").as("t"))
      .withColumn("len", length($"t"))
    val train = n.filter($"split" === "train").select($"doc_id", $"t", $"len")
    val test = n.filter($"split" === "test").select($"doc_id", $"t", $"len")
    Dedup.fuzzyCrossPairs(train, test, k = 4)
      .groupBy($"id_a".as("train_doc"))
      .agg(count(lit(1)).as("n_matches"), min($"distance").as("min_distance"))
      .orderBy($"train_doc")
  }

  val fuzzyDecontaminateSql: String =
    s"""WITH n AS (
       |  SELECT doc_id, ${OracleFragments.norm("text")} AS t,
       |    ${OracleFragments.splitCase("doc_id")} AS split
       |  FROM documents),
       |tr AS (SELECT doc_id, t FROM n WHERE split = 'train'),
       |te AS (SELECT doc_id, t FROM n WHERE split = 'test'),
       |m AS (
       |  SELECT tr.doc_id AS d, levenshtein(tr.t, te.t) AS dist
       |  FROM tr JOIN te ON abs(len(tr.t) - len(te.t)) <= 4
       |  WHERE levenshtein(tr.t, te.t) <= 4)
       |SELECT d AS train_doc, count(*) AS n_matches,
       |  CAST(min(dist) AS BIGINT) AS min_distance
       |FROM m
       |GROUP BY d
       |ORDER BY train_doc""".stripMargin

  /** The END-TO-END curation pipeline as one oracle-checked query — the
    * composition a training-data team actually ships, stitched from the
    * operators above with zero redefinition:
    *   1. near-dup clusters → keep the highest-quality member
    *      ([[Dedup.dedupCanonical]]'s selection over shared CC labels);
    *   2. quality screen at 0.75 ([[qualityScreen]]'s threshold);
    *   3. deterministic split, keep the train slice ([[splitCol]]);
    *   4. weighted mixture sample ([[mixKeep]]).
    * Every stage reuses the SAME column definition as its standalone
    * operator, and the oracle interpolates the same shared fragments — so
    * this query pins that the operators compose without drift, not just
    * that each works alone.
    *
    * Scale shape: stages 2-4 are pure filters over the canonical-survivor
    * join (no new shuffles beyond dedup's own); the expensive stage is the
    * dedup family's banded candidate join + O(log d) label rounds, already
    * bounded (see [[Dedup.connectedComponents]]). */
  def prepCorpus(spark: SparkSession, dir: String): DataFrame =
    prepCorpusFromLabels(spark, dir,
      Dedup.ccLabels(spark, dir, reliableCheckpoint = false))

  /** [[prepCorpus]] from a precomputed (id, label) frame (see
    * [[SharedDedupLabels]]). */
  private[queries] def prepCorpusFromLabels(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    import spark.implicits._
    val quality = Tables.documents(spark, dir)
      .select($"doc_id", $"source", TF.qualityScore($"text").as("quality"))
    val canonical = labels
      .join(quality.select($"doc_id", $"quality"), $"id" === $"doc_id")
      .groupBy($"label")
      .agg(max_by($"doc_id", struct($"quality".as("q"), (-$"doc_id").as("negid")))
        .as("doc_id"))
      .select($"doc_id")
    canonical.join(quality, "doc_id")
      .filter($"quality" >= 0.75)
      .filter(splitCol($"doc_id") === "train")
      .filter(mixKeep($"doc_id", $"source"))
      .select($"doc_id", $"source", $"quality")
      .orderBy($"doc_id")
  }

  val prepCorpusSql: String =
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
       |q AS (SELECT doc_id, source,
       |        ${OracleFragments.quality("text")} AS quality
       |      FROM documents),
       |ranked AS (
       |  SELECT l.label, q.doc_id, q.source, q.quality,
       |    row_number() OVER (PARTITION BY l.label
       |                       ORDER BY q.quality DESC, q.doc_id ASC) AS r
       |  FROM labels l JOIN q ON l.id = q.doc_id)
       |SELECT doc_id, source, quality
       |FROM ranked
       |WHERE r = 1
       |  AND quality >= 0.75
       |  AND ${OracleFragments.splitCase("doc_id")} = 'train'
       |  AND ${mixKeepSql("doc_id", "source")}
       |ORDER BY doc_id""".stripMargin

  /** Recall of b-band × r-row LSH banding for a pair whose per-row collision
    * probability is p: 1 − (1 − p^r)^b. Powers are expanded as
    * left-associated multiplications so the card, its SQL oracle, and the
    * spec's recomputation share one bit-exact arithmetic. */
  private def bandedRecall(p: Double, r: Int, b: Int): Double = {
    val pr = (1 until r).foldLeft(p)((acc, _) => acc * p)
    val miss = 1.0 - pr
    1.0 - (1 until b).foldLeft(miss)((acc, _) => acc * miss)
  }

  /** Sign-LSH per-hyperplane collision probability for a pair at cosine c:
    * 1 − θ/π (Goemans–Williamson). */
  private def signRowProb(c: Double): Double = 1.0 - math.acos(c) / math.Pi

  /** The method-card rows: (operator, method, bands, rows_per_band,
    * threshold, expected_recall, caveat) for every operator whose output is
    * sampled or sketch-approximate. Built from the SAME constants the
    * operators execute with ([[Dedup.MinhashBands]] etc.), so the card
    * cannot drift from the code; PrepOpsSpec re-derives the recall numbers
    * independently and pins that the named operators exist. */
  private[graft] def methodCardRows
      : Seq[(String, String, Option[Int], Option[Int], Option[Double], Option[Double], String)] = {
    val mhRecall = bandedRecall(Dedup.MinhashThreshold,
      Dedup.MinhashRowsPerBand, Dedup.MinhashBands)
    val signRecall = bandedRecall(signRowProb(Dedup.EmbeddingCosineThreshold),
      Dedup.SignLshPlanesPerBand, Dedup.SignLshBands)
    val minhashCaveat =
      "precision exact (every candidate re-verified); recall model " +
        "1-(1-s^r)^b AT s = threshold and rising toward 1 above it; " +
        "brute-force-exact recall on this corpus is spec-pinned"
    Seq(
      ("dedup_minhash_pairs", "minhash-lsh + exact-jaccard verify",
        Some(Dedup.MinhashBands), Some(Dedup.MinhashRowsPerBand),
        Some(Dedup.MinhashThreshold), Some(mhRecall), minhashCaveat),
      ("dedup_clusters", "minhash-lsh edges + connected components",
        Some(Dedup.MinhashBands), Some(Dedup.MinhashRowsPerBand),
        Some(Dedup.MinhashThreshold), Some(mhRecall),
        "edges share dedup_minhash_pairs recall; a missed edge can split a " +
          "cluster, never merge one"),
      ("dedup_canonical", "minhash-lsh edges + best-quality selection",
        Some(Dedup.MinhashBands), Some(Dedup.MinhashRowsPerBand),
        Some(Dedup.MinhashThreshold), Some(mhRecall),
        "same edge recall as dedup_clusters; canonical choice within a " +
          "found cluster is exact"),
      ("dedup_embedding_cosine", "sign-lsh + exact-cosine verify",
        Some(Dedup.SignLshBands), Some(Dedup.SignLshPlanesPerBand),
        Some(Dedup.EmbeddingCosineThreshold), Some(signRecall),
        "precision exact; recall at cosine c is 1-(1-(1-acos(c)/pi)^r)^b — " +
          "about 0.5 AT the shipped threshold, 0.97 at c = 0.8; raise bands " +
          "for boundary-heavy corpora"),
      ("dedup_semantic", "sign-lsh edges + connected components",
        Some(Dedup.SignLshBands), Some(Dedup.SignLshPlanesPerBand),
        Some(Dedup.EmbeddingCosineThreshold), Some(signRecall),
        "cluster edges carry dedup_embedding_cosine recall (~0.5 at the " +
          "threshold boundary): clusters are a high-precision LOWER bound " +
          "on the true semantic groups"),
      ("sim_lsh_topk",
        s"multi-probe sign-lsh (nProbe = ${SimilaritySearch.LshNProbe})",
        Some(SimilaritySearch.LshBands), Some(SimilaritySearch.LshPlanesPerBand),
        None, Some(SimilaritySearch.LshSpecRecallFloor),
        "expected_recall is the spec-pinned FLOOR vs brute force " +
          "(measured 0.98 at nProbe = 6); returned scores are exact cosines"),
      ("sim_ivf_topk",
        s"ivf nCells = ${SimilaritySearch.IvfNCells}, " +
          s"nprobe = ${SimilaritySearch.IvfNProbe}",
        None, None, None, Some(SimilaritySearch.IvfSpecRecallFloor),
        "expected_recall is the spec-pinned FLOOR vs brute force on " +
          "near-random test vectors; real embeddings cluster, so raise " +
          "nCells/nprobe together; returned scores are exact cosines"),
      ("sim_ivfpq_topk",
        s"ivf nCells = ${SimilaritySearch.IvfNCells}, " +
          s"nprobe = ${SimilaritySearch.IvfNProbe}; pq M = " +
          s"${SimilaritySearch.PqM}, ks = ${SimilaritySearch.PqKs}, " +
          s"shortlist = ${SimilaritySearch.PqShortlist}",
        None, None, None, Some(SimilaritySearch.IvfSpecRecallFloor),
        "candidate recall matches sim_ivf_topk (same cells/probes); the PQ " +
          "stage ranks candidates by direction-only reconstruction, so the " +
          "shortlist can drop a true neighbor the flat scan keeps — final " +
          "scores are exact fp32 cosines on the shortlist"),
      ("dedup_span_overlap",
        s"verbatim ${Dedup.SpanGramTokens}-token-run pairs, " +
          s"gram df cap ${Dedup.SpanDfCap}",
        None, None, None, None,
        "exact within the cap; grams appearing in more documents than the " +
          "df cap are treated as boilerplate and generate no pairs — raise " +
          "the cap to trade join volume for template-heavy recall"),
      ("q20_approx_distinct", "hyperloglog++ (rsd = 0.02)",
        None, None, None, None,
        "count-distinct estimate; spec bounds deviation vs exact within " +
          "2 percent on this corpus"),
      ("q25_approx_percentiles", "approx_percentile sketch (accuracy = 10000)",
        None, None, None, None,
        "rank error bounded by 1/accuracy; exact-percentile q21 is the " +
          "hash-checked twin"),
      ("prep_domain_cap", "md5-hash-order token-budget prefix per domain",
        None, None, None, None,
        "the kept prefix of an over-budget domain is a UNIFORM RANDOM " +
          "sample of it (the draw is a content hash), not a curated " +
          "selection; under-budget domains pass whole and every domain " +
          "keeps at least one document"),
      ("prep_negative_pairs", "hash-drawn partners + exact-jaccard verify",
        None, None, Some(0.5), None,
        "negatives verified non-similar at jaccard < 0.5 EXACTLY (only " +
          "sampled pairs are scored); partner draw assumes a dense doc_id " +
          "space — absent ids silently drop that pair"),
      ("dedup_lines", "cross-document line df >= 2 removal",
        None, None, None, None,
        "exact, not sampled — listed for its policy caveat: a quote " +
          "legitimately shared by 2+ documents is removed as boilerplate; " +
          "raise minDf for quote-heavy corpora"))
  }

  /** Per-operator method card for the sampled / sketch-approximate
    * operators: parameters, the recall model evaluated at the shipped
    * configuration, and the caveat a dataset card should carry. The VERDICT
    * on sampled output should travel WITH the output — this query is the
    * mechanism. Values are static per build (they describe code, not data),
    * so the oracle re-states the same literals; the non-trivial checks are
    * in PrepOpsSpec (independent recall recomputation + operator-name
    * linkage against SparkEntry.queries). */
  def methodCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    methodCardRows.toDF("operator", "method", "bands", "rows_per_band",
      "threshold", "expected_recall", "caveat")
      .orderBy($"operator")
  }

  val methodCardSql: String = {
    def i(o: Option[Int]) = o.map(_.toString).getOrElse("CAST(NULL AS INTEGER)")
    // string→DOUBLE, not a bare decimal literal: DuckDB types bare decimals
    // as DECIMAL and the later DECIMAL→DOUBLE widening can be off by an ulp;
    // the string parse is correctly rounded, so both engines hold the exact
    // double Double.toString round-trips
    def d(o: Option[Double]) =
      o.map(v => s"CAST('${java.lang.Double.toString(v)}' AS DOUBLE)")
        .getOrElse("CAST(NULL AS DOUBLE)")
    // SQL-escape the free-text fields: an apostrophe in a caveat must become
    // a doubled quote, not a parser error in the generated oracle
    def q(s: String) = s"'${s.replace("'", "''")}'"
    val rows = methodCardRows.map { case (op, m, b, r, t, rec, cav) =>
      s"(${q(op)}, ${q(m)}, ${i(b)}, ${i(r)}, ${d(t)}, ${d(rec)}, ${q(cav)})"
    }.mkString(",\n  ")
    s"""SELECT * FROM (VALUES
       |  $rows)
       |AS t(operator, method, bands, rows_per_band, threshold, expected_recall, caveat)
       |ORDER BY operator""".stripMargin
  }

  /** Snapshot⟂delta corpus upsert — the MERGE primitive of incremental
    * corpus maintenance: a re-crawl delta lands on the current snapshot and
    * each document resolves to exactly one action:
    *   - `insert`: in the delta only (new document),
    *   - `update`: in both, content hash differs (genuine revision),
    *   - `noop`:   in both, content byte-identical (re-crawl echo — the case
    *               that DOMINATES real re-crawls and must not cost a rewrite),
    *   - `keep`:   in the snapshot only (untouched document).
    * Both sides derive deterministically from `documents` (snapshot = ids
    * with id % 10 ≠ 0; delta = ids with id % 3 = 0, texts with id % 6 = 0
    * carrying a revision marker), so the action mix exercises all four arms
    * at every SF.
    *
    * Scale shape: ONE full-outer equi-join on doc_id, everything else a
    * projection. At 100 TB the snapshot is bucketed/Hive-partitioned on
    * doc_id ([[graft.sources.Layout]]) so the join co-locates — the delta
    * (small by definition) shuffles, the snapshot does not (plan-pinned:
    * ScaleSpec's bucketed-snapshot case asserts exactly one exchange, on
    * the delta side, with a bucket-aware snapshot scan); and the `noop`
    * arm is the write saver: only partitions holding an insert/update row
    * rewrite (copy-on-write), which the [[graft.sources.Layout.manifest]]
    * shard manifest makes a per-file decision. The md5 comparison is the
    * same content-fingerprint rule as dedup_exact — hash equality stands in
    * for byte equality w.h.p., and a false merge costs a skipped rewrite of
    * a 1-in-2⁶⁴ colliding revision, never data loss of a new document. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    upsertResolved(
      upsertSnapshotOf(docs).join(upsertDeltaOf(docs), Seq("doc_id"), "full_outer"))
      .orderBy($"doc_id")
  }

  /** The deterministic snapshot / delta derivations behind [[upsert]] —
    * factored out so the streaming admission spec exercises the SAME sides
    * the batch operator merges. */
  private[graft] def upsertSnapshotOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text").as("snap_text"))

  private[graft] def upsertDeltaOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 6 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("delta_text"))

  /** The ONE action-resolution projection, shared by the batch merge
    * ([[upsert]], full-outer) and the streaming admission guard
    * ([[upsertAdmit]], delta-left) — an action-policy change cannot drift
    * between the two faces (the prep_corpus stage-fragment rule). Input must
    * carry `doc_id`, `snap_text`, `delta_text` with nulls encoding side
    * membership. */
  private[graft] def upsertResolved(joined: DataFrame): DataFrame =
    joined.select(col("doc_id"),
      when(col("snap_text").isNull, "insert")
        .when(col("delta_text").isNull, "keep")
        .when(md5(col("delta_text")) === md5(col("snap_text")), "noop")
        .otherwise("update").as("action"),
      length(coalesce(col("delta_text"), col("snap_text"))).cast("long").as("n_chars"),
      md5(coalesce(col("delta_text"), col("snap_text"))).as("content_hash"))

  /** Streaming face of [[upsert]]: resolve an arriving delta micro-batch
    * against the current snapshot — `insert`/`update`/`noop` per batch
    * document (never `keep`: a snapshot row with no arriving delta is not a
    * per-batch statement, it is the absence of one — so batch splits cannot
    * duplicate rows and the union over micro-batches of a split stream
    * equals the batch operator's non-keep rows exactly, which StreamingSpec
    * pins). State-free by design, like the fuzzy-decontam guard: the
    * snapshot is the state, read per batch; at 100 TB the delta side is
    * micro-batch-sized and broadcasts into a probe of the snapshot scan
    * (or, bucketed on doc_id, co-locates with zero snapshot shuffle). */
  def upsertAdmit(delta: DataFrame, snap: DataFrame): DataFrame =
    upsertResolved(
      delta.join(snap, Seq("doc_id"), "left"))

  val upsertSql: String =
    """WITH snap AS (
      |  SELECT doc_id, text AS snap_text FROM documents WHERE doc_id % 10 <> 0),
      |delta AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 6 = 0 THEN text || ' [rev2]' ELSE text END AS delta_text
      |  FROM documents WHERE doc_id % 3 = 0)
      |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
      |  CASE WHEN s.doc_id IS NULL THEN 'insert'
      |       WHEN d.doc_id IS NULL THEN 'keep'
      |       WHEN md5(d.delta_text) = md5(s.snap_text) THEN 'noop'
      |       ELSE 'update' END AS action,
      |  CAST(length(coalesce(d.delta_text, s.snap_text)) AS BIGINT) AS n_chars,
      |  md5(coalesce(d.delta_text, s.snap_text)) AS content_hash
      |FROM snap s FULL OUTER JOIN delta d ON s.doc_id = d.doc_id
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prep_upsert" -> (upsert _),
    "prep_corpus" -> (prepCorpus _),
    "prep_split" -> (splitAssign _),
    "prep_mix" -> (mixWeighted _),
    "prep_quality_mix" -> (qualityMix _),
    "prep_pack" -> ((s: SparkSession, d: String) => packSequences(s, d)),
    "prep_contamination" -> (contamination _),
    "prep_decontaminate" -> (decontaminate _),
    "prep_fuzzy_decontam" -> (fuzzyDecontaminate _),
    "prep_outliers" -> (outlierFilter _),
    "prep_screen" -> (qualityScreen _),
    "prep_datacard" -> (datacard _),
    "prep_method_card" -> (methodCard _),
    "prep_domain_cap" -> ((s: SparkSession, d: String) => domainCap(s, d)),
    "prep_token_budget" -> ((s: SparkSession, d: String) => tokenBudget(s, d)),
    "prep_bpe_budget" -> ((s: SparkSession, d: String) => bpeBudget(s, d)),
    "prep_epoch_order" -> ((s: SparkSession, d: String) => epochOrder(s, d)),
    "prep_pack_shuffled" -> ((s: SparkSession, d: String) => packShuffled(s, d)),
    "prep_negative_pairs" -> ((s: SparkSession, d: String) => negativePairs(s, d)),
    "prep_stratified" -> ((s: SparkSession, d: String) => stratifiedSample(s, d)),
    "text_chunks" -> ((s: SparkSession, d: String) => textChunks(s, d)),
    "text_redact" -> (textRedact _))

  val oracles: Map[String, String] = Map(
    "prep_upsert" -> upsertSql,
    "prep_corpus" -> prepCorpusSql,
    "prep_split" -> splitAssignSql,
    "prep_mix" -> mixWeightedSql,
    "prep_quality_mix" -> qualityMixSql,
    "prep_pack" -> packSequencesSql(),
    "prep_contamination" -> contaminationSql,
    "prep_decontaminate" -> decontaminateSql,
    "prep_fuzzy_decontam" -> fuzzyDecontaminateSql,
    "prep_outliers" -> outlierFilterSql,
    "prep_screen" -> qualityScreenSql,
    "prep_datacard" -> datacardSql,
    "prep_method_card" -> methodCardSql,
    "prep_domain_cap" -> domainCapSql(),
    "prep_token_budget" -> tokenBudgetSql(),
    "prep_bpe_budget" -> bpeBudgetSql,
    "prep_epoch_order" -> epochOrderSql(),
    "prep_pack_shuffled" -> packShuffledSql(),
    "prep_negative_pairs" -> negativePairsSql(),
    "prep_stratified" -> stratifiedSampleSql(),
    "text_chunks" -> textChunksSql(),
    "text_redact" -> textRedactSql)
}
