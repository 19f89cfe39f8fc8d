package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Distributed BPE (byte-pair-encoding) vocabulary trainer — the missing
  * piece between the corpus-prep operators (screen/dedup/mix) and an actual
  * tokenizer: given the `documents` table, learn the first `nMerges` BPE
  * merge rules exactly as the reference algorithm (Sennrich et al. 2016)
  * does, but with every corpus-sized pass distributed.
  *
  * Algorithm faithfully mirrors the classic formulation:
  *   1. ONE pass over the corpus builds the word-frequency table (words are
  *      whitespace-split, lowercased; each word becomes its character
  *      symbols plus a terminal `</w>` marker).
  *   2. Each merge round counts adjacent symbol pairs weighted by word
  *      frequency, picks the most frequent pair (ties broken
  *      lexicographically so the result is deterministic), and rewrites
  *      every word's symbol array by greedy left-to-right non-overlapping
  *      replacement — the same within-round semantics as the reference
  *      implementation.
  *
  * Scale shape (the reason this formulation is THE one to run at 100 TB):
  *   - the corpus is touched exactly once — the word-frequency table it
  *     produces is orders of magnitude smaller (distinct words, not tokens)
  *     but stays a distributed Dataset, never a driver structure;
  *   - each round is one explode-and-count over that table with map-side
  *     partial aggregation (pairs collapse per partition before the
  *     shuffle), so a round's shuffle volume is bounded by distinct pairs,
  *     not corpus tokens;
  *   - the winning pair is ONE collected row per round (bounded driver
  *     state: nMerges rows total), broadcast back implicitly as literals in
  *     the rewrite expression — the symbol-array rewrite is a codegen-able
  *     higher-order fold, no UDF, no per-row subquery;
  *   - `localCheckpoint` after each round caps both lineage depth and the
  *     nested-expression growth of repeated column rewrites (round N's plan
  *     would otherwise embed N nested folds); a cluster deployment would
  *     use a reliable checkpoint dir, same structure.
  *
  * Oracle-checked since r9: the "iterative, not one ANSI query" argument
  * fell once the round count was recognized as a constant — [[sqlCtes]]
  * unrolls the 16 rounds into chained materialized CTE stages and the
  * driver hash-checks the full merge table and the per-doc encode counts.
  * BpeVocabSpec additionally pins the merge table against an
  * independently-written driver-side reference BPE on the same word
  * frequencies, plus determinism across re-runs.
  */
object BpeVocab {

  /** Rounds between lineage-capping checkpoints in [[trainCore]] — see the
    * loop comment; bounds nested-fold plan depth at this many rewrites. */
  private val CheckpointEvery = 4

  /** One learned merge rule per row, in learn order. */
  def train(spark: SparkSession, dir: String, nMerges: Int): DataFrame =
    trainOnDocs(Tables.documents(spark, dir), nMerges)

  /** Same trainer over any DataFrame with a `text` column (fixture entry
    * point for BpeVocabSpec's known-corpus cases). */
  def trainOnDocs(docs: DataFrame, nMerges: Int): DataFrame =
    trainCore(docs, nMerges)._1

  /** Greedy left-to-right non-overlapping single-merge rewrite of a symbol
    * array: a higher-order fold with (out, pending) state — a just-merged
    * token never re-merges within the same round, matching reference BPE. */
  private def applyMergeTo(syms: Column, l: String, r: String, merged: String): Column = {
    val lLit = lit(l); val rLit = lit(r); val mLit = lit(merged)
    aggregate(
      syms,
      struct(
        array().cast("array<string>").as("out"),
        lit(null).cast("string").as("pending")),
      (acc: Column, x: Column) =>
        when(acc.getField("pending").isNull,
          struct(acc.getField("out").as("out"), x.as("pending")))
          .when(acc.getField("pending") === lLit && x === rLit,
            struct(concat(acc.getField("out"), array(mLit)).as("out"),
              lit(null).cast("string").as("pending")))
          .otherwise(
            struct(concat(acc.getField("out"), array(acc.getField("pending"))).as("out"),
              x.as("pending"))),
      acc => when(acc.getField("pending").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pending")))))
  }

  /** Distinct-word bound under which the merge LOOP runs on the driver
    * (r13 optimization, the bounded-driver-object pattern of
    * [[GraphQueries]] pagerank and [[Dedup]] CC): each distributed round
    * pays a full Spark job (pair-count aggregate + limit-1 collect) over
    * the distinct-WORD table — which is vocabulary-scale, not
    * corpus-scale, and bounded in practice (natural-language vocabularies
    * plateau; the table the loop iterates is already the output of a
    * corpus-wide aggregate). Under the cap the (w, syms, freq) rows are
    * collected ONCE and the identical greedy algorithm (same pair
    * weighting, same (count desc, l, r) tie-break in UTF-8 binary order,
    * same left-to-right non-overlapping rewrite) runs in-process —
    * nMerges scheduler round-trips become zero. Over the cap the
    * distributed loop below is unchanged. The gate observes only the
    * distinct-word count, which rides the word-table checkpoint the
    * distributed loop's first round needs anyway. */
  private val BpeDriverMaxWords: Int = 1 << 17

  /** Spark's string ordering is UTF8String binary order — unsigned
    * byte-wise on the UTF-8 encoding — which differs from Java's
    * UTF-16 `compareTo` for supplementary characters; the driver
    * tie-break must match the distributed `orderBy` exactly. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver twin of [[applyMergeTo]] — the same (out, pending) fold. */
  private def applyMergeDriver(syms: Array[String], l: String, r: String,
      merged: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pending: String = null
    syms.foreach { x =>
      if (pending == null) pending = x
      else if (pending == l && x == r) { out += merged; pending = null }
      else { out += pending; pending = x }
    }
    if (pending != null) out += pending
    out.toArray
  }

  /** The in-process merge loop over a collected word table — pair counts,
    * tie-break, and rewrite all identical to the distributed loop. */
  private def trainDriver(spark: SparkSession,
      ws: Array[(String, Seq[String], Long)], nMerges: Int)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    var table: Array[(String, Array[String], Long)] =
      ws.map(t => (t._1, t._2.toArray, t._3))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (_, syms, freq) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + freq)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null) best = e
          else {
            val c = java.lang.Long.compare(e._2, best._2)
            if (c > 0 || (c == 0 && (utf8Lt(e._1._1, best._1._1) ||
                (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
              best = e
          }
        }
        val (l, r) = best._1
        val merged = l + r
        merges += ((round + 1, l, r, merged, best._2))
        table = table.map { case (w, syms, freq) =>
          (w, applyMergeDriver(syms, l, r, merged), freq)
        }
        round += 1
      }
    }
    val mergeDf = merges.result()
      .toDF("rank", "left", "right", "merged", "pair_count")
      .repartition(1)
      .orderBy($"rank")
    val tableDf = spark.createDataFrame(
      table.toSeq.map { case (w, syms, freq) => (w, syms.toSeq, freq) })
      .toDF("w", "syms", "freq")
    (mergeDf, tableDf)
  }

  /** Runs the merge loop; returns (merge table, final word→symbols table).
    * The word table keeps the raw word `w` through every rewrite, so after
    * training it doubles as the encode dictionary (see `encodeOnDocs`).
    * Word tables of at most `driverMaxWords` rows run the loop on the
    * driver (see [[BpeDriverMaxWords]]). */
  private[graft] def trainCore(docs: DataFrame, nMerges: Int,
      driverMaxWords: Int = BpeDriverMaxWords): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._

    // pass 1: word-frequency table; each word becomes its symbol array
    val words = docs
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(
        $"w",
        concat(
          filter(split($"w", ""), s => length(s) > 0),
          array(lit("</w>"))).as("syms"),
        $"freq")

    // bounded-vocabulary fast path. The word table is checkpointed ONCE —
    // the job the distributed loop's first round needs anyway — and the
    // gate's row count rides it as an observed metric (r14: the old probe
    // collected up to cap+1 FULL (w, syms, freq) rows even when the corpus
    // was over the cap and the distributed loop then ran — a wasted wide
    // driver transfer per invocation; now the over-cap path pays zero
    // extra jobs and the under-cap collect reads the already-materialized
    // blocks). The symbol arrays are collected as Spark computed them, so
    // split semantics cannot drift between the two paths.
    val obs = org.apache.spark.sql.Observation()
    var table = words.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    val nWords = obs.get("n").asInstanceOf[Long]
    if (nWords <= driverMaxWords) {
      val ws = table.as[(String, Seq[String], Long)].collect()
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(table)
      return trainDriver(spark, ws, nMerges)
    }
    var lastCp = table
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]

    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      // adjacent-pair counts, weighted by word frequency; map-side combine
      // collapses duplicate pairs per partition before the shuffle
      val top = table
        .filter(size($"syms") >= 2)
        .select(
          explode(zip_with(
            slice($"syms", lit(1), size($"syms") - 1),
            slice($"syms", lit(2), size($"syms") - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"),
          $"freq")
        .groupBy($"p.l", $"p.r")
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l".asc, $"r".asc)
        .limit(1)
        .collect()

      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val l: String = row.getString(0)
        val r: String = row.getString(1)
        val cnt: Long = row.getLong(2)
        val merged = l + r
        merges += ((round + 1, l, r, merged, cnt))
        // rewrite lazily; checkpoint every CheckpointEvery rounds (r13,
        // guide §2.4): a per-round checkpoint paid one extra job per merge
        // just to materialize the rewrite the NEXT round's pair-count pass
        // would evaluate anyway. A bounded window of nested fold rewrites
        // (≤4 deep) keeps plan depth and per-row eval cost flat on the
        // distinct-word table while cutting a third of the loop's
        // scheduler round trips. Results are identical: the same rewrite
        // chain is evaluated, just materialized less often.
        table = table
          .select($"w", applyMergeTo($"syms", l, r, merged).as("syms"), $"freq")
        round += 1
        if (round % CheckpointEvery == 0) {
          val cp = table.localCheckpoint(true)
          // the superseded checkpoint window's blocks are dead once the
          // new one materialized — release eagerly (r14 §5)
          org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(lastCp)
          lastCp = cp
          table = cp
        }
      }
    }

    val mergeDf = merges.result()
      .toDF("rank", "left", "right", "merged", "pair_count")
      .repartition(1)
      .orderBy($"rank")
    (mergeDf, table)
  }

  /** Tokenize the corpus with its own learned merges — the apply half of
    * the tokenizer story. The trained word table IS the encode dictionary
    * (training already rewrote every distinct word through all merges), so
    * encoding is: explode documents to (doc_id, word), equi-join the
    * dictionary, and sum token counts per document. Each DISTINCT word is
    * encoded exactly once no matter how often it occurs — the join, not a
    * per-occurrence rewrite, carries the result back to the corpus, and the
    * dictionary is never assumed broadcastable (at 100 TB the distinct-word
    * table can outgrow any broadcast threshold; AQE may still choose BHJ
    * when it fits). Output: per-document token accounting. */
  def encode(spark: SparkSession, dir: String, nMerges: Int): DataFrame =
    encodeOnDocs(Tables.documents(spark, dir), nMerges)

  def encodeOnDocs(docs: DataFrame, nMerges: Int): DataFrame =
    encodeWith(docs, trainCore(docs, nMerges)._2)

  /** Per-document token counts of `docs` against a trained word table. */
  private[graft] def encodeWith(docs: DataFrame, dict: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val occurrences = docs
      .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
    occurrences
      .join(dict.select($"w", size($"syms").as("word_tokens")), "w")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum($"word_tokens").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** DuckDB re-derivation of the training loop (r9): "iterative" stopped
    * being an oracle blocker once the round count was recognized as a
    * CONSTANT — the 16 rounds UNROLL into 16 chained `MATERIALIZED` CTE
    * stages (materialization is load-bearing: inlined CTEs would
    * re-evaluate the whole prefix per reference, exponentially). Each
    * stage re-derives one round: adjacent-pair counts weighted by word
    * frequency, the (cnt DESC, l, r) argmax, and the greedy
    * non-overlapping rewrite — the engine's (out, pending) fold collapses
    * to a `list_reduce` where the accumulator's LAST element plays
    * `pending` (sound because a just-merged symbol `l||r` can never equal
    * `l`, so it cannot cascade within its round — the same invariant the
    * engine relies on). A round with no adjacent pair left yields an EMPTY
    * m-CTE; the rewrite joins it with LEFT JOIN ON TRUE so the word table
    * passes through unchanged (NULL merge matches nothing) — mirroring the
    * engine's early-stop, instead of a CROSS JOIN wiping the corpus. */
  private[queries] def sqlCtes(nMerges: Int): String = {
    val words0 =
      raw"""w0 AS MATERIALIZED (
           |  SELECT w, list_append([w[i] FOR i IN range(1, length(w)+1)], '</w>') AS syms,
           |         CAST(count(*) AS BIGINT) AS freq
           |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+')) AS w
           |        FROM documents)
           |  WHERE length(w) > 0
           |  GROUP BY w
           |)""".stripMargin
    val rounds = (1 to nMerges).flatMap { r =>
      Seq(
        s"""m$r AS MATERIALIZED (
           |  SELECT syms[ii.i] AS l, syms[ii.i+1] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM w${r - 1}, LATERAL (SELECT unnest(range(1, len(syms))) AS i) ii
           |  WHERE len(syms) >= 2
           |  GROUP BY 1, 2
           |  ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1
           |)""".stripMargin,
        s"""w$r AS MATERIALIZED (
           |  SELECT t.w,
           |    list_reduce([[s] FOR s IN t.syms],
           |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.l AND x[1] = m.r2
           |                  THEN list_append(acc[1:len(acc)-1], m.l || m.r2)
           |                  ELSE list_append(acc, x[1]) END) AS syms,
           |    t.freq
           |  FROM w${r - 1} t LEFT JOIN m$r m ON TRUE
           |)""".stripMargin)
    }
    (words0 +: rounds).mkString(",\n")
  }

  /** (doc_id, w) occurrences — the tokenization both SQL faces share. */
  private[queries] val occCte: String =
    raw"""occ AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0
         |)""".stripMargin

  private val NMerges = 16

  val vocabSql: String = {
    val union = (1 to NMerges).map { r =>
      s"""SELECT $r AS rank, l AS "left", r2 AS "right", l || r2 AS merged, cnt AS pair_count FROM m$r"""
    }.mkString("\nUNION ALL\n")
    s"WITH ${sqlCtes(NMerges)}\n$union\nORDER BY rank"
  }

  val encodeSql: String =
    s"""WITH ${sqlCtes(NMerges)},
       |$occCte
       |SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(d.syms)) AS BIGINT) AS n_tokens
       |FROM occ o JOIN w$NMerges d ON d.w = o.w
       |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_vocab" -> ((s, d) => train(s, d, nMerges = NMerges)),
    "text_bpe_encode" -> ((s, d) => encode(s, d, nMerges = NMerges)))

  val oracles: Map[String, String] = Map(
    "text_bpe_vocab" -> vocabSql,
    "text_bpe_encode" -> encodeSql)
}
