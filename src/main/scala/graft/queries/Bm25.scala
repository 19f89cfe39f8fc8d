package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.sources.{Store, Tables}

/** BM25-ranked retrieval served from a persisted index — the relevance
  * layer over [[InvertedIndex]]'s boolean search, completing the classic
  * retrieval stack (boolean → ranked → hybrid-with-embeddings).
  *
  * The index is ONE kind-discriminated store (the [[IncrementalGraph]]
  * atomicity pattern):
  *
  *   - `p` cells: (token, doc_id, tf) — per-document term frequencies;
  *   - `d` cells: (doc_id, dl) — document lengths in tokens.
  *
  * Both kinds derive from the same batch and commit in one atomic delta:
  * with separate stores, a crash between appends would leave postings
  * whose documents have no length row, silently dropping them from every
  * score (an inner join eats the evidence). Each kind is a set monoid —
  * a document's rows are identical on every derivation, so merge =
  * dropDuplicates and replay is harmless even unkeyed (the OR-class
  * store).
  *
  * Scoring (k1 = 1.2, b = 0.75, the Robertson/Sparck-Jones defaults):
  * per matched (doc, term), idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  * with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)), summed over terms (OR
  * semantics — BM25 ranks any doc matching ≥1 term). The corpus constants
  * N and avgdl come from the `d` cells; df(t) from the term-filtered
  * postings themselves. All doubles derive from the same integer inputs
  * through the same formula in both engines; the DuckDB oracle re-derives
  * every stage from the raw documents with the shared token SQL.
  *
  * Scale shape: the terms filter prunes the postings scan (pushed IN —
  * only matching-term rows are read); df and the per-doc score shuffle
  * |matching postings| rows; N/avgdl is a 1-row broadcast; the top-10 is
  * a bounded heap. The doc-length join touches only candidate docs.
  */
object Bm25 {

  private val K1 = 1.2
  private val B = 0.75
  private val Terms = Seq("join", "hash", "window")

  /** Both cell kinds for one batch, as one frame (one atomic append). */
  private[graft] def indexPartials(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id", explode(TF.wordTokens($"text")).as("token"))
    val p = toks.groupBy($"token", $"doc_id").agg(count(lit(1)).as("tf"))
      .select(lit("p").as("kind"), $"token", $"doc_id", $"tf")
    val d = docs.select(lit("d").as("kind"),
      lit(null).cast("string").as("token"), $"doc_id",
      TF.tokenCount($"text").cast("long").as("tf"))
    // `d` reuses the tf column slot for dl — one schema, two kinds
    p.unionByName(d)
  }

  /** Set-monoid merge (rows are derivation-identical): used by compaction
    * and implicitly by serve's dropDuplicates. */
  private[graft] def mergeCells(cells: DataFrame): DataFrame =
    cells.dropDuplicates("kind", "token", "doc_id")

  /** Admit one document batch atomically. */
  def admitDocs(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(indexPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeCells)
    admitted
  }

  /** BM25 top-`k` for `terms`, served from the store alone. */
  def rankFromStore(spark: SparkSession, storeDir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    import spark.implicits._
    require(terms.nonEmpty, "rank needs at least one term")
    val cells = mergeCells(Store.read(spark, storeDir))
    val lens = cells.filter($"kind" === "d").select($"doc_id", $"tf".as("dl"))
    val corpus = lens.agg(count(lit(1)).as("n"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val posts = cells.filter($"kind" === "p" && $"token".isin(terms: _*))
      .select($"token", $"doc_id", $"tf")
    val df = posts.groupBy($"token")
      .agg(countDistinct($"doc_id").as("df"))
    posts
      .join(broadcast(df), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (($"n" - $"df" + 0.5) / ($"df" + 0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * (K1 + 1)) /
          ($"tf" + lit(K1) * (lit(1 - B) + lit(B) * $"dl" / $"avgdl")))
      .groupBy($"doc_id")
      .agg(sum($"contrib").as("score"), count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id")
      .limit(k)
      .select($"doc_id", round($"score", 4).as("score"), $"n_terms")
  }

  /** Driver face: build the index from two interleaved halves, serve the
    * ranked top-10 for three common corpus terms. Oracle: every stage
    * (tf/df/dl/N/avgdl/idf/score) re-derived from raw documents in SQL. */
  def textBm25Search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_bm25_store_").toString
    try {
      val docs = Tables.documents(spark, dir)
      Phases.time("build") {
        admitDocs(spark, store, docs.filter($"doc_id" % 2 === 0))
        admitDocs(spark, store, docs.filter($"doc_id" % 2 =!= 0))
      }
      Phases.time("serve") {
        rankFromStore(spark, store, Terms).localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val textBm25SearchSql: String = {
    val termList = Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${OracleFragments.tokens("text")}) AS token
       |  FROM documents
       |  WHERE length(${OracleFragments.norm("text")}) > 0),
       |tf AS (
       |  SELECT token, doc_id, count(*) AS tf FROM toks
       |  WHERE token IN $termList GROUP BY token, doc_id),
       |df AS (
       |  SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
       |dl AS (
       |  SELECT doc_id, ${OracleFragments.tokenCount("text")} AS dl
       |  FROM documents),
       |corpus AS (
       |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |scored AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (corpus.n - df.df + 0.5) / (df.df + 0.5)) *
       |      (tf.tf * ${K1 + 1}) /
       |      (tf.tf + $K1 * (1 - $B + $B * dl.dl / corpus.avgdl)) AS contrib
       |  FROM tf
       |  JOIN df ON tf.token = df.token
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN corpus),
       |ranked AS (
       |  SELECT doc_id, sum(contrib) AS score, count(*) AS n_terms
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, round(score, 4) AS score, n_terms
       |FROM ranked
       |ORDER BY score DESC, doc_id
       |LIMIT 10""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_search" -> (textBm25Search _))

  val oracles: Map[String, String] = Map(
    "text_bm25_search" -> textBm25SearchSql)
}
