package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, VectorFunctions}
import graft.sources.{Store, Tables}

/** Persisted inverted text index — keyword retrieval as a store-backed
  * operator, completing the retrieval surface next to the ANN family (and
  * composed with it in the hybrid face: keyword candidate generation +
  * embedding rerank, the standard RAG retrieval stack).
  *
  * Postings are `(token, doc_id)` rows, deduplicated per batch; the store
  * monoid is SET UNION (merge = dropDuplicates), which makes admission
  * order-independent AND replay-harmless even unkeyed — the OR-class
  * store, like the bitmaps, unlike the +-class materialized view (the
  * spec pins the distinction). Tokenization is the engine's one
  * normalization contract ([[TF.wordTokens]]), so the DuckDB oracle
  * re-derives postings with the shared `OracleFragments.tokens` SQL.
  *
  * Scale shape: a search for k terms filters the postings scan with a
  * pushed `token IN (...)` predicate — only matching-token rows are ever
  * read or shuffled (on a token-clustered layout: only matching FILES,
  * via [[graft.sources.ZoneMaps]]); the AND-semantics reduce to one
  * |matching-postings|-scale aggregate (`countDistinct(token) = k`).
  * Admission is one batch-scale explode+distinct. Nothing ever rescans
  * admitted documents: the index IS the text's retrieval projection.
  */
object InvertedIndex {

  /** Distinct postings of one batch. */
  private[graft] def postingsPartials(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(TF.wordTokens($"text")).as("token"))
      .distinct()
  }

  /** Set-union monoid — compaction rewrite ≡ serve-time dedup. */
  private[graft] def mergePostings(cells: DataFrame): DataFrame =
    cells.dropDuplicates("token", "doc_id")

  /** Admit one document batch. Returns false iff `id` already admitted.
    * (Unlike the +-monoid stores the id is belt-and-braces here: a
    * replayed union is semantically a no-op; the id only caps growth.) */
  def admitDocs(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(postingsPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergePostings)
    admitted
  }

  /** AND-search: doc_ids containing EVERY term, served from the store
    * alone. The `isin` filter is pushed to the postings scan; duplicates
    * across deltas collapse inside the same countDistinct aggregate that
    * implements the conjunction. */
  def searchFromStore(spark: SparkSession, storeDir: String,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    require(terms.nonEmpty, "search needs at least one term")
    Store.read(spark, storeDir)
      .filter($"token".isin(terms: _*))
      .groupBy($"doc_id")
      .agg(countDistinct($"token").as("nt"))
      .filter($"nt" === terms.size)
      .select($"doc_id")
  }

  /** Streaming face: the same admission through [[Store.admissionSink]]. */
  def searchStreamingAdmission(docs: DataFrame, storeDir: String,
      maintainEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(docs, "ii") { (batch, id) =>
      admitDocs(batch.sparkSession, storeDir, batch, maintainEvery, id = Some(id)): Unit
    }

  private val Terms = Seq("join", "hash")

  /** Driver face: build the index from two interleaved halves, AND-search
    * for two common corpus terms, return the matching docs' metadata.
    * Oracle: token-list containment over the SAME normalization SQL. */
  def textSearchIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_ii_store_").toString
    try {
      val docs = Tables.documents(spark, dir)
      Phases.time("build") {
        admitDocs(spark, store, docs.filter($"doc_id" % 2 === 0))
        admitDocs(spark, store, docs.filter($"doc_id" % 2 =!= 0))
      }
      Phases.time("serve") {
        searchFromStore(spark, store, Terms)
          .join(docs, "doc_id")
          .select($"doc_id", $"source", $"n_chars")
          .orderBy($"doc_id")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val textSearchIndexSql: String =
    s"""SELECT doc_id, source, n_chars
       |FROM documents
       |WHERE ${Terms.map(t =>
            s"list_contains(${OracleFragments.tokens("text")}, '$t')")
          .mkString(" AND ")}
       |ORDER BY doc_id""".stripMargin

  /** Hybrid retrieval: keyword candidates from the inverted index, then
    * exact cosine rerank of the candidates' embeddings against a query
    * vector — the two-stage RAG stack with BOTH stages store-served /
    * kernel-exact. The candidate set is tiny relative to the corpus, so
    * the rerank joins broadcast; the brute-force cost the ANN family
    * exists to avoid is paid only WITHIN the keyword slice. */
  def simHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_hy_store_").toString
    try {
      val docs = Tables.documents(spark, dir)
      admitDocs(spark, store, docs.filter($"doc_id" % 2 === 0))
      admitDocs(spark, store, docs.filter($"doc_id" % 2 =!= 0))
      val cands = searchFromStore(spark, store, Terms)
      val vecs = Tables.embeddings(spark, dir)
        .select($"vec_id",
          graft.functions.Similarity.toDoubleArray($"embedding").as("v"))
      val q = vecs.filter($"vec_id" === 0)
        .select($"v".as("qv"))
      val scored = vecs
        .join(broadcast(cands), $"vec_id" === $"doc_id")
        .filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", VectorFunctions.cosineSim($"qv", $"v"))
      // global rank over the CANDIDATE SLICE only — the single-partition
      // window is bounded by keyword selectivity by design (with a query
      // batch it partitions by query_id like the ANN faces)
      val w = Window.orderBy($"cos".desc, $"vec_id")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 10)
        .select($"vec_id".as("doc_id"), $"rank".cast("long").as("rank"),
          round($"cos", 4).as("cosine"))
        .orderBy($"rank")
        .localCheckpoint(true)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val simHybridSearchSql: String =
    s"""WITH cand AS (
       |  SELECT doc_id FROM documents
       |  WHERE ${Terms.map(t =>
            s"list_contains(${OracleFragments.tokens("text")}, '$t')")
          .mkString(" AND ")}),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |scored AS (
       |  SELECT c.vec_id AS doc_id,
       |    list_cosine_similarity(
       |      (SELECT emb FROM v WHERE vec_id = 0), c.emb) AS cos
       |  FROM v c JOIN cand ON c.vec_id = cand.doc_id
       |  WHERE c.vec_id <> 0),
       |ranked AS (
       |  SELECT doc_id, cos,
       |    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, round(cos, 4) AS cosine
       |FROM ranked WHERE rank <= 10
       |ORDER BY rank""".stripMargin

  // ---- positional index: phrase queries ---------------------------------

  /** Positional postings of one batch: (token, doc_id, pos). Same set
    * monoid as the boolean postings (rows are derivation-identical). */
  private[graft] def positionalPartials(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
        posexplode(TF.wordTokens($"text")).as(Seq("pos", "token")))
      .select($"token", $"doc_id", $"pos")
      .distinct()
  }

  private[graft] def mergePositional(cells: DataFrame): DataFrame =
    cells.dropDuplicates("token", "doc_id", "pos")

  /** Admit one batch into a positional index. */
  def admitDocsPositional(spark: SparkSession, storeDir: String,
      batch: DataFrame, maintainEvery: Int = 8,
      id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(positionalPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergePositional)
    admitted
  }

  /** Exact-phrase search: doc_ids where `phrase`'s tokens occur at
    * CONSECUTIVE positions. The first token's postings anchor; each later
    * token joins on (doc_id, pos = anchor + offset) — every leg's scan is
    * token-pruned (pushed IN over the whole phrase's tokens), and the
    * joins are equi on (doc_id, pos) because the offset folds into the
    * join key expression. |phrase|-1 joins over |matching-postings|-scale
    * inputs: the standard positional-index plan. */
  def phraseFromStore(spark: SparkSession, storeDir: String,
      phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    require(phrase.nonEmpty, "phrase needs at least one token")
    val cells = mergePositional(
      Store.read(spark, storeDir).filter($"token".isin(phrase: _*)))
    val anchor = cells.filter($"token" === phrase.head)
      .select($"doc_id", $"pos")
    phrase.tail.zipWithIndex.foldLeft(anchor) { case (acc, (t, i)) =>
      val leg = cells.filter($"token" === t)
        .select($"doc_id".as("d2"), $"pos".as("p2"))
      acc.join(leg, $"doc_id" === $"d2" && $"p2" === $"pos" + (i + 1))
        .select($"doc_id", $"pos")
    }.select($"doc_id").distinct()
  }

  private val Phrase = Seq("join", "hash")

  /** Driver face: positional index from interleaved halves, exact-phrase
    * search. Oracle: on space-normalized text, consecutive tokens ⟺ a
    * space-padded substring match — an independent derivation of the same
    * predicate. */
  def textPhraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_pp_store_").toString
    try {
      val docs = Tables.documents(spark, dir)
      Phases.time("build") {
        admitDocsPositional(spark, store, docs.filter($"doc_id" % 2 === 0))
        admitDocsPositional(spark, store, docs.filter($"doc_id" % 2 =!= 0))
      }
      Phases.time("serve") {
        phraseFromStore(spark, store, Phrase)
          .join(docs, "doc_id")
          .select($"doc_id", $"source")
          .orderBy($"doc_id")
          .localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val textPhraseSearchSql: String =
    s"""SELECT doc_id, source
       |FROM documents
       |WHERE ' ' || ${OracleFragments.norm("text")} || ' '
       |  LIKE '% ${Phrase.mkString(" ")} %'
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_search_index" -> (textSearchIndex _),
    "text_phrase_search" -> (textPhraseSearch _),
    "sim_hybrid_search" -> (simHybridSearch _))

  val oracles: Map[String, String] = Map(
    "text_search_index" -> textSearchIndexSql,
    "text_phrase_search" -> textPhraseSearchSql,
    "sim_hybrid_search" -> simHybridSearchSql)
}
