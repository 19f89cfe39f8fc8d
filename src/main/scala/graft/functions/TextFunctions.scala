package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines.
  *
  * Everything here is composed from `org.apache.spark.sql.functions._` —
  * pure Catalyst expressions, so whole-stage codegen applies and the operators
  * scale as plain projections (no UDF serialization, no Python workers). The
  * reference engine delegates all of this to POSIX tools inside containers
  * (`/root/reference/src/test/scala/se/uu/it/mare/MaReTest.scala:47,52`);
  * here they are first-class columns.
  */
object TextFunctions {

  /** lower → collapse runs of whitespace → trim. The canonical form used by
    * fingerprinting and dedup. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Stable 128-bit document fingerprint of the normalized text (md5 so the
    * DuckDB oracle can reproduce it byte-for-byte). */
  def fingerprintMd5(c: Column): Column = md5(normalizeText(c))

  /** Whitespace word tokens of the normalized text. */
  def wordTokens(c: Column): Column = {
    val n = normalizeText(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(wordTokens(c))

  /** BPE-ish sub-word tokens: letter runs, digit runs, single punctuation —
    * the pre-tokenization regex shape used by byte-pair encoders. */
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Occurrence count of the doc's most frequent token — codegen'd
    * [[TopTokenCount]] kernel (per-row hashmap; tokenization matches
    * [[wordTokens]]). */
  def topTokenCount(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      TopTokenCount(org.apache.spark.sql.GraftBridge.expression(c)))

  /** All five text_stats counters in one codegen'd code-point walk:
    * [n_tokens, n_bpe_tokens, n_alpha, n_digit, n_ws] — see
    * [[TextScanStats]] for the per-field contracts. */
  def textScanStats(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      TextScanStats(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Character-level Shannon entropy in bits — codegen'd [[CharEntropy]]
    * kernel (per-row code-point count table; map-only, no explode). */
  def charEntropy(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      CharEntropy(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Fraction of characters matching a regex character class (e.g. "[a-z]"). */
  def charClassRatio(c: Column, charClass: String): Column =
    (length(c) - length(regexp_replace(c, charClass, ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def alphaRatio(c: Column): Column = charClassRatio(c, "[A-Za-z]")
  def digitRatio(c: Column): Column = charClassRatio(c, "[0-9]")
  def punctRatio(c: Column): Column = charClassRatio(c, "[^A-Za-z0-9\\s]")

  /** Small public stopword profiles for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "you", "that",
      "was", "for", "on", "are", "with", "as"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "se", "no", "por",
      "con", "su", "para", "es", "los", "una"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit",
      "sich", "des", "auf", "ist", "im", "dem", "nicht"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une",
      "que", "est", "pour", "qui", "dans", "par"),
    "zh" -> Seq("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"))

  /** Count of tokens found in `words` (duplicates counted — `filter`+`size`,
    * not `array_intersect` which dedups). */
  def vocabHits(tokens: Column, words: Seq[String]): Column = {
    val vocab = array(words.map(lit): _*)
    size(filter(tokens, t => array_contains(vocab, t)))
  }

  /** Stopword-token fraction (English profile unless given). */
  def stopwordRatio(c: Column, lang: String = "en"): Column = {
    val toks = wordTokens(c)
    vocabHits(toks, stopwords(lang)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** n-gram-heuristic language ID: argmax over per-language stopword-hit
    * counts; ties break to the lexicographically larger code (deterministic).
    * Emits the predicted code, or "und" when no profile matches at all.
    * Backed by the codegen'd [[LanguageId]] expression (one compiled pass
    * instead of one interpreted `filter` HOF per language). */
  def languageId(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      LanguageId(org.apache.spark.sql.GraftBridge.expression(c)))

  /** Heuristic quality score in [0,1]: rewards mid-length docs, alphabetic
    * text, real word lengths, stopword presence; penalizes digits/punct soup.
    * Weights are engine policy (no reference analog). All terms are ratios of
    * integer counts, so the double arithmetic is bitwise reproducible in any
    * engine that evaluates the same formula. Backed by the codegen'd
    * [[QualityScore]] kernel (one char walk + one tokenization, vs ~10
    * full-text regex passes for the Column tree — and a pushed-down filter
    * on the score doubles the Column tree's cost); FunctionsSpec pins the
    * two forms bitwise-equal over the fixture corpus. */
  def qualityScore(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      QualityScore(org.apache.spark.sql.GraftBridge.expression(c)))

  /** The Column-composition form of [[qualityScore]] — the differential
    * reference for the native kernel (and the documentation of the formula
    * in Catalyst terms; [[graft.queries.OracleFragments.quality]] is its SQL
    * transliteration). */
  private[graft] def qualityScoreComposed(c: Column): Column = {
    val nChars = length(c)
    val lengthTerm = when(nChars >= 100 && nChars <= 10000, 1.0)
      .when(nChars >= 20, 0.5).otherwise(0.0)
    val alphaTerm = alphaRatio(c)
    val digitPenalty = digitRatio(c) * 2
    val punctPenalty = punctRatio(c) * 2
    val stopTerm = least(stopwordRatio(c) * 4, lit(1.0))
    val meanWordLen = (length(normalizeText(c)).cast("double") + 1) /
      greatest(tokenCount(c), lit(1)).cast("double")
    val wordLenTerm = when(meanWordLen >= 3 && meanWordLen <= 12, 1.0).otherwise(0.0)
    greatest(least(
      lit(0.25) * lengthTerm + lit(0.25) * alphaTerm + lit(0.2) * stopTerm +
        lit(0.3) * wordLenTerm - digitPenalty - punctPenalty,
      lit(1.0)), lit(0.0))
  }

  /** Word k-shingles of the normalized text: overlapping k-token windows,
    * the unit of n-gram Jaccard / MinHash dedup. */
  def wordShingles(c: Column, k: Int): Column = {
    val toks = wordTokens(c)
    when(size(toks) < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }
}
