package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Language-ID heuristic as a codegen'd Catalyst expression: tokenize the
  * normalized text once and count stopword-profile hits per language in one
  * compiled pass (the Column-composition version evaluates one interpreted
  * `filter` HOF per language per row). Semantics identical to the HOF
  * formulation: duplicates count, ties break to the lexicographically larger
  * code, zero hits → "und". */
object LangIdUtil {
  // compiled once — String.split("\\s+") re-compiles the pattern per row
  private val WsRun = java.util.regex.Pattern.compile("\\s+")

  // profiles sorted by code so tie-breaking is deterministic
  private val profiles: Array[(String, java.util.HashSet[String])] =
    TextFunctions.stopwords.toArray.sortBy(_._1).map { case (code, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(w => s.add(w))
      (code, s)
    }

  def predict(text: UTF8String): UTF8String = {
    // Locale.ROOT: match Catalyst lower() regardless of JVM default locale.
    // No String.trim here: trim strips ALL chars <= U+0020 (including
    // control chars that are not \s), which would diverge from the
    // regex-normalized oracle tokenization; a leading-empty token from
    // split on untrimmed text hits no vocab, so it's harmless.
    val toks = WsRun.split(text.toString.toLowerCase(java.util.Locale.ROOT))
    var bestHits = 0
    var bestCode = "und"
    var p = 0
    while (p < profiles.length) {
      val (code, vocab) = profiles(p)
      var hits = 0
      var i = 0
      while (i < toks.length) {
        if (vocab.contains(toks(i))) hits += 1
        i += 1
      }
      // strictly-greater OR equal-and-later-code — matches array_max over
      // struct(hits, code) which compares hits first, then code
      if (hits > 0 && (hits > bestHits || (hits == bestHits && code > bestCode)))
        { bestHits = hits; bestCode = code }
      p += 1
    }
    UTF8String.fromString(bestCode)
  }
}

case class LanguageId(child: Expression) extends UnaryExpression {
  override def prettyName: String = "language_id"
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got $other")
    }
  override protected def nullSafeEval(input: Any): Any =
    LangIdUtil.predict(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdUtil.predict($c)")
  override protected def withNewChildInternal(newChild: Expression): LanguageId =
    copy(child = newChild)
}
