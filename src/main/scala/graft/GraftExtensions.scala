package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions._

/** The one setup path for graft's planner and SQL surface: enable every
  * graft extension at session build time with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`). Every engine session —
  * Bench, Verify, the specs' shared session, a platform-built session
  * (Thrift server, Connect, notebooks) — gets the as-of join strategy,
  * the one-pass recursive-CTE strategy, the plan rules, the filter-literal
  * binding and all 18 SQL-callable functions without user code running
  * first; there is no per-session registration call. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  /** The Int value of literal argument `what` of `fn`: a foldable gate
    * first (eval() on a column reference would surface as an opaque
    * internal error), then any integral type (users write 2, 2L or
    * CAST(2 AS BIGINT) interchangeably), then an exact range check. */
  private def intLiteral(e: Expression, fn: String, what: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got non-literal $e")
    e.eval() match {
      case n @ (_: Byte | _: Short | _: Int | _: Long) =>
        try Math.toIntExact(n.asInstanceOf[Number].longValue)
        catch { case _: ArithmeticException =>
          throw new IllegalArgumentException(s"$fn: $what $n overflows Int")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }
  }

  private def stringLiteral(e: Expression, fn: String, what: String): String =
    (if (e.foldable) e.eval() else null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a non-null string literal, got " +
          (if (e.foldable) s"$other" else s"non-literal $e"))
    }

  private def arity(fn: String, wanted: String, got: Seq[Expression]) =
    new IllegalArgumentException(s"$fn takes $wanted arguments, got ${got.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // a recursive CTE whose step is an equi-join of the previous level
    // with a static side expands in one driver pass, not one Spark query
    // per level; any other loop stays Spark's UnionLoopExec — see
    // RecursiveExpandExec's scaladoc for the shape and the caps
    ext.injectPlannerStrategy(_ => graft.plans.RecursiveExpandStrategy)
    // rewrite size(collect_set() OVER running-frame) running-distinct
    // windows into the constant-state first-occurrence running sum — see
    // RewriteRunningDistinct's scaladoc for the state-size argument
    ext.injectOptimizerRule(_ => graft.plans.RewriteRunningDistinct)
    // opt-in (spark.graft.bitmapDistinct.enabled): count(DISTINCT integral)
    // → exact two-level bitmap aggregation, shuffle volume independent of
    // distinct cardinality — see RewriteDistinctToBitmap's scaladoc
    ext.injectOptimizerRule(_ => graft.plans.RewriteDistinctToBitmap)
    // bind filter comparison literals as codegen references, so a plan
    // that differs only in its probe value reuses the compiled class; the
    // columnar pre-transition hook is the one physical hook that runs in
    // both the AQE and the non-AQE planning path — see BindFilterLiterals
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.BindFilterLiterals
    })
    val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
      ("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array",
        exprs => SimHash64(exprs.head)),
      ("dot_product", "dot_product(a, b) - double dot product of two arrays",
        exprs => DotProduct(exprs(0), exprs(1))),
      ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two arrays",
        exprs => CosineSim(exprs(0), exprs(1))),
      ("intersect_size_sorted",
        "intersect_size_sorted(a, b) - intersection size of two sorted arrays",
        exprs => IntersectSizeSorted(exprs(0), exprs(1))),
      ("quantize_int8", "quantize_int8(v) - int8 scalar quantization of a double array",
        exprs => QuantizeInt8(exprs.head)),
      ("max_abs", "max_abs(v) - max absolute value of a double array",
        exprs => MaxAbs(exprs.head)),
      ("dot_int", "dot_int(a, b) - exact long dot product of two int arrays",
        exprs => DotInt(exprs(0), exprs(1))),
      ("language_id", "language_id(text) - stopword-profile language guess",
        exprs => LanguageId(exprs.head)),
      ("quality_score", "quality_score(text) - heuristic [0,1] document quality",
        exprs => QualityScore(exprs.head)),
      ("top_token_count", "top_token_count(text) - count of the most frequent token",
        exprs => TopTokenCount(exprs.head)),
      ("text_scan_stats",
        "text_scan_stats(text) - [n_tokens, n_bpe_tokens, n_alpha, n_digit, n_ws] in one pass",
        exprs => TextScanStats(exprs.head)),
      ("char_entropy",
        "char_entropy(text) - Shannon entropy in bits over code-point counts",
        exprs => CharEntropy(exprs.head)),
      ("deflated_size",
        "deflated_size(text) - DEFLATE-compressed byte size of the UTF-8 text",
        exprs => DeflatedSize(exprs.head)),
      ("pq_adc_score",
        "pq_adc_score(codes, table, ks) - PQ asymmetric-distance sum of per-subspace table lookups",
        {
          case Seq(codes, table, ks) =>
            PqAdcScore(codes, table, intLiteral(ks, "pq_adc_score", "ks"))
          case exprs => throw arity("pq_adc_score", "3", exprs)
        }),
      ("shingle_hash_set",
        "shingle_hash_set(text[, k]) - sorted distinct hashes of the k-word shingles (k = 3)",
        {
          case Seq(text) => ShingleHashSet(text, 3)
          case Seq(text, k) => ShingleHashSet(text, intLiteral(k, "shingle_hash_set", "k"))
          case exprs => throw arity("shingle_hash_set", "1 or 2", exprs)
        }),
      ("passjoin_seg_keys",
        "passjoin_seg_keys(text, k) - index-side PassJoin keys for edit distance k",
        {
          case Seq(text, k) => PassJoinSegKeys(text, intLiteral(k, "passjoin_seg_keys", "k"))
          case exprs => throw arity("passjoin_seg_keys", "2", exprs)
        }),
      ("passjoin_sub_keys",
        "passjoin_sub_keys(text, k) - probe-side PassJoin keys for edit distance k",
        {
          case Seq(text, k) => PassJoinSubKeys(text, intLiteral(k, "passjoin_sub_keys", "k"))
          case exprs => throw arity("passjoin_sub_keys", "2", exprs)
        }),
      ("command_reduce",
        "command_reduce(rec, cmd[, batchSize]) - records left after MaRe's reduce command folds each group",
        {
          case Seq(rec, cmd) =>
            graft.operators.CommandReduceAgg(rec, stringLiteral(cmd, "command_reduce", "command"))
          case Seq(rec, cmd, bs) =>
            graft.operators.CommandReduceAgg(rec, stringLiteral(cmd, "command_reduce", "command"),
              batchSize = intLiteral(bs, "command_reduce", "batchSize"))
          case exprs => throw arity("command_reduce", "2 or 3", exprs)
        }))
    fns.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
  }
}
