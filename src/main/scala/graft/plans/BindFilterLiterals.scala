package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value from
  * the compiled class's `references` array instead of spelling it in the
  * Java source. Spark's `Literal.doGenCode` writes `long`, `int` and
  * `date` values straight into the source, so two plans that differ only
  * in a probe value compile two classes; with the value bound, the source
  * is the same and the second plan hits the codegen cache.
  *
  * Evaluates, prints and renders as SQL exactly like the `Literal` it
  * replaces, so `explain` and plan dumps do not change. */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    // a field set once when the class is instantiated: the per-row code
    // reads a primitive, not an unboxing of references[i]
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode(FalseLiteral, JavaCode.global(field, dataType))
  }
}

/** Physical rule: inside every `FilterExec` condition, replace each
  * non-null primitive `Literal` that is a direct child of a comparison
  * (`=`, `<=>`, `<`, `<=`, `>`, `>=`) with a [[BoundLiteral]], so a
  * filter that differs only in its probe value reuses the compiled
  * whole-stage class; without it, a warm point lookup compiles two
  * Janino classes for every new key.
  *
  * Only the filter's own condition changes: the scan's data filters and
  * its pushed parquet filters keep the real `Literal`, so row-group
  * pushdown is unchanged. Injected through `injectColumnar`'s
  * pre-transition rule, which runs in both physical planning paths
  * before `CollapseCodegenStages`: `QueryExecution.preparations` (a plan
  * without an exchange, e.g. a lookup's `collect()`) and AQE's
  * post-stage-creation rules (e.g. its `count()`). The post-planner
  * strategy hook runs only inside adaptive plans. */
object BindFilterLiterals extends Rule[SparkPlan] {

  private def bindable(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && bindable(t) => BoundLiteral(v, t)
    case other => other
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressionsUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
    }
  }
}
