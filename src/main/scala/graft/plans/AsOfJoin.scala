package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join (backward and forward) as a first-class operator: custom
  * `LogicalPlan` + `Strategy` + `SparkPlan`, injected by
  * [[graft.GraftExtensions]] — the (c) rung of the extension
  * ladder (compose built-ins < custom Expression < custom plan node), used
  * here because an as-of join is whole-operator semantics Spark lacks.
  *
  * Physical execution is the scale-correct form: both sides hash-clustered
  * on the key and sorted by (key, time) — requirements declared to
  * EnsureRequirements, which inserts the exchanges/sorts — then a single
  * zipPartitions merge pass carries the latest right row per key forward.
  * One shuffle per side, O(1) state per partition, no join explosion; the
  * same shape a 1000-executor cluster wants.
  *
  * For every left row, the output appends the most recent right row whose
  * key matches and whose time is <= the left time (nulls when none).
  * Differential-tested against DuckDB's native ASOF LEFT JOIN and the
  * union+running-window formulation (EventsQueries.eventsAsofJoin).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rightWidth = right.output.size
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      var rHead: InternalRow = null
      var rHeadKey: Any = null
      var rHeadTime: Any = null
      def advanceRight(): Unit = {
        rHead = null
        // skip right rows with null key or time: they can never match (SQL
        // equality semantics) and would NPE the interpreted orderings
        while (rHead == null && rIter.hasNext) {
          val row = rIter.next()
          val k = rk.eval(row)
          val t = rt.eval(row)
          if (k != null && t != null) { rHead = row; rHeadKey = k; rHeadTime = t }
        }
      }
      advanceRight()
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null

      if (forward) lIter.map { lRow =>
        // FORWARD: for each left row, the EARLIEST right row with equal key
        // and right time >= left time. With both sides (key, time)-ascending
        // the right head only ever advances — same single pass, and no
        // carried lastMatch is needed: the head itself is the candidate.
        val key = lk.eval(lRow)
        val time = lt.eval(lRow)
        if (key == null || time == null) {
          proj(joined(lRow, nullRight))
        } else {
          var continue = rHead != null
          while (continue) {
            val c = keyOrd.compare(rHeadKey.asInstanceOf[AnyRef], key.asInstanceOf[AnyRef])
            if (c < 0 || (c == 0 &&
                timeOrd.compare(rHeadTime.asInstanceOf[AnyRef], time.asInstanceOf[AnyRef]) < 0)) {
              advanceRight()
              continue = rHead != null
            } else continue = false
          }
          val matched = rHead != null &&
            keyOrd.compare(rHeadKey.asInstanceOf[AnyRef], key.asInstanceOf[AnyRef]) == 0
          proj(joined(lRow, if (matched) rHead else nullRight))
        }
      }
      else lIter.map { lRow =>
        val key = lk.eval(lRow)
        val time = lt.eval(lRow)
        if (key == null || time == null) {
          // null key/time never equals/bounds anything -> no match
          proj(joined(lRow, nullRight))
        } else {
          // consume right rows at-or-before (key, time); remember the latest
          // row of THIS key seen so far
          var continue = rHead != null
          while (continue) {
            val c = keyOrd.compare(rHeadKey.asInstanceOf[AnyRef], key.asInstanceOf[AnyRef])
            if (c < 0 || (c == 0 &&
                timeOrd.compare(rHeadTime.asInstanceOf[AnyRef], time.asInstanceOf[AnyRef]) <= 0)) {
              if (c == 0) {
                lastMatch = rHead.copy()
                // re-eval the key from the COPIED row: rHeadKey may point into
                // a reused row buffer (e.g. UTF8String) that advanceRight
                // overwrites
                lastMatchKey = rk.eval(lastMatch)
              }
              advanceRight()
              continue = rHead != null
            } else continue = false
          }
          val matched = lastMatch != null && lastMatchKey != null &&
            keyOrd.compare(lastMatchKey.asInstanceOf[AnyRef], key.asInstanceOf[AnyRef]) == 0
          proj(joined(lRow, if (matched) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(purchases, signups, "user_id", "ts", "ts")`.
  * [[AsOfJoinStrategy]] reaches a session through one setup path,
  * [[graft.GraftExtensions]] (`spark.sql.extensions`); a session built
  * without it cannot plan these joins. */
object AsOf {

  /** Backward as-of join: for each left row, append the most recent right
    * row with equal `key` and right `timeRight` <= left `timeLeft`.
    * The two inputs must not share attribute ids (re-read the source rather
    * than reusing one DataFrame for both sides of a self-as-of). */
  def join(left: DataFrame, right: DataFrame, key: String,
      timeLeft: String, timeRight: String): DataFrame =
    plan(left, right, key, timeLeft, timeRight)

  /** Forward as-of join (pandas merge_asof direction='forward'): for each
    * left row, the EARLIEST right row with equal `key` and `timeRight` >=
    * `timeLeft` — "the next event at or after", e.g. next maintenance window
    * after a deploy, next price tick after an order. Same physical shape as
    * backward: one clustered shuffle + sort per side, one merge pass, O(1)
    * partition state. */
  def joinForward(left: DataFrame, right: DataFrame, key: String,
      timeLeft: String, timeRight: String): DataFrame =
    plan(left, right, key, timeLeft, timeRight, forward = true)

  /** The as-of logical plan, backward or `forward`. */
  def plan(left: DataFrame, right: DataFrame, key: String,
      timeLeft: String, timeRight: String, forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    val shared = lPlan.outputSet.intersect(rPlan.outputSet)
    require(shared.isEmpty,
      s"as-of join sides share attributes $shared — re-read the right side")
    def attr(plan: LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name)}"))
    val node = AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, key),
      attr(lPlan, timeLeft), attr(rPlan, timeRight), forward)
    GraftBridge.dataFrame(spark, node)
  }
}
