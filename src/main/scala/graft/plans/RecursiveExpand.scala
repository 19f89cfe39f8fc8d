package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, EqualNullSafe, Expression, JoinedRow, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.execution.{BinaryExecNode, GraftJoinBridge, SQLExecution, SparkPlan, SparkStrategy, UnionLoopExec}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.internal.SQLConf

/** One level of a linear equi-join recursion: the previous level's rows
  * through the Filters and Projects of `refSide` (the loop reference
  * under them; the CTE's column list is such a Project),
  * hash-joined to a `static` side that holds no loop reference, then
  * filtered (`residual`) and projected (`projectList`) over the join
  * output — every expression Catalyst's own, as the optimizer left them.
  * `refLeft` says which join side `refSide` is; `probeKeys` are bound to
  * its output, `buildKeys` to the static side's. */
private[plans] final case class LinearStep(
    refSide: LogicalPlan,
    refLeft: Boolean,
    probeKeys: Seq[Expression],
    buildKeys: Seq[Expression],
    static: LogicalPlan,
    residual: Option[Expression],
    joinOutput: Seq[Attribute],
    projectList: Seq[NamedExpression])

private[plans] object LinearStep {
  /** The step of `loop` when its recursion is an optional Project and an
    * optional Filter over an Inner equi-join (no null-safe key) of
    * Filters and Projects over the loop's own non-accumulated reference
    * with a side that holds no loop reference; every expression
    * deterministic and no subquery anywhere. None for any other loop, and
    * for a loop with a LIMIT. */
  def of(loop: UnionLoop): Option[LinearStep] = {
    val (projectList, overJoin) = loop.recursion match {
      case Project(pl, child) => (Some(pl), child)
      case other => (None, other)
    }
    val (filter, join) = overJoin match {
      case Filter(c, child) => (Some(c), child)
      case other => (None, other)
    }
    def overRef(p: LogicalPlan): Boolean = p match {
      case Filter(_, child) => overRef(child)
      case Project(_, child) => overRef(child)
      case UnionLoopRef(id, _, false) => id == loop.id
      case _ => false
    }
    def isStatic(p: LogicalPlan) = !p.exists(_.isInstanceOf[UnionLoopRef])
    val plain = loop.limit.isEmpty && loop.recursion.deterministic &&
      !loop.recursion.exists(_.expressions.exists(SubqueryExpression.hasSubquery))
    join match {
      case j @ ExtractEquiJoinKeys(Inner, lk, rk, other, onKeys, l, r, _) if plain &&
          !onKeys.exists(_.exists(_.isInstanceOf[EqualNullSafe])) =>
        val residual = (other ++ filter).reduceOption(And)
        val pl = projectList.getOrElse(j.output)
        if (overRef(l) && isStatic(r))
          Some(LinearStep(l, refLeft = true, lk, rk, r, residual, j.output, pl))
        else if (overRef(r) && isStatic(l))
          Some(LinearStep(r, refLeft = false, rk, lk, l, residual, j.output, pl))
        else None
      case _ => None
    }
  }
}

/** Plans a recursive CTE whose step is a [[LinearStep]] as one
  * [[RecursiveExpandExec]]; every other loop goes on to Spark's
  * `UnionLoopExec`. Injected by [[graft.GraftExtensions]]. */
object RecursiveExpandStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case loop: UnionLoop => LinearStep.of(loop).toSeq.map(step =>
      RecursiveExpandExec(loop, planLater(loop.anchor), planLater(step.static)))
    case _ => Nil
  }
}

/** A linear equi-join recursion in one pass on the driver. Spark 4.1's
  * `UnionLoopExec` plans and runs a new query per level: a repartition, a
  * count and a collect each, ~4.5 jobs and a re-plan per level of a tree.
  * This node runs the anchor and the static side once each, through their
  * executed plans (`executeTake`, no nested SQL execution), builds the
  * static rows into Spark's own hashed relation on the build keys, and
  * expands level by level on the driver with the loop's own Catalyst
  * expressions: types, ANSI overflow and null semantics are Spark's. A
  * probe key with a null matches nothing, as in a broadcast hash join.
  * The accumulated rows come back as one local RDD, as
  * `LocalTableScanExec` does, so the job count does not grow with depth.
  *
  * Bounds: the static side and the accumulated output each hold at most
  * [[RecursiveExpandExec.MaxRows]] rows on the driver. Over either, or
  * where Spark would stop the loop with an error (the level limit:
  * `maxDepth`, else `spark.sql.cteRecursionLevelLimit`; the row limit,
  * `spark.sql.cteRecursionRowLimit`), the whole loop runs as the
  * `UnionLoopExec` planned from the same fields, so Spark's errors and
  * its large-input path stay exactly Spark's. */
case class RecursiveExpandExec(@transient loop: UnionLoop, anchor: SparkPlan, static: SparkPlan)
    extends BinaryExecNode {
  import RecursiveExpandExec.MaxRows

  override def left: SparkPlan = anchor
  override def right: SparkPlan = static
  override def output: Seq[Attribute] = loop.output
  override protected def stringArgs: Iterator[Any] = Iterator(loop.id)

  /** Stays 0 when the loop ran as Spark's `UnionLoopExec`. */
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] =
    (for {
      seed <- take(anchor)
      rows <- if (seed.isEmpty) Some(seed) else take(static).flatMap(expand(seed, _))
    } yield rows) match {
      case Some(rows) =>
        longMetric("numOutputRows") += rows.length
        SQLMetrics.postDriverMetricUpdates(sparkContext,
          sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
        if (rows.isEmpty) sparkContext.emptyRDD
        else sparkContext.parallelize(rows.toSeq,
          math.min(rows.length, sparkContext.defaultParallelism))
      case None =>
        UnionLoopExec(loop.id, loop.anchor, loop.recursion, output, loop.limit, loop.maxDepth)
          .execute()
    }

  /** `plan`'s rows, None when there are more than MaxRows. They are
    * unsafe rows, as the hash table and a shuffle of the output need:
    * `executeTake` decodes them from serialized partitions, and a local
    * table scan holds them. */
  private def take(plan: SparkPlan): Option[Array[InternalRow]] =
    Some(plan.executeTake(MaxRows + 1)).filter(_.length <= MaxRows)

  /** The anchor rows and every level after them, or None where Spark's
    * loop would stop with an error or the rows pass MaxRows. Spark checks
    * before it adds each non-empty level (the anchor is level 0): the
    * level limit on its index, the row limit on the rows so far. */
  private def expand(seed: Array[InternalRow],
      staticRows: Array[InternalRow]): Option[Array[InternalRow]] = {
    val LinearStep(refSide, refLeft, probeKeys, buildKeys, _, residual, joinOutput,
      projectList) = LinearStep.of(loop).get
    val levelLimit = loop.maxDepth.getOrElse(conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT))
    val rowLimit = conf.getConf(SQLConf.CTE_RECURSION_ROW_LIMIT)
    // a previous-level row through the reference side's Filters and
    // Projects: the row it joins as, if it passes
    def through(p: LogicalPlan): InternalRow => Option[InternalRow] = p match {
      case Filter(c, child) =>
        val (below, keep) = (through(child), Predicate.create(c, child.output))
        keep.initialize(0)
        below(_).filter(keep.eval)
      case Project(pl, child) =>
        val (below, proj) = (through(child), UnsafeProjection.create(pl, child.output))
        below(_).map(proj)
      case _ => Some(_)
    }
    val side = through(refSide)
    val probe = UnsafeProjection.create(probeKeys, refSide.output)
    val pass = residual.map(Predicate.create(_, joinOutput))
    pass.foreach(_.initialize(0))
    val project = UnsafeProjection.create(projectList, joinOutput)
    val joined = new JoinedRow
    val out = ArrayBuffer.from(seed)
    val built = GraftJoinBridge.hashed(staticRows.iterator,
      BindReferences.bindReferences(buildKeys, static.output), staticRows.length)
    try {
      var (level, from) = (0, 0)
      while (from < out.length) {
        if ((levelLimit != -1 && level >= levelLimit) ||
            (rowLimit != -1 && out.length >= rowLimit)) return None
        val until = out.length
        var i = from
        while (i < until) {
          side(out(i)) match {
            case Some(row) =>
              val key = probe(row)
              val matches = if (key.anyNull) Iterator.empty else built.get(key)
              while (matches.hasNext) {
                val s = matches.next()
                val pair = if (refLeft) joined(row, s) else joined(s, row)
                if (pass.forall(_.eval(pair))) {
                  if (out.length == MaxRows) return None
                  out += project(pair).copy()
                }
              }
            case None => ()
          }
          i += 1
        }
        from = until
        level += 1
      }
      Some(out.toArray)
    } finally built.close()
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RecursiveExpandExec =
    copy(anchor = newLeft, static = newRight)
}

object RecursiveExpandExec {
  /** Rows the driver holds of the static side and of the output — the
    * bounded driver-path cap of the CC loop (`Dedup`). */
  private val MaxRows = 1 << 17
}
