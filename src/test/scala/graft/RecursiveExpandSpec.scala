package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, UnionLoopExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RecursiveExpandExec
import graft.queries.Relational5

/** `plans/RecursiveExpand`: a recursive CTE whose step is an equi-join of
  * the previous level with a static side expands in one driver pass. Pins
  * its rows against independent Scala recomputes (q50 and synthetic
  * shapes: two-column keys, a residual condition, null keys, a filter on
  * the recursive side, an empty anchor, a recursion that stops at level
  * 0); that Spark's own loop takes over, errors included, where the level
  * limit, the row limit, a LIMIT or the driver cap applies; which shapes
  * plan which loop; and that the job count does not grow with depth. */
class RecursiveExpandSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Every node of `p`, through the adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
  private def expands(df: DataFrame): Seq[RecursiveExpandExec] =
    nodes(df.queryExecution.executedPlan).collect { case e: RecursiveExpandExec => e }
  private def loops(df: DataFrame): Seq[UnionLoopExec] =
    nodes(df.queryExecution.executedPlan).collect { case e: UnionLoopExec => e }

  /** `df`'s rows after asserting that it ran the driver expansion. */
  private def expanded(df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq
    assert(expands(df).size == 1 && loops(df).isEmpty,
      s"not one RecursiveExpandExec: ${df.queryExecution.optimizedPlan}\n${df.queryExecution.executedPlan}")
    val Seq(e) = expands(df)
    assert(e.metrics("numOutputRows").value > 0 || rows.isEmpty,
      "the driver expansion fell back")
    rows
  }

  private def withConf[A](kv: (String, String))(body: => A): A = {
    val was = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally was.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  /** The error condition of `body`'s SparkException, searched down the
    * cause chain. */
  private def condition(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkException if s.getCondition != null => s.getCondition }
      .getOrElse(fail(s"no SparkException condition in $e"))
  }

  /** A binary heap of `depth` + 1 levels: id 1..2^(depth+1)-1, parent
    * id / 2 (NULL at the root), weight id % 7. */
  private def heap(depth: Int): Seq[(Long, Option[Long], Long)] =
    (1L until (1L << (depth + 1))).map(i => (i, Option(i / 2).filter(_ > 0), i % 7))
  private def view(name: String, rows: Seq[(Long, Option[Long], Long)]): Unit =
    rows.toDF("id", "parent", "w").createOrReplaceTempView(name)

  /** Breadth-first levels from `seeds` under `children`: the UNION ALL
    * of a linear recursion, level by level. */
  private def bfs[A](seeds: Seq[A])(children: A => Seq[A]): Seq[A] =
    Iterator.iterate(seeds)(_.flatMap(children)).takeWhile(_.nonEmpty).flatten.toSeq

  private val treeSql =
    """WITH RECURSIVE t(id, depth) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION ALL
      |  SELECT n.id, t.depth + 1 FROM t JOIN %s n ON n.parent = t.id)
      |SELECT depth, count(*) AS n FROM t GROUP BY depth ORDER BY depth""".stripMargin

  test("q50 plans RecursiveExpandExec and its levels match a driver BFS") {
    val df = Relational5.q50RecursiveBom(spark, sf)
    val rows = expanded(df).map(r => (r.getInt(0), r.getLong(1)))
    val parents = graft.sources.Tables.part(spark, sf).select($"p_partkey")
      .as[Long].collect().toSet
    val levels = Iterator.iterate(Seq(1L).filter(parents))(_.flatMap(k =>
        Seq(2 * k, 2 * k + 1)).filter(k => k >= 2 && parents(k)))
      .takeWhile(_.nonEmpty).toSeq
    assert(rows == levels.zipWithIndex.map { case (ks, d) => (d, ks.length.toLong) })
  }

  test("a two-column key expands like a path enumeration") {
    // grid steps (i, j) -> (i + 1, j) and (i, j + 1) inside i + j <= 5
    val steps = for (i <- 0 to 5; j <- 0 to 5 if i + j < 5; (di, dj) <- Seq((1, 0), (0, 1)))
      yield (i.toLong, j.toLong, (i + di).toLong, (j + dj).toLong)
    steps.toDF("a1", "a2", "b1", "b2").createOrReplaceTempView("re_grid")
    val got = expanded(spark.sql(
      """WITH RECURSIVE p(x, y) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT g.b1, g.b2 FROM p JOIN re_grid g ON g.a1 = p.x AND g.a2 = p.y)
        |SELECT x, y FROM p""".stripMargin))
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = bfs(Seq((0L, 0L))) { case (x, y) =>
      steps.collect { case (a1, a2, b1, b2) if a1 == x && a2 == y => (b1, b2) } }
    assert(got == want.sorted)
  }

  test("a non-equi residual and a filter on the recursive side apply per level") {
    val h = heap(7)
    view("re_heap7", h)
    val got = expanded(spark.sql(
      """WITH RECURSIVE t(id, w, depth) AS (
        |  SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), 0
        |  UNION ALL
        |  SELECT n.id, n.w, t.depth + 1 FROM t JOIN re_heap7 n
        |    ON n.parent = t.id AND n.w >= t.w - 3
        |  WHERE t.depth < 5)
        |SELECT id, depth FROM t""".stripMargin))
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val want = bfs(Seq((1L, 1L, 0))) { case (id, w, d) =>
      if (d >= 5) Nil
      else h.collect { case (c, Some(p), cw) if p == id && cw >= w - 3 => (c, cw, d + 1) } }
    assert(got == want.map(x => (x._1, x._3)).sorted)
    assert(got.map(_._2).max == 5)
  }

  test("null keys on either side match nothing") {
    // a NULL seed, and static rows whose parent is NULL
    val h = heap(4) ++ Seq((100L, None, 0L), (101L, None, 1L))
    view("re_heapnull", h)
    Seq(Some(1L), None).toDF("s").createOrReplaceTempView("re_seeds")
    val got = expanded(spark.sql(
      """WITH RECURSIVE t(id) AS (
        |  SELECT s FROM re_seeds
        |  UNION ALL
        |  SELECT n.id FROM t JOIN re_heapnull n ON n.parent = t.id)
        |SELECT id FROM t""".stripMargin))
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    val want = bfs(Seq(Option(1L), None)) { k =>
      h.collect { case (c, Some(p), _) if k.contains(p) => Some(c) } }
    assert(got.sortBy(_.getOrElse(-1L)) == want.sortBy(_.getOrElse(-1L)))
    assert(got.count(_.isEmpty) == 1)
  }

  test("an empty anchor and a recursion that stops at level 0") {
    view("re_heap3", heap(3))
    val empty = spark.sql(
      """WITH RECURSIVE t(id) AS (
        |  SELECT id FROM re_heap3 WHERE id < 0
        |  UNION ALL
        |  SELECT n.id FROM t JOIN re_heap3 n ON n.parent = t.id)
        |SELECT id FROM t""".stripMargin)
    assert(expanded(empty).isEmpty)
    val leaves = spark.sql(
      """WITH RECURSIVE t(id) AS (
        |  SELECT id FROM re_heap3 WHERE id >= 8
        |  UNION ALL
        |  SELECT n.id FROM t JOIN re_heap3 n ON n.parent = t.id)
        |SELECT id FROM t""".stripMargin)
    assert(expanded(leaves).map(_.getLong(0)).sorted == (8L to 15L))
  }

  test("Spark's loop takes over at the level limit, the row limit, a LIMIT and the cap") {
    Seq((1L, 2L), (2L, 1L)).toDF("src", "dst").createOrReplaceTempView("re_cycle")
    val cyclic =
      """WITH RECURSIVE r(n) AS (
        |  SELECT CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT e.dst FROM r JOIN re_cycle e ON e.src = r.n)
        |SELECT n FROM r%s""".stripMargin
    withConf("spark.sql.cteRecursionLevelLimit" -> "10") {
      val df = spark.sql(cyclic.format(""))
      assert(expands(df).nonEmpty)
      assert(condition(df.collect()) == "RECURSION_LEVEL_LIMIT_EXCEEDED")
    }
    // at the edges, as Spark's loop: levels 0..6 and 127 rows of heap(6)
    // pass level limit 7 and row limit 128 on the driver, and fail at
    // 6 and at 127 (a limit reached by the last level is exceeded)
    view("re_heap6", heap(6))
    val tree = (0 to 6).map(d => (d, 1L << d))
    def levels(df: DataFrame) = expanded(df).map(r => (r.getInt(0), r.getLong(1)))
    for ((key, (passes, fails), error) <- Seq(
        ("spark.sql.cteRecursionLevelLimit", (7, 6), "RECURSION_LEVEL_LIMIT_EXCEEDED"),
        ("spark.sql.cteRecursionRowLimit", (128, 127), "RECURSION_ROW_LIMIT_EXCEEDED"))) {
      withConf(key -> passes.toString) {
        assert(levels(spark.sql(treeSql.format("re_heap6"))) == tree)
      }
      withConf(key -> fails.toString) {
        val df = spark.sql(treeSql.format("re_heap6"))
        assert(expands(df).nonEmpty)
        assert(condition(df.collect()) == error)
      }
    }
    val limited = spark.sql(cyclic.format(" LIMIT 10"))
    assert(expands(limited).isEmpty && loops(limited).nonEmpty)
    assert(limited.collect().map(_.getLong(0)).toSeq == Seq.tabulate(10)(i => 1L + i % 2))
    // a static side over the driver cap: Spark's loop, same rows (the
    // stop is on the level column, so no filter is inferred on the keys)
    spark.range(200000).selectExpr("id AS k", "id + 1 AS v").createOrReplaceTempView("re_big")
    val big = spark.sql(
      """WITH RECURSIVE r(n, d) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT b.v, r.d + 1 FROM r JOIN re_big b ON b.k = r.n WHERE r.d < 5)
        |SELECT n FROM r""".stripMargin)
    assert(big.collect().map(_.getLong(0)).sorted.toSeq == (0L to 5L))
    val Seq(e) = expands(big)
    assert(e.metrics("numOutputRows").value == 0, "an over-cap static side expanded on the driver")
  }

  test("other loop shapes plan Spark's UnionLoopExec") {
    view("re_heap2", heap(2))
    def declined(sql: String): Unit = {
      val df = spark.sql(sql)
      assert(expands(df).isEmpty && loops(df).nonEmpty, df.queryExecution.executedPlan)
    }
    // an outer join
    declined(
      """WITH RECURSIVE t(id, d) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION ALL
        |  SELECT n.id, t.d + 1 FROM t LEFT JOIN re_heap2 n ON n.parent = t.id WHERE t.d < 3)
        |SELECT * FROM t""".stripMargin)
    // two self references
    declined(
      """WITH RECURSIVE t(id, d) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION ALL
        |  SELECT a.id + b.id, a.d + 1 FROM t a JOIN t b ON a.id = b.id WHERE a.d < 3)
        |SELECT * FROM t""".stripMargin)
    // an aggregate in the step: Spark's analyzer rejects one over the
    // loop reference (INVALID_RECURSIVE_REFERENCE.PLACE), so it sits in a
    // scalar subquery of the step
    declined(
      """WITH RECURSIVE t(id, d) AS (
        |  SELECT CAST(1 AS BIGINT), 0
        |  UNION ALL
        |  SELECT n.id, t.d + 1 FROM t JOIN re_heap2 n ON n.parent = t.id
        |  WHERE n.w < (SELECT max(w) FROM re_heap2))
        |SELECT * FROM t""".stripMargin)
  }

  test("the job count does not grow with the depth of the hierarchy") {
    // heaps over spark.range, not local rows: Spark's loop folds a step
    // over local rows into a local relation and runs it without jobs
    for (d <- Seq(6, 12)) spark.range(1L, 1L << (d + 1))
      .selectExpr("id", "CASE WHEN id > 1 THEN id DIV 2 END AS parent")
      .createOrReplaceTempView(s"re_heap_d$d")
    def jobs(depth: Int): Int = {
      // a new frame each time: a second action on one adaptive plan
      // reuses its finished stages
      def run() = spark.sql(treeSql.format(s"re_heap_d$depth")).collect()
      run(): Unit // warm
      val (rows, p) = metrics.measure(s"recursive_expand_d$depth")(run())
      assert(p.untagged == 0, s"${p.untagged} jobs ran outside the scope's tag")
      assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
        (0 to depth).map(d => (d, 1L << d)))
      p.total.jobs
    }
    val (shallow, deep) = (jobs(6), jobs(12))
    assert(shallow == deep, s"depth 6 ran $shallow jobs, depth 12 ran $deep")
  }
}
