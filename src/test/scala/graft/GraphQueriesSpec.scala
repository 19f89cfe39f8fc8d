package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries
import graft.sources.Tables

/** PageRank contract: mass conservation, exact agreement with a dense
  * driver-side recompute, correct dangling-node redistribution, and the
  * two-scale plan shape (event volume touches only edge extraction).
  */
class GraphQueriesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Dense reference PageRank, same formula, driver-side. */
  private def densePagerank(edges: Seq[(String, String, Long)], iters: Int,
      d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val dm = nodes.filterNot(outW.contains).map(rank).sum
      val contrib = edges
        .groupBy(_._2).view
        .mapValues(_.map { case (s, _, w) =>
          rank(s) * (w.toDouble / outW(s).toDouble)
        }.sum)
        .toMap
      rank = nodes.map { v =>
        v -> ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dm / n))
      }.toMap
    }
    rank
  }

  test("events_pagerank matches the dense recompute at the 1e-6 grid") {
    val got = GraphQueries.eventsPagerank(spark, sf)
      .as[(String, Double)].collect().toMap
    val edges = GraphQueries
      .transitionEdges(Tables.events(spark, sf))
      .as[(String, String, Long)].collect().toSeq
    val expect = densePagerank(edges, iters = 5, d = 0.85).view
      .mapValues(r => math.round(r * 1e6) / 1e6).toMap
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("rank mass is conserved: ranks sum to 1 within 1e-9") {
    val total = GraphQueries.eventsPagerank(spark, sf)
      .agg(sum($"rank")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-5, s"mass=$total") // 1e-6 rounding x5 nodes
  }

  test("dangling nodes redistribute their mass uniformly (hand graph)") {
    // a -> b -> c, c dangling; hand-checked one iteration:
    // r0 = 1/3 each; contrib: b gets 1/3, c gets 1/3; dm = 1/3
    // r1(a) = .05 + .85*(0 + 1/9) = 0.1444...
    // r1(b) = .05 + .85*(1/3 + 1/9) = 0.4277...
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val r1 = GraphQueries.pagerankOn(edges, iters = 1, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r1("a") - (0.05 + 0.85 / 9)) < 1e-12)
    assert(math.abs(r1("b") - (0.05 + 0.85 * (1.0 / 3 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r1.values.sum - 1.0) < 1e-12, "mass conserved with dangling")
  }

  test("weighted edges shift rank toward the heavier target") {
    // hub h points to x with 9x the weight of y: x must outrank y
    val edges = Seq(("h", "x", 9L), ("h", "y", 1L), ("x", "h", 1L),
      ("y", "h", 1L)).toDF("src", "dst", "w")
    val r = GraphQueries.pagerankOn(edges, iters = 10, damping = 0.85)
      .as[(String, Double)].collect().toMap
    assert(r("x") > r("y") * 3, s"weighted flow must dominate: $r")
  }

  test("event volume touches only edge extraction: one events scan, window then count") {
    val edges = GraphQueries.transitionEdges(Tables.events(spark, sf))
    edges.collect()
    val plan = edges.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("events\\.parquet".r.findAllIn(plan).size == 1,
      s"one raw-events scan:\n$plan")
    assert(plan.contains("Window") && plan.contains("HashAggregate"),
      s"lag window + count aggregate expected:\n$plan")
  }

  test("bounded-graph driver iteration equals the distributed loop exactly (r13)") {
    // the event-type graph is under the default cap, so the public face
    // takes the driver path; a cap of 0 runs the original distributed loop
    // — both must land on the identical 1e-6 grid
    val viaDriver = GraphQueries.eventsPagerank(spark, sf)
      .as[(String, Double)].collect().toMap
    val viaDistributed = GraphQueries.pagerankOn(
        GraphQueries.transitionEdges(Tables.events(spark, sf)), driverMaxEdges = 0)
      .select($"node", round($"rank", 6))
      .as[(String, Double)].collect().toMap
    assert(viaDriver == viaDistributed,
      s"driver=$viaDriver distributed=$viaDistributed")
    assert(viaDriver.nonEmpty)
  }
}
