package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{BpeVocab, Dedup, GraphQueries}

/** r14 (VERDICT r13 item 6): the bounded-driver-loop gates must be FREE for
  * over-cap inputs. The r13 probes collected up to cap+1 rows (with symbol
  * arrays, for BPE) and then threw them away when the input was over the
  * cap — up to two wasted scheduler round-trips and a wide driver transfer
  * per invocation at production scale. The r14 shape:
  *
  *  - BPE: the gate's word count rides (as an observed metric) the word-
  *    table checkpoint the distributed loop's first round needs anyway —
  *    an over-cap input pays ZERO extra jobs and ZERO extra transfer;
  *  - CC: the vertex count rides the cc_init checkpoint-with-sum the
  *    distributed loop starts with; only a vertex-bounded input pays one
  *    bounded CollectLimit probe of the edges (no exchange — PlanLintSpec
  *    covers the plan);
  *  - PageRank: the edge count rides the aggregated-edge checkpoint, which
  *    the distributed path then consumes (sparing it two re-evaluations of
  *    the edge lineage).
  *
  * The assertions pin job-count CEILINGS per path at the counts measured
  * at r14 HEAD (AQE executes each shuffle stage as its own job, so the
  * raw numbers exceed the naive action count) — a regression that
  * re-introduces a wasted probe job breaches the ceiling. Jobs are the
  * call's tagged jobs in `TestSpark.metrics`, with none untagged. The over-cap
  * legs pass cap 0; the under-cap legs use each loop's default cap, so a
  * default too small for these inputs fails the under-cap ceiling, and
  * the under-cap leg must launch fewer jobs than the over-cap one. */
class DriverLoopGateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** The Spark jobs `body` launched, none untagged. */
  private def countJobs(body: => Unit): Int = {
    val (_, p) = metrics.measure("driver_loop_gate")(body)
    assert(p.untagged == 0, s"${p.untagged} jobs ran outside the scope's tag")
    p.total.jobs
  }

  test("BPE gate: over-cap input pays zero jobs beyond the distributed loop") {
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa ba")).toDF("doc_id", "text")
    // over-cap (cap 0): jobs = 1 word-table checkpoint (the loop's own
    // init — the gate metric rides it) + nMerges pair-count collects
    // + 1 consuming collect of the merge table. No probe job exists.
    val over = countJobs(
      BpeVocab.trainCore(docs, nMerges = 2, driverMaxWords = 0)._1.collect())
    assert(over <= 8, s"over-cap BPE launched $over jobs (ceiling 8)")
    // under-cap at the default cap: checkpoint + one collect of the
    // materialized blocks + the consuming collect
    val under = countJobs(BpeVocab.trainOnDocs(docs, nMerges = 2).collect())
    assert(under <= 5, s"under-cap BPE launched $under jobs (ceiling 5)")
    assert(under < over, s"driver path ($under jobs) must beat the loop ($over)")
  }

  test("CC gate: over-cap input pays at most one bounded edge probe") {
    val vertices = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "label")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    // over-cap (cap 0): nV > 0 short-circuits BEFORE the edge probe —
    // jobs = cc_init checkpoint (gate metric rides it) + edges
    // checkpoint + 1 checkpoint per pointer-jump round + the consuming
    // collect. The tiny chain converges in ≤ 3 rounds.
    val over = countJobs(
      Dedup.connectedComponents(vertices, pairs,
        df => df.localCheckpoint(true), driverMaxRows = 0).collect())
    assert(over <= 12, s"over-cap CC launched $over jobs (ceiling 12)")
    // under-cap at the default cap: cc_init checkpoint + edge CollectLimit
    // probe + vertex collect from the checkpoint + the consuming collect
    val under = countJobs(
      Dedup.connectedComponents(vertices, pairs,
        df => df.localCheckpoint(true)).collect())
    assert(under <= 3, s"under-cap CC launched $under jobs (ceiling 3)")
    assert(under < over, s"driver path ($under jobs) must beat the loop ($over)")
  }

  test("PageRank gate: over-cap input pays zero jobs beyond the distributed loop") {
    val edges = Seq(("a", "b", 2L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    // over-cap (cap 0): jobs = edge checkpoint (gate metric rides it;
    // the distributed loop consumes it) + nodes cp + node count + probs
    // cp + sources cp + rank-init cp + iters rank cps + the consuming
    // collect. No probe job exists.
    val over = countJobs(
      GraphQueries.pagerankOn(edges, iters = 2, driverMaxEdges = 0).collect())
    assert(over <= 27, s"over-cap PageRank launched $over jobs (ceiling 27)")
    // under-cap at the default cap: edge checkpoint + one collect of its
    // blocks (the consuming collect is driver-local: the result is
    // createDataFrame of an in-process array)
    val under = countJobs(GraphQueries.pagerankOn(edges, iters = 2).collect())
    assert(under <= 2, s"under-cap PageRank launched $under jobs (ceiling 2)")
    assert(under < over, s"driver path ($under jobs) must beat the loop ($over)")
  }
}
