package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Phases, ZoneScan}

/** The job-metrics spine: every job a scope launches carries the scope's
  * query tag and the phase open on the launching thread, including jobs
  * that `ZoneScan.bothAdmits` launches from its reused `graft-admit`
  * threads, which would otherwise keep the tags of whichever caller
  * created them. */
class JobMetricsSpec extends AnyFunSuite {
  import TestSpark._

  private def q86(): Unit = {
    SparkEntry.queries("q86_bloom_lookup_batch")(spark, sf).collect(): Unit
  }
  private def oneJob(): Long = spark.sparkContext.parallelize(1 to 3, 1).count()

  test("q86: both admit halves are charged to (q86, admit), none untagged") {
    // earlier runs leave graft-admit threads created under other tags
    q86(); q86()
    val (_, p) = metrics.measure("q86")(q86())
    assert(p.untagged == 0, s"${p.untagged} jobs ran outside q86's tag")
    assert(p.phases.keySet == Set("admit", "build", "serve"))
    assert(p.phases("admit").jobs >= 2, s"admit: ${p.phases("admit")}")
    assert(p.runs.count(_.phase == "admit") == p.phases("admit").jobs)
    assert(p.phases.values.map(_.jobs).sum + p.runs.count(_.phase.isEmpty) == p.total.jobs)
    (p.total +: p.phases.values.toSeq).foreach { r =>
      assert(r.driverGapS >= 0 && r.driverGapS <= r.wallS, s"driver gap of $r")
    }
  }

  test("a nested phase restores its parent's tag") {
    val (_, p) = metrics.measure("nested") {
      Phases.time("outer") {
        oneJob()
        Phases.time("inner")(oneJob())
        oneJob()
      }
      oneJob()
    }
    assert(p.untagged == 0)
    assert(p.runs.map(_.phase) == Seq("outer", "inner", "outer", ""))
    assert(p.phases.map { case (k, r) => k -> r.jobs } == Map("outer" -> 2, "inner" -> 1))
  }

  test("a reused graft-admit thread outside any phase carries no stale phase") {
    // fill the pool under an admit phase and no query tag
    (1 to 2).foreach(_ => Phases.time("admit")(ZoneScan.bothAdmits(oneJob(), oneJob())))
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def half(): Long = { ran.add(Thread.currentThread.getName); oneJob() }
    val (_, p) = metrics.measure("after_admit")(ZoneScan.bothAdmits(half(), half()))
    assert(ran.size == 2 && ran.toArray.forall(_.toString.startsWith(ZoneScan.AdmitThreadPrefix)))
    assert(p.untagged == 0, s"${p.untagged} jobs kept a stale query tag")
    assert(p.runs.map(_.phase) == Seq("", ""), s"phases: ${p.runs.map(_.phase)}")
  }
}
