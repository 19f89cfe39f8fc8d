package graft.queries

import org.apache.spark.sql.GraftBridge

/** Query and phase tags for every Spark job. The store-backed driver faces
  * price a throwaway-store BUILD + N ADMISSIONS + a SERVE as one bench
  * number; a production reader amortizes the build across a deployment
  * and admissions across micro-batches and only pays SERVE per query. The
  * faces wrap their steps in [[time]]`("build"|"admit"|"serve")`, which
  * names the phase of every job the step launches through the
  * `graft.phase` local property, as [[graft.Bench]] names the query
  * through `graft.query`. [[graft.JobMetrics]] charges each job to its
  * tags; without a listener the tags cost two property writes.
  *
  * Laziness caveat: a phase owns the jobs its block MATERIALIZES; the
  * instrumented faces end their serve phase in an eager checkpoint, so
  * serve carries the full store-read-to-result cost. */
object Phases {
  val QueryProperty = "graft.query"
  val PhaseProperty = "graft.phase"

  /** Wall-clock intervals (ms) of each phase run on this thread while a
    * [[graft.JobMetrics]] scope collects them. */
  private val walls =
    new ThreadLocal[scala.collection.mutable.Map[String, Vector[(Long, Long)]]]()

  private[graft] def collecting[A](body: => A): (A, Map[String, Seq[(Long, Long)]]) = {
    val m = scala.collection.mutable.Map.empty[String, Vector[(Long, Long)]]
    val outer = walls.get()
    walls.set(m)
    try { val a = body; (a, m.toMap) }
    finally walls.set(outer)
  }

  /** Run `body` with local property `key` set to `value` (null clears it)
    * on this thread, restoring the previous value afterwards. */
  private[graft] def tagged[A](key: String, value: String)(body: => A): A =
    GraftBridge.activeContext.fold(body) { sc =>
      val prev = sc.getLocalProperty(key)
      sc.setLocalProperty(key, value)
      try body finally sc.setLocalProperty(key, prev)
    }

  /** Run `body` as phase `name`. Repeated phases of one name accumulate
    * (two admits report as one `admit`). */
  def time[A](name: String)(body: => A): A = {
    val m = walls.get()
    val t0 = System.currentTimeMillis()
    try tagged(PhaseProperty, name)(body)
    finally if (m != null)
      m(name) = m.getOrElse(name, Vector.empty) :+ (t0 -> System.currentTimeMillis())
  }

  /** `body` as a thunk that runs it under THIS thread's query and phase
    * tags on whichever thread calls it: a pool thread otherwise keeps the
    * tags it inherited from whichever caller created it. */
  private[graft] def carried[A](body: => A): () => A = {
    def tag(k: String) = GraftBridge.activeContext.map(_.getLocalProperty(k)).orNull
    val (query, phase) = (tag(QueryProperty), tag(PhaseProperty))
    () => tagged(QueryProperty, query)(tagged(PhaseProperty, phase)(body))
  }
}
