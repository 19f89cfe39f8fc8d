package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over event streams — fixed-iteration weighted PageRank
  * on the event-type transition graph.
  *
  * Two very different scales live in this operator, and the implementation
  * keeps them separate:
  *
  *   - EDGE EXTRACTION is the 100 TB stage: one window pass over the raw
  *     events (lag of event_type per user, the events_paths ordering
  *     contract: ts with event_id tie-break) followed by a count-aggregate
  *     — the same one-shuffle shape as any sessionization. Event volume
  *     only ever touches this stage.
  *   - THE ITERATION runs on the AGGREGATED graph (|node|+|edge| scale,
  *     independent of event count). It is still expressed as DataFrame
  *     joins — rank joins probs, groupBy dst, left-join back to nodes — so
  *     the same code runs when nodes are millions of URLs instead of five
  *     event types; each round cuts lineage with an eager localCheckpoint
  *     (the q50 recursive-CTE discipline: without the cut, round k's plan
  *     re-derives rounds 1..k-1).
  *
  * Numerics: transition probabilities divide exact integer counts in
  * double (`w / out_w` — both engines divide the same integers, IEEE
  * division is deterministic); per-round contributions are double sums
  * over ≤|node| terms, so cross-engine accumulation-order noise stays
  * ~1e-15 and the final `round(rank, 6)` is stable. Dangling mass (nodes
  * with no out-edges) is redistributed uniformly each round — total rank
  * mass is conserved at every iteration (spec-pinned).
  */
object GraphQueries {

  private val Damping = 0.85
  private val Iters = 5

  /** Edge-count bound under which the ITERATION runs on the driver (r13
    * optimization): the loop is |nodes|+|edges|-scale by design — for the
    * event-type graph that is ~25 edges, and the distributed loop paid
    * ~10 Spark jobs (two per round: dangling broadcast + eager
    * checkpoint) to move a few hundred doubles (measured 1.6-1.9 s of the
    * serve phase). Under the bound the aggregated graph is collected
    * (the IVF-codebook bounded-driver-object discipline: the COLLECT is
    * |edges|-scale, never event-scale — edge extraction stays
    * distributed) and the 5 rounds run in-process with the same
    * teleport/dangling arithmetic, summed in sorted-key order; the
    * cross-engine accumulation-order analysis in the header (≤|node|-term
    * double sums, noise ~1e-15, final round(rank, 6) stable) covers the
    * driver order exactly as it covers DuckDB's. Above the bound
    * (millions-of-URLs graphs) the distributed loop below is unchanged.
    * The gate observes only the aggregated edge count, which rides the
    * edge checkpoint the distributed loop consumes. */
  private val PrDriverMaxEdges: Int = 4096

  /** Weighted PageRank core over an edge frame (`src`, `dst`, `w`): rank
    * mass flows along out-probability `w / Σ_out w`, damped, with dangling
    * mass redistributed uniformly. Returns (`node`, `rank`) unrounded.
    *
    * The node count enters as a driver scalar (one count() over the node
    * frame — the codebook-collect discipline: bounded by |nodes|’ scale,
    * not data scale; it sizes the teleport term, not any data structure).
    *
    * Graphs of at most `driverMaxEdges` aggregated edges iterate on the
    * driver (see [[PrDriverMaxEdges]]). Every string-keyed graph pays one
    * eager local checkpoint of the aggregated edges; on an over-cap graph
    * those blocks sit in executor storage (memory, spilling to disk) next
    * to the loop's own checkpoints until the loop returns, and since a
    * local checkpoint cuts lineage, losing an executor that holds them
    * fails the query instead of recomputing it.
    */
  private[graft] def pagerankOn(edges: DataFrame, iters: Int = Iters,
      damping: Double = Damping, driverMaxEdges: Int = PrDriverMaxEdges)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // driver path only for string-keyed graphs (both faces): the result's
    // node column must keep the edge frame's exact type
    val stringKeyed =
      edges.schema("src").dataType == org.apache.spark.sql.types.StringType &&
        edges.schema("dst").dataType == org.apache.spark.sql.types.StringType
    if (!stringKeyed) return pagerankDistributed(edges, iters, damping)
    // One eager checkpoint materializes the aggregated edge frame and the
    // gate's row count rides it as an observed metric (r14: the over-cap
    // probe previously paid a wasted |edges|-collect job; now the gate is
    // free — the distributed loop consumes the SAME checkpoint, which also
    // spares it the 2 extra full evaluations of the edge lineage its
    // nodes/probs derivations used to pay).
    val obs = org.apache.spark.sql.Observation()
    val edgesCp = edges.observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nEdges = obs.get("n").asInstanceOf[Long]
    val bounded: Option[Array[(String, String, Long)]] =
      if (nEdges > driverMaxEdges) None
      else Some(edgesCp.select($"src", $"dst", $"w".cast("long"))
        .as[(String, String, Long)].collect())
    try bounded match {
      case Some(e) =>
        val nodes = (e.iterator.map(_._1) ++ e.iterator.map(_._2))
          .toSeq.distinct.sorted
        val n = nodes.size.toDouble
        val outW: Map[String, Long] = e.groupBy(_._1).view
          .mapValues(_.map(_._3).sum).toMap
        // per-dst in-edges, sorted by src so the contribution sum order is
        // deterministic (within the 1e-15 tolerance band either way)
        val inEdges: Map[String, Seq[(String, Double)]] = e
          .map { case (s, d, w) => (d, (s, w.toDouble / outW(s))) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
        var rank: Map[String, Double] = nodes.map(_ -> 1.0 / n).toMap
        (1 to iters).foreach { _ =>
          val dm = nodes.iterator
            .filter(nd => !outW.contains(nd)).map(rank).sum
          rank = nodes.map { nd =>
            val m = inEdges.getOrElse(nd, Nil).iterator
              .map { case (s, p) => rank(s) * p }.sum
            nd -> ((1.0 - damping) / n + damping * (m + dm / n))
          }.toMap
        }
        import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
        spark.createDataFrame(
          java.util.Arrays.asList(nodes.map(nd =>
            org.apache.spark.sql.Row(nd, rank(nd))): _*),
          StructType(Seq(StructField("node", StringType),
            StructField("rank", DoubleType))))
      case None => pagerankDistributed(edgesCp, iters, damping)
    } finally org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(edgesCp)
  }

  /** The distributed iteration — unchanged; every graph above
    * [[PrDriverMaxEdges]] runs here. */
  private[graft] def pagerankDistributed(edges: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val nodes = edges.select($"src".as("node"))
      .union(edges.select($"dst".as("node")))
      .distinct().localCheckpoint(true)
    val n = nodes.count().toDouble
    val outW = edges.groupBy($"src").agg(sum($"w").as("ow"))
    val probs = edges.join(outW, "src")
      .select($"src", $"dst",
        ($"w".cast("double") / $"ow".cast("double")).as("p"))
      .localCheckpoint(true)
    val sources = probs.select($"src").distinct().localCheckpoint(true)

    var rank = nodes.select($"node", lit(1.0 / n).as("rank"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val contrib = probs.join(rank, $"node" === $"src")
        .groupBy($"dst").agg(sum($"rank" * $"p").as("m"))
      val dangling = rank.join(sources, $"node" === $"src", "left_anti")
        .agg(coalesce(sum($"rank"), lit(0.0)).as("dm"))
      val next = nodes
        .join(contrib, $"node" === $"dst", "left_outer")
        .crossJoin(broadcast(dangling))
        .select($"node",
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce($"m", lit(0.0)) + $"dm" / n)).as("rank"))
        .localCheckpoint(true)
      // superseded iteration's checkpoint blocks released eagerly (r14 §5:
      // the loop's storage footprint stays one rank frame, not `iters`)
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(rank)
      rank = next
    }
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(nodes)
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(probs)
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(sources)
    rank
  }

  /** The transition multigraph of consecutive events per user: edge
    * (src_type → dst_type) weighted by how often a user's event of type
    * src is immediately followed by one of type dst. */
  private[graft] def transitionEdges(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("src", lag($"event_type", 1).over(w))
      .filter($"src".isNotNull)
      .groupBy($"src", $"event_type".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Driver face: PageRank of event types in the user-journey transition
    * graph — "which screen/action accumulates attention once you follow
    * where users actually go next". Oracle: the 5 rounds unrolled as
    * chained CTEs in DuckDB, same arithmetic end to end. */
  def eventsPagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pagerankOn(transitionEdges(Tables.events(spark, dir)))
      .select($"node".as("event_type"), round($"rank", 6).as("rank"))
      .orderBy($"event_type")
  }

  val eventsPagerankSql: String = {
    val round = (i: Int) =>
      s"""c$i AS (
         |  SELECT p.dst AS node, sum(r.rank * p.p) AS m
         |  FROM probs p JOIN r$i r ON r.node = p.src GROUP BY p.dst),
         |d$i AS (
         |  SELECT COALESCE(sum(rank), 0) AS dm FROM r$i
         |  WHERE node NOT IN (SELECT src FROM probs)),
         |r${i + 1} AS (
         |  SELECT nd.node,
         |    -- the engine computes the teleport as a DOUBLE subtraction
         |    -- (1.0 - damping = 0.15000000000000002); DuckDB's bare 0.15
         |    -- is a DECIMAL literal one ulp away, so mirror the exact
         |    -- double arithmetic
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |      / (SELECT n FROM nn) +
         |    0.85 * (COALESCE(c.m, 0) + (SELECT dm FROM d$i) / (SELECT n FROM nn))
         |      AS rank
         |  FROM nodes nd LEFT JOIN c$i c ON nd.node = c.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS src,
       |    event_type AS dst
       |  FROM events),
       |edges AS (
       |  SELECT src, dst, count(*) AS w FROM pairs
       |  WHERE src IS NOT NULL GROUP BY src, dst),
       |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
       |probs AS (
       |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS p
       |  FROM edges e JOIN outw o ON e.src = o.src),
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION SELECT dst FROM edges)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |${(0 until Iters).map(round).mkString(",\n")}
       |SELECT node AS event_type, round(rank, 6) AS rank FROM r$Iters
       |ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_pagerank" -> (eventsPagerank _))

  val oracles: Map[String, String] = Map(
    "events_pagerank" -> eventsPagerankSql)
}
