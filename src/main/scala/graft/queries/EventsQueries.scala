package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.streaming.EventStreams

/** Event-time analytics over the `events` table — the batch face of the
  * streaming surface (EventStreams): tumbling/sliding windows, session
  * windows, sessionization, as-of join. Each is oracle-checked; the same
  * transforms run under Structured Streaming in StreamingSpec.
  */
object EventsQueries {

  /** Tumbling 1-hour windows (same expression streams with a watermark). */
  def eventsTumbling(spark: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingCounts(Tables.events(spark, dir), "1 hour")
      .orderBy(col("window_start"), col("event_type"))

  val eventsTumblingSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding 1-hour windows every 15 minutes: each event lands in 4 windows.
    * Spark's `window(ts, len, slide)` expands map-side — no self-join. */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(spark, dir), "1 hour", "15 minutes")
      .orderBy(col("window_start"), col("event_type"))

  // Oracle expands the same 4 windows per event: start = floor(epoch/900)*900 - k*900.
  val eventsSlidingSql: String =
    """SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 - k.k * 900 AS BIGINT)),
      |                '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n
      |FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) k
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Native session windows (30-min gap) aggregated to per-user stats.
    * session_window is the streaming-native operator; the oracle reproduces
    * its semantics with gaps-and-islands SQL (new session when the gap to the
    * previous event is >= 30 min), proving the two formulations agree. */
  def eventsSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    EventStreams.sessionStats(Tables.events(spark, dir), "30 minutes")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"),
        max($"n_events").as("max_session_events"))
      .orderBy($"user_id")
  }

  val eventsSessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts,
      |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |              >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM sess GROUP BY user_id, session_id)
      |SELECT user_id, count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  max(n_events) AS max_session_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** As-of (backward) join: for each purchase, the user's most recent signup
    * at-or-before it. Implemented the scale-correct way: union both sides,
    * ONE shuffle on user_id, running `last(signup_ts)` window — no join
    * explosion, no per-row subquery. Oracle: DuckDB's native ASOF JOIN. */
  def eventsAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", lit(null).cast("timestamp").as("sig_ts"))
    val signups = ev.filter($"event_type" === "signup")
      .select(lit(null).cast("long").as("event_id"), $"user_id", $"ts", $"ts".as("sig_ts"))
    // signups sort before purchases at identical ts (sig_ts non-null first)
    // so a same-instant signup is visible to the purchase — ASOF `<=`.
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"sig_ts".asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    purchases.unionByName(signups)
      .withColumn("last_signup", last($"sig_ts", ignoreNulls = true).over(w))
      .filter($"event_id".isNotNull) // keep only the purchase rows
      .select($"event_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format($"last_signup", "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
      .orderBy($"event_id")
  }

  val eventsAsofJoinSql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
      |SELECT p.event_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
      |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** The same as-of join through the NATIVE operator (custom LogicalPlan +
    * Strategy + merge-join SparkPlan, graft.plans.AsOf) — one clustered
    * shuffle + sort per side, single merge pass. Same DuckDB oracle as the
    * union-window formulation above. */
  def eventsAsofNative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // re-read per side: the operator requires disjoint attribute ids
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val signups = Tables.events(spark, dir)
      .filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("s_ts"))
    graft.plans.AsOf.join(purchases, signups, "user_id", "ts", "s_ts")
      .select($"event_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        date_format($"s_ts", "yyyy-MM-dd HH:mm:ss").as("signup_ts"))
      .orderBy($"event_id")
  }

  /** FORWARD as-of through the same native operator: for each signup, the
    * user's next purchase at-or-after it — the "time-to-convert" join.
    * Identical physical shape (clustered shuffle + sort per side, one merge
    * pass); the forward pass needs no carried match state at all (the right
    * head itself is the candidate). DuckDB's ASOF with `<=` is the oracle. */
  def eventsAsofForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val signups = Tables.events(spark, dir)
      .filter($"event_type" === "signup")
      .select($"event_id", $"user_id", $"ts")
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"))
    graft.plans.AsOf.joinForward(signups, purchases, "user_id", "ts", "p_ts")
      .select($"event_id",
        date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
        date_format($"p_ts", "yyyy-MM-dd HH:mm:ss").as("next_purchase_ts"))
      .orderBy($"event_id")
  }

  val eventsAsofForwardSql: String =
    """WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
      |     p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT s.event_id,
      |  strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
      |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts <= p.ts
      |ORDER BY s.event_id""".stripMargin

  /** Large-large interval join, bucketed: for each purchase, count the same
    * user's clicks in the preceding hour. Neither side is broadcastable at
    * scale and a raw non-equi join explodes, so the range is decomposed into
    * an EQUI-join on (user, hour-bucket) — each purchase probes its own and
    * the previous bucket (2 rows), each click sits in exactly 1 bucket — and
    * the exact range predicate filters within the joined buckets. Shuffle
    * keys are (user, hour): high-cardinality, no skew, SMJ-able. */
  def eventsIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts",
        ($"ts".cast("long") / 3600).cast("long").as("b"))
      .select($"event_id", $"user_id", $"ts",
        explode(array($"b" - 1, $"b")).as("bucket"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        ($"ts".cast("long") / 3600).cast("long").as("c_bucket"))
    purchases
      .join(clicks,
        $"user_id" === $"c_user" && $"bucket" === $"c_bucket" &&
          $"c_ts" > $"ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"ts",
        "left_outer")
      .groupBy($"event_id")
      .agg(count($"c_ts").as("n_clicks_1h"))
      .orderBy($"event_id")
  }

  val eventsIntervalJoinSql: String =
    """SELECT p.event_id, count(c.ts) AS n_clicks_1h
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  ON c.user_id = p.user_id
      | AND c.ts > p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |GROUP BY p.event_id
      |ORDER BY p.event_id""".stripMargin

  /** Sequential funnel signup → click → purchase: per user, the first signup,
    * the first click strictly after it, the first purchase strictly after
    * that; output is the cumulative user count per stage.
    *
    * Scale design: ONE shuffle (groupBy user), then a single in-order fold
    * over each user's sorted event list (`sort_array` + `aggregate`) — the
    * per-user event count is bounded, so the fold is map-side work after the
    * shuffle. The textbook 3-CTE form (the oracle) needs three
    * aggregate+join rounds on the same key; at 100 TB that is three shuffles
    * of the fact table vs this one. EventsFunnelSpec pins the fold
    * equivalent to the 3-join form on the sf corpus. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnelSteps(Tables.events(spark, dir), Seq("signup", "click", "purchase"))

  /** The funnel operator proper, for an ARBITRARY step sequence (repeated
    * event types allowed — `Seq("view", "view", "buy")` means "a second view
    * strictly after the first"): per user, the first event of step i strictly
    * after the step i−1 completion. Same single-shuffle fold as the
    * 3-step scaladoc above; the accumulator is an array<long> of step
    * completion times folded with a per-index `transform`. Each event reads
    * the PRE-event accumulator, so one event can complete at most one step —
    * the sequential semantics even when steps share an event type
    * (fixture-pinned in FunnelRetentionSpec). */
  def funnelSteps(events: DataFrame, steps: Seq[String]): DataFrame = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val k = steps.length
    val stepsLit = array(steps.map(lit): _*)
    val init = array((1 to k).map(_ => lit(null).cast("long")): _*)
    val folded = events
      .filter($"event_type".isin(steps.distinct.map(s => s: Any): _*))
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_type")
      .groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"tus", $"event_type"))).as("evs"))
      .select(aggregate($"evs", init, (acc, e) =>
        // events arrive in tus order, so "first matching event strictly
        // after step i-1's time" = "first match seen once acc(i-1) is set,
        // excluding ties"; acc is the PRE-event state throughout
        transform(acc, (x, i) => when(
          x.isNull && e("event_type") === element_at(stepsLit, i + 1) &&
            (i === 0 || (element_at(acc, i).isNotNull && e("tus") > element_at(acc, i))),
          e("tus")).otherwise(x))).as("f"))
    // per-stage counts as k sums in the ONE global aggregate (k is static),
    // then k rows via an explode of a literal array — no second data shuffle
    val sums = (0 until k).map(i =>
      sum(when(element_at($"f", i + 1).isNotNull, 1L).otherwise(0L)).as(s"n$i"))
    folded.agg(sums.head, sums.tail: _*)
      .select(explode(array((0 until k).map(i =>
        struct(lit(s"${i + 1}_${steps(i)}").as("stage"),
          col(s"n$i").as("users"))): _*)).as("r"))
      .select($"r.stage", $"r.users")
      .orderBy($"stage")
  }

  val eventsFunnelSql: String =
    """WITH s AS (SELECT user_id, min(ts) AS t1 FROM events
      |           WHERE event_type = 'signup' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |      JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'click' AND e.ts > s.t1 GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
      |SELECT '1_signup' AS stage, count(*) AS users FROM s
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p
      |ORDER BY stage""".stripMargin

  /** Cohort retention: users cohorted by first-active day; for offsets 0–7,
    * the share of the cohort active on cohort_day + offset.
    *
    * Scale design: activity is deduped to (user, day) FIRST (one shuffle of
    * ids+dates, the fact table's payload never moves), the cohort day is an
    * agg over that same deduped set (map-side combinable), and the final
    * cohort-size join is a broadcast (one row per calendar day). */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val activity = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val firstDay = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val cohortSizes = firstDay.groupBy($"cohort_day").agg(count(lit(1)).as("cohort_users"))
    activity.join(firstDay, "user_id")
      .withColumn("day_offset", datediff($"day", $"cohort_day"))
      .filter($"day_offset".between(0, 7))
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(cohortSizes), "cohort_day")
      .select(
        date_format($"cohort_day", "yyyy-MM-dd").as("cohort_day"),
        $"day_offset",
        $"active_users",
        $"cohort_users",
        round($"active_users".cast("double") / $"cohort_users", 6).as("retention"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val eventsRetentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1),
      |cs AS (SELECT cohort_day, count(*) AS cohort_users FROM f GROUP BY 1),
      |j AS (SELECT f.cohort_day,
      |        CAST(datediff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
      |        count(*) AS active_users
      |      FROM a JOIN f ON a.user_id = f.user_id
      |      WHERE datediff('day', f.cohort_day, a.day) BETWEEN 0 AND 7
      |      GROUP BY 1, 2)
      |SELECT strftime(j.cohort_day, '%Y-%m-%d') AS cohort_day, j.day_offset,
      |  j.active_users, cs.cohort_users,
      |  round(CAST(j.active_users AS DOUBLE) / cs.cohort_users, 6) AS retention
      |FROM j JOIN cs ON j.cohort_day = cs.cohort_day
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Sessionized funnel: how many SESSIONS complete signup → click →
    * purchase with all steps inside one session (30-minute gap) — product
    * analytics' "did the user convert in a single sitting". Composes
    * sessionization INTO the funnel fold instead of chaining operators: the
    * per-user fold carries (last event time, step times, per-stage session
    * counts) and RESETS the step times whenever the gap opens a new session
    * — so the whole query is still ONE user shuffle + one fold, where
    * window-sessionize-then-groupBy(user, session)-fold would shuffle
    * twice. Same strictly-after step semantics as [[funnelSteps]]
    * (pre-event accumulator, ties excluded), fixture-pinned. */
  def eventsSessionFunnel(spark: SparkSession, dir: String,
      gap: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    val steps = Seq("signup", "click", "purchase")
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
      .microseconds
    val k = steps.length
    val stepsLit = array(steps.map(lit): _*)
    val nilTimes = array((1 to k).map(_ => lit(null).cast("long")): _*)
    val init = struct(lit(null).cast("long").as("last"),
      nilTimes.as("times"),
      array((1 to k).map(_ => lit(0L)): _*).as("counts"))
    val folded = Tables.events(spark, dir)
      .filter($"event_type".isin(steps: _*))
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_type")
      .groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"tus", $"event_type"))).as("evs"))
      .select(aggregate($"evs", init, (acc, e) => {
        val newSession = acc("last").isNull || (e("tus") - acc("last") >= gapUs)
        val t0 = when(newSession, nilTimes).otherwise(acc("times"))
        val fired = transform(t0, (x, i) =>
          x.isNull && e("event_type") === element_at(stepsLit, i + 1) &&
            (i === 0 || (element_at(t0, i).isNotNull && e("tus") > element_at(t0, i))))
        struct(
          e("tus").as("last"),
          zip_with(t0, fired, (x, f) => when(f, e("tus")).otherwise(x)).as("times"),
          zip_with(acc("counts"), fired,
            (c, f) => c + when(f, 1L).otherwise(0L)).as("counts"))
      }).as("f"))
    val sums = (0 until k).map(i =>
      sum(element_at($"f.counts", i + 1)).as(s"n$i"))
    folded.agg(sums.head, sums.tail: _*)
      .select(explode(array((0 until k).map(i =>
        struct(lit(s"${i + 1}_${steps(i)}").as("stage"),
          col(s"n$i").as("sessions"))): _*)).as("r"))
      .select($"r.stage", $"r.sessions")
      .orderBy($"stage")
  }

  // Oracle: explicit gaps-and-islands session ids (the eventsSessions shape),
  // then the textbook per-session 3-CTE funnel.
  val eventsSessionFunnelSql: String =
    """WITH f AS (SELECT user_id, ts, event_type FROM events
      |           WHERE event_type IN ('signup', 'click', 'purchase')),
      |marked AS (
      |  SELECT user_id, ts, event_type,
      |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type))
      |              >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM f),
      |sess AS (
      |  SELECT user_id, ts, event_type,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_type
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |s1 AS (SELECT user_id, sid, min(ts) AS t1 FROM sess
      |       WHERE event_type = 'signup' GROUP BY 1, 2),
      |s2 AS (SELECT e.user_id, e.sid, min(e.ts) AS t2 FROM sess e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.sid = s1.sid
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1, 2),
      |s3 AS (SELECT e.user_id, e.sid, min(e.ts) AS t3 FROM sess e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.sid = s2.sid
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1, 2)
      |SELECT '1_signup' AS stage, count(*) AS sessions FROM s1
      |UNION ALL SELECT '2_click', count(*) FROM s2
      |UNION ALL SELECT '3_purchase', count(*) FROM s3
      |ORDER BY stage""".stripMargin

  /** Top event-type paths: the 20 most common length-3 event sequences
    * across users (clickstream path analysis). Ties in event time break on
    * event_id so the per-user sequence — and therefore every count — is
    * deterministic.
    *
    * Scale shape: one user shuffle (sequence fold, same bound as the funnel:
    * per-user event count), trigram expansion map-side from the collected
    * array, one path-keyed count (map-side combinable), and the top-20 is
    * TakeOrderedAndProject — never a global sort. */
  def eventsPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seqs = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id", $"event_type")
      .groupBy($"user_id")
      .agg(sort_array(collect_list(struct($"tus", $"event_id", $"event_type"))).as("evs"))
      .select(transform($"evs", e => e("event_type")).as("seq"))
    seqs
      .filter(size($"seq") >= 3)
      .select(explode(transform(slice($"seq", lit(1), size($"seq") - 2),
        (x, i) => concat_ws(">", x, element_at($"seq", i + 2),
          element_at($"seq", i + 3)))).as("path"))
      .groupBy($"path")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(20)
  }

  val eventsPathsSql: String =
    """WITH s AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT seq[i] || '>' || seq[i + 1] || '>' || seq[i + 2] AS path
      |  FROM s, LATERAL (SELECT unnest(range(1, len(seq) - 1)) AS i) r
      |  WHERE len(seq) >= 3)
      |SELECT path, count(*) AS n
      |FROM t GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 20""".stripMargin

  /** Rolling 7-day active users per day (the WAU-by-day shape), plus the
    * day's own actives (DAU). Exact distinct, not a sketch: activity dedupes
    * to (user, day) FIRST — ids+dates only — then each active day lands in
    * the 7 windows it contributes to (map-side explode, the sliding-window
    * trick: no self-join, no range join) and a distinct-agg per window day
    * counts users. The 7× row amplification is of 16-byte id/date pairs,
    * not events — the same bound events_sliding accepts. Window days with
    * no activity in the trailing 6 days simply don't appear (same contract
    * as a group-by; the oracle mirrors it). */
  def eventsRollingActives(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val activity = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val windows = activity
      .select($"user_id", explode(sequence(lit(0), lit(6))).as("k"),
        date_add($"day", $"k".cast("int")).as("window_day"))
    val wau = windows.groupBy($"window_day")
      .agg(countDistinct($"user_id").as("wau"))
    val dau = activity.groupBy($"day".as("window_day"))
      .agg(countDistinct($"user_id").as("dau"))
    wau.join(dau, Seq("window_day"), "left")
      .select(date_format($"window_day", "yyyy-MM-dd").as("day"),
        coalesce($"dau", lit(0L)).as("dau"), $"wau")
      .orderBy($"day")
  }

  val eventsRollingActivesSql: String =
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |w AS (
      |  SELECT a.day + CAST(k.k AS INTEGER) AS window_day, a.user_id
      |  FROM a, (SELECT unnest(range(0, 7)) AS k) k),
      |wau AS (SELECT window_day, count(DISTINCT user_id) AS wau
      |        FROM w GROUP BY 1),
      |dau AS (SELECT day AS window_day, count(DISTINCT user_id) AS dau
      |        FROM a GROUP BY 1)
      |SELECT strftime(wau.window_day, '%Y-%m-%d') AS day,
      |  coalesce(dau.dau, 0) AS dau, wau.wau
      |FROM wau LEFT JOIN dau ON wau.window_day = dau.window_day
      |ORDER BY day""".stripMargin

  /** Sketch form of [[eventsRollingActives]] — the stated 100 TB path made
    * code: per-day HyperLogLog sketches (DataSketches `hll_sketch_agg`,
    * lgConfigK = 14 ≈ 0.8% relative error) are built ONCE from the deduped
    * activity, and each trailing window is a sketch UNION — so the window
    * aggregation shuffles one ~16 KB sketch per (day, window) instead of
    * re-shuffling every (user, day) id into 7 windows, and a year-long
    * backfill unions 365×7 sketches rather than re-counting ids 2,500×.
    * DuckDB has no DataSketches-compatible HLL, so this is a library
    * operator (no driver query); the spec bounds its deviation against the
    * exact [[eventsRollingActives]] per window day — the q20 pattern. */
  def rollingActivesApprox(events: DataFrame, days: Int = 7): DataFrame = {
    require(days >= 1, s"window must be >= 1 day, got $days")
    import events.sparkSession.implicits._
    val perDay = events
      .select($"user_id", to_date($"ts").as("day"))
      .groupBy($"day")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    perDay
      .select(explode(sequence(lit(0), lit(days - 1))).as("k"), $"day", $"sk")
      .select(date_add($"day", $"k".cast("int")).as("window_day"), $"sk")
      .groupBy($"window_day")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("wau_approx"))
      .select(date_format($"window_day", "yyyy-MM-dd").as("day"), $"wau_approx")
      .orderBy($"day")
  }

  /** Daily-volume anomaly detection: per event type, the days whose event
    * count deviates from that type's mean by more than two standard
    * deviations — the monitoring query behind every "traffic dropped
    * overnight" alert.
    *
    * The 2σ test is evaluated in EXACT integer arithmetic:
    * |cnt − s/n| > 2σ  ⇔  (n·cnt − s)² > 4·(n·q − s²), with s = Σcnt,
    * q = Σcnt², n = #days — all BIGINT, so the result is bit-identical to
    * the oracle regardless of float accumulation order (a `stddev_pop`
    * formulation would diverge by ulps between engines and between
    * partition schedules). `dev_n = n·cnt − s` is reported so the SIGN of
    * the deviation (spike vs drop) travels with the flag.
    *
    * Scale design: the only full-data shuffle is the (type, day) count,
    * which partial-aggregates map-side; the per-type moment table is
    * #types rows and broadcasts back onto the daily counts. Nothing else
    * moves. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    anomalyFlagsOn(Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** The flag evaluation of [[eventsAnomaly]] over any (event_type, day,
    * cnt) daily-count frame — ONE definition shared with the incremental
    * face ([[anomalyAdmitBatch]]), so the two cannot drift.
    *
    * All moment arithmetic runs in DECIMAL(38,0) (128-bit), not BIGINT: at
    * production volume a day of cnt ≈ 10¹² events puts Σcnt² ≈ 10²⁶ and the
    * squared deviation ≈ 10³⁴ — both far past 2⁶³, where a BIGINT
    * formulation would throw under ANSI mode (or silently wrap without it).
    * The decimal form is exact through cnt ≈ 10¹⁴ with 10⁵ days per type
    * (dev² < 10³⁸); the oracle mirrors it in HUGEINT. The reported dev_n
    * (= n·cnt − s) is cast back to BIGINT for the output row. */
  private[graft] def anomalyFlagsOn(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cntD = $"cnt".cast(dec)
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).cast(dec).as("n"), sum(cntD).as("s"),
        sum(cntD * cntD).as("q"))
    val devN = $"n" * cntD - $"s"
    daily.join(broadcast(stats), "event_type")
      .filter(devN * devN > lit(4).cast(dec) * ($"n" * $"q" - $"s" * $"s"))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"cnt", devN.cast("long").as("dev_n"))
      .orderBy($"event_type", $"day")
  }

  /** Incremental face of [[eventsAnomaly]] — the monitoring shape at
    * production scale, where events arrive as micro-batches or daily drops
    * and the flag set must stay current without rescanning history. Same
    * design family as `IncrementalDedup`: the persisted store IS the state,
    * so the call works identically from a scheduled batch job or inside
    * `foreachBatch` of a streaming query, and survives restarts.
    *
    * Each admit appends the batch's (event_type, day, cnt_delta) counts —
    * the only full-data work, a map-side-combinable aggregate of the BATCH
    * — then re-evaluates flags over the merged store, which holds
    * aggregate-sized rows (#types × #days × #batches deltas; sum-merged on
    * read). Late events simply add a delta to their day: flags are REVISED
    * on the next admit, which is the honest semantic for anomaly
    * monitoring (a day can stop being anomalous once its stragglers land).
    * After all data is admitted, the flag set equals the batch operator's
    * exactly (spec-pinned).
    *
    * Persistence is [[graft.sources.Store]]: a crashed admit leaves the
    * store unchanged (stage-then-rename commit), and the admit-count
    * maintenance compaction here passes the sum-merge as its rewrite — a
    * compacted store holds ONE row per (type, day), so both file count
    * and row count stay bounded by live keys, not by admit history. */
  def anomalyAdmitBatch(batch: DataFrame, storeDir: String,
      maintainEvery: Int = 16, id: Option[String] = None): DataFrame = {
    import batch.sparkSession.implicits._
    val spark = batch.sparkSession
    val mergeDeltas: DataFrame => DataFrame =
      _.groupBy($"event_type", $"day").agg(sum($"cnt_delta").as("cnt_delta"))
    if (graft.sources.Store.appendMaybeIdempotent(
        batch.groupBy($"event_type", to_date($"ts").as("day"))
          .agg(count(lit(1)).as("cnt_delta")),
        storeDir, id))
      graft.sources.Store.maintain(spark, storeDir, maintainEvery,
        rewrite = mergeDeltas)
    anomalyFlagsOn(graft.sources.Store.read(spark, storeDir)
      .groupBy($"event_type", $"day")
      .agg(sum($"cnt_delta").as("cnt")))
  }

  // moment arithmetic in HUGEINT (128-bit) to mirror the engine's
  // DECIMAL(38,0) — Σcnt² and dev² overflow BIGINT at production volumes
  val eventsAnomalySql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |             CAST(count(*) AS BIGINT) AS cnt
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |        sum(CAST(cnt AS HUGEINT)) AS s, sum(CAST(cnt AS HUGEINT)*cnt) AS q
      |      FROM d GROUP BY 1)
      |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cnt,
      |  CAST(s.n * d.cnt - s.s AS BIGINT) AS dev_n
      |FROM d JOIN s USING (event_type)
      |WHERE (s.n*d.cnt - s.s)*(s.n*d.cnt - s.s) > 4*(s.n*s.q - s.s*s.s)
      |ORDER BY event_type, day""".stripMargin

  /** Per-type equi-width value histogram — the distribution-profiling
    * primitive next to the exact/sketch percentiles (q21/q25): `HistBuckets`
    * equal-width bins between each type's min and max, last edge inclusive.
    * The lo_edge/hi_edge columns are a rounded DISPLAY grid only (same
    * round(…, 6) convention as the other oracles) — counts are exact; a
    * double round-tie between engines could only shift a displayed edge,
    * never a count.
    *
    * Two aggregates: a types-sized bounds pass (min/max per type — partial
    * agg, broadcast back), then ONE map-side-combinable (type, bucket)
    * count — at 100 TB the second shuffle carries ≤ types×buckets rows.
    * Bucket index is floor((v−lo)/w) clamped into [0, nb−1]: both engines
    * evaluate the same double arithmetic on the same values, and the clamp
    * (not an epsilon) handles v = hi exactly — so the bucket assignment is
    * bit-identical cross-engine and the oracle hash-matches. Empty buckets
    * are emitted with cnt = 0 via a sequence/unnest spine on the bounds
    * table (a histogram with silent gaps misleads); edges are reported on a
    * rounded display grid, counts are exact. Degenerate lo = hi types would
    * divide by zero — w is floored at a tiny positive width so every value
    * lands in bucket 0 deterministically (not exercised by this corpus but
    * guarded the same way in both engines). */
  private val HistBuckets = 10

  def eventsHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nb = HistBuckets
    val bounds = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(min($"value").as("lo"), max($"value").as("hi"))
      .withColumn("w", greatest(($"hi" - $"lo") / nb, lit(1e-12)))
    val counts = Tables.events(spark, dir)
      .join(broadcast(bounds), "event_type")
      .withColumn("bucket",
        least(greatest(floor(($"value" - $"lo") / $"w"), lit(0.0)), lit((nb - 1).toDouble))
          .cast("long"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("cnt"))
    val spine = bounds
      .select($"event_type", $"lo", $"w", explode(sequence(lit(0L), lit((nb - 1).toLong))).as("bucket"))
    spine.join(counts, Seq("event_type", "bucket"), "left")
      .select($"event_type", $"bucket",
        round($"lo" + $"bucket" * $"w", 6).as("lo_edge"),
        round($"lo" + ($"bucket" + 1) * $"w", 6).as("hi_edge"),
        coalesce($"cnt", lit(0L)).as("cnt"))
      .orderBy($"event_type", $"bucket")
  }

  val eventsHistogramSql: String =
    s"""WITH b AS (
       |  SELECT event_type, min(value) AS lo, max(value) AS hi,
       |    greatest((max(value) - min(value)) / ${HistBuckets}, 1e-12) AS w
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT e.event_type,
       |    CAST(least(greatest(floor((e.value - b.lo) / b.w), 0),
       |               ${HistBuckets - 1}) AS BIGINT) AS bucket,
       |    count(*) AS cnt
       |  FROM events e JOIN b USING (event_type)
       |  GROUP BY 1, 2),
       |s AS (
       |  SELECT b.event_type, b.lo, b.w, g.bucket
       |  FROM b, LATERAL (SELECT unnest(range(0, ${HistBuckets})) AS bucket) g)
       |SELECT s.event_type, s.bucket,
       |  round(s.lo + s.bucket * s.w, 6) AS lo_edge,
       |  round(s.lo + (s.bucket + 1) * s.w, 6) AS hi_edge,
       |  coalesce(c.cnt, 0) AS cnt
       |FROM s LEFT JOIN c ON c.event_type = s.event_type AND c.bucket = s.bucket
       |ORDER BY s.event_type, s.bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_histogram" -> (eventsHistogram _),
    "events_anomaly" -> (eventsAnomaly _),
    "events_rolling_actives" -> (eventsRollingActives _),
    "events_session_funnel" -> ((s: SparkSession, d: String) => eventsSessionFunnel(s, d)),
    "events_paths" -> (eventsPaths _),
    "events_funnel" -> (eventsFunnel _),
    "events_retention" -> (eventsRetention _),
    "events_interval_join" -> (eventsIntervalJoin _),
    "events_tumbling" -> (eventsTumbling _),
    "events_sliding" -> (eventsSliding _),
    "events_sessions" -> (eventsSessions _),
    "events_asof_join" -> (eventsAsofJoin _),
    "events_asof_native" -> (eventsAsofNative _),
    "events_asof_forward" -> (eventsAsofForward _))

  val oracles: Map[String, String] = Map(
    "events_histogram" -> eventsHistogramSql,
    "events_anomaly" -> eventsAnomalySql,
    "events_rolling_actives" -> eventsRollingActivesSql,
    "events_session_funnel" -> eventsSessionFunnelSql,
    "events_paths" -> eventsPathsSql,
    "events_funnel" -> eventsFunnelSql,
    "events_retention" -> eventsRetentionSql,
    "events_interval_join" -> eventsIntervalJoinSql,
    "events_tumbling" -> eventsTumblingSql,
    "events_sliding" -> eventsSlidingSql,
    "events_sessions" -> eventsSessionsSql,
    "events_asof_join" -> eventsAsofJoinSql,
    "events_asof_native" -> eventsAsofJoinSql,
    "events_asof_forward" -> eventsAsofForwardSql)
}
