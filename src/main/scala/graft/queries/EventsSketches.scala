package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Store, Tables}

/** Mergeable distinct-count sketches (Apache DataSketches HLL, the
  * `hll_sketch_agg` / `hll_union_agg` family) — the PRODUCTION shape for
  * distinct counting at 100 TB, distinct from both q20 (one-shot
  * `approx_count_distinct`, whose HLL++ state is plan-internal and gone
  * after the query) and q61 (exact bitmaps, perfect but sized by the id
  * universe). A DataSketches sketch is a VALUE: build one per (type, day)
  * partition at ingest, persist it (~2^lgK bytes), and answer any later
  * window — week, month, arbitrary day set — by unioning the stored
  * sketches WITHOUT rescanning events. That re-aggregability is what a
  * daily 10^12-event lake actually needs: the raw scan happens once per
  * day, every rollup after that reads kilobytes.
  *
  * Output: per event type, the number of daily sketches, the unioned
  * weekly-window estimate, and the one-shot estimate over the same window
  * — the two estimates agree exactly (HLL_8 union is an elementwise
  * register max, identical state to single-shot at equal lgK; spec-pinned
  * along with union associativity and accuracy vs the exact count).
  *
  * No oracle for the HLL face: DuckDB has no DataSketches implementation,
  * so the register states (and thus estimates) are engine-specific — the
  * driver records a rows-only check; EventsSketchesSpec pins the
  * invariants that matter (union ≡ one-shot, split-merge associativity,
  * ±5% of exact).
  *
  * The EXACT counterpart lives below: a persisted BITMAP store
  * ([[admitBitmaps]] / [[distinctFromStore]]) whose incremental face IS
  * oracle-checked against COUNT(DISTINCT) — sketch store and bitmap store
  * are the two points on the same 100 TB design axis (bounded-size
  * approximate vs id-universe-sized exact, both re-aggregable, both
  * rescan-free).
  */
object EventsSketches {

  /** lgConfigK = 12 (4 KB dense): ±1.6% standard error — the size/accuracy
    * point most sketch stores ship. */
  val LgK = 12

  def eventsHllMergeable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", to_date($"ts").as("day"), $"user_id")
    // ingest-time face: one persistable sketch per (type, day) — this is
    // the frame a real pipeline would write to its sketch store
    val daily = ev
      .groupBy($"event_type", $"day")
      .agg(hll_sketch_agg($"user_id", lit(LgK)).as("sk"))
    // query-time face: answer the full-window question from the stored
    // sketches alone (union), plus the one-shot reference over raw events
    val unioned = daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est_union"))
    val oneShot = ev
      .groupBy($"event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", lit(LgK)))
        .as("est_oneshot"))
    unioned
      .join(oneShot, Seq("event_type"))
      .orderBy($"event_type")
  }

  // ---- persisted EXACT distinct: the bitmap store -----------------------

  /** ONE partial/merge pair parameterized by grouping keys serves BOTH
    * bitmap stores (all-time: event_type; day-keyed: event_type, day) — a
    * change to bucket geometry or the bitmap expressions cannot apply to
    * one store and silently miss the other. */
  private def partialsBy(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows
      .groupBy(keys.map(col) :+
        expr("bitmap_bucket_number(user_id)").as("bucket"): _*)
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))

  private def mergeBy(keys: Seq[String])(partials: DataFrame): DataFrame =
    partials.groupBy((keys :+ "bucket").map(col): _*)
      .agg(expr("bitmap_or_agg(bm)").as("bm"))

  /** One ≤4 KB bitmap per (type, 32k-id bucket) of a batch — the partial
    * q61 aggregates in-query, here made a persistable value. */
  private def bitmapPartials(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    partialsBy(events.select($"event_type", $"user_id"), Seq("event_type"))
  }

  /** OR-merge partial bitmaps per (type, bucket) — the compaction rewrite
    * AND the serve-side merge (one definition, like Resample.mergeHourly). */
  private[graft] def mergeBitmaps(partials: DataFrame): DataFrame =
    mergeBy(Seq("event_type"))(partials)

  /** Admit a batch of events into the persisted bitmap store at `storeDir`:
    * append the batch's (type, bucket)→bitmap partials (crash-safe Store
    * protocol), triggered maintenance OR-merges partials flat. EXACT
    * incremental distinct counting — the precise counterpart of the HLL
    * sketch store above, for when ±2% isn't acceptable.
    *
    * Two properties the additive stores (resample, anomaly) DON'T have:
    * admission is order-independent (OR is commutative — any batch split,
    * any arrival order, same store state), and it is SEMANTICALLY
    * idempotent (OR of a duplicate bitmap is a no-op), so even a replayed
    * batch WITHOUT an idempotency id cannot corrupt counts — the id-keyed
    * skip still matters only for store-size hygiene. Both spec-pinned.
    *
    * Scale shape: admission never READS the store (blind partial append —
    * cheaper than the probe-based dedup stores); store size is types ×
    * occupied buckets × ≤4 KB, independent of event volume; serving is one
    * store-sized scan, no events rescan. */
  def admitBitmaps(spark: SparkSession, storeDir: String, batch: DataFrame,
      maintainEvery: Int = 8, id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(bitmapPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeBitmaps)
    admitted
  }

  /** Serve exact distinct users per type from the store alone. */
  def distinctFromStore(spark: SparkSession, storeDir: String): DataFrame = {
    import spark.implicits._
    mergeBitmaps(Store.read(spark, storeDir))
      .groupBy($"event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy($"event_type")
  }

  // ---- per-day bitmaps: exact distinct over arbitrary windows ----------

  /** Day-keyed partials: one bitmap per (type, DAY, bucket). The windowed
    * form of [[bitmapPartials]] — costs a ×days store-size factor and buys
    * the same any-window re-aggregability the HLL sketch store has, but
    * EXACT: a week, a month, any day set answers by OR-merging the stored
    * day slices, no events rescan, no approximation. This completes the
    * exact/approximate symmetry: HLL = bounded-size approximate windows,
    * day-bitmaps = id-universe-sized exact windows; same admission
    * protocol, same crash-safe store, pick by error budget × id density. */
  private def bitmapDailyPartials(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    partialsBy(
      events.select($"event_type", to_date($"ts").as("day"), $"user_id"),
      Seq("event_type", "day"))
  }

  private[graft] def mergeDailyBitmaps(partials: DataFrame): DataFrame =
    mergeBy(Seq("event_type", "day"))(partials)

  /** Admit a batch into the day-keyed bitmap store (same order-independent,
    * replay-harmless properties as [[admitBitmaps]]). */
  def admitDailyBitmaps(spark: SparkSession, storeDir: String,
      batch: DataFrame, maintainEvery: Int = 8,
      id: Option[String] = None): Boolean = {
    val admitted =
      Store.appendMaybeIdempotent(bitmapDailyPartials(batch), storeDir, id)
    if (admitted)
      Store.maintain(spark, storeDir, every = maintainEvery,
        rewrite = mergeDailyBitmaps)
    admitted
  }

  /** Exact distinct users per type over `[fromDay, toDay)`, served from the
    * stored day slices alone — buckets stay disjoint across days of the
    * same user id, so the OR over (day, bucket) slices then popcount-sum
    * per type is the exact windowed count. */
  def distinctWindowFromStore(spark: SparkSession, storeDir: String,
      fromDay: java.time.LocalDate, toDay: java.time.LocalDate): DataFrame = {
    import spark.implicits._
    Store.read(spark, storeDir)
      .filter($"day" >= lit(java.sql.Date.valueOf(fromDay)) &&
        $"day" < lit(java.sql.Date.valueOf(toDay)))
      .groupBy($"event_type", $"bucket")
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy($"event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy($"event_type")
  }

  /** Driver face: admit interleaved halves into a day-keyed throwaway
    * store, then serve the FIRST WEEK — a window the all-time store cannot
    * answer. Oracle: plain windowed COUNT(DISTINCT) with the same
    * data-derived bounds. */
  def eventsBitmapWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_bmday_store_").toString
    try {
      val events = Tables.events(spark, dir)
      Phases.time("admit") {
        admitDailyBitmaps(spark, store, events.filter($"event_id" % 2 === 0))
        admitDailyBitmaps(spark, store, events.filter($"event_id" % 2 =!= 0))
      }
      val startRow = events.agg(min(to_date($"ts"))).head()
      if (startRow.isNullAt(0)) {
        // Empty corpus: no window to derive — empty result, same schema as
        // the served path (sibling drivers return empty frames, not throws).
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_users",
              org.apache.spark.sql.types.LongType))))
      } else {
        val start = startRow.getDate(0).toLocalDate
        Phases.time("serve") {
          distinctWindowFromStore(spark, store, start, start.plusDays(7))
            .localCheckpoint(true)
        }
      }
    } finally {
      // localCheckpoint(true) above is eager, so the store is no longer
      // referenced; finally also sweeps it when admission itself fails.
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  val eventsBitmapWindowSql: String =
    """WITH b AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events)
      |SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events, b
      |WHERE date_trunc('day', ts) >= b.d0
      |  AND date_trunc('day', ts) < b.d0 + INTERVAL 7 DAY
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Streaming face: the SAME bitmap admission as the batch/incremental
    * paths through [[Store.admissionSink]]. Uniquely among the stores, the
    * idempotency id here is belt-and-braces: OR-merge makes even an
    * un-keyed replay semantically harmless (spec-pinned), so the id only
    * caps store growth under pathological replay storms. */
  def bitmapStreamingAdmission(events: DataFrame, storeDir: String,
      maintainEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    Store.admissionSink(events, "sb") { (batch, id) =>
      admitBitmaps(batch.sparkSession, storeDir, batch, maintainEvery, id = Some(id)): Unit
    }

  /** Driver face: admit the events table in two INTERLEAVED halves (the
    * split that would corrupt an order-dependent store) into a throwaway
    * bitmap store, then serve. The oracle is the SAME SQL as q61 — the
    * hash check proves incremental admission is invisible in the exact
    * counts. */
  def eventsBitmapIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = java.nio.file.Files
      .createTempDirectory("graft_bitmap_store_").toString
    try {
      val events = Tables.events(spark, dir)
      Phases.time("admit") {
        admitBitmaps(spark, store, events.filter($"event_id" % 2 === 0))
        admitBitmaps(spark, store, events.filter($"event_id" % 2 =!= 0))
      }
      Phases.time("serve") {
        distinctFromStore(spark, store).localCheckpoint(true)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store)):
        Unit
    }
  }

  // ---- CMS frequency sketch: heavy hitters under bounded state ----------

  /** Heavy hitters with the Count-Min frequency sketch riding shotgun: the
    * exact top-10 users by event count (bounded-heap top-k, the q68 shape)
    * each annotated with the CMS point estimate a bounded-state pipeline
    * would have reported instead. The sketch is the engine's typed
    * [[graft.functions.TypedAggregators.CountMinSketch]] Aggregator — one
    * partial-merging aggregation pass, 4×1024 longs of state TOTAL
    * regardless of user cardinality (the regime where the exact groupBy's
    * state is the problem), finished sketch = 32 KB on the driver, and the
    * 10-row annotation is driver-side by design (the codebook-collect
    * discipline: bounded, documented).
    *
    * Oracle-checked since r9 ([[eventsHeavyHittersSql]] re-implements
    * MurmurHash3 and the counter table in SQL). The spec keeps the sketch
    * contract pins — estimate ≥ exact always, overshoot ≤ εN — and
    * determinism (seeded hashes). */
  def eventsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (depth, width) = (4, 1024)
    val keys = Tables.events(spark, dir)
      .select($"user_id".cast("string").as("k")).as[String]
    val cms = new graft.functions.TypedAggregators.CountMinSketch(depth, width)
    val sketch = keys.select(cms.toColumn).head()
    val top = Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"user_id")
      .limit(10)
      .as[(Long, Long)].collect()
    top.map { case (uid, exact) =>
      val est = graft.functions.TypedAggregators.CountMinSketch
        .estimate(sketch, uid.toString, depth, width)
      (uid, exact, est, est - exact)
    }.toSeq.toDF("user_id", "exact_n", "cms_n", "overcount")
      .orderBy($"user_id")
  }

  /** DuckDB twin of [[eventsHeavyHitters]] — the CMS re-derived whole:
    * Scala's `MurmurHash3.stringHash` (char-pair chunks, mix/mixLast,
    * avalanche) emulated in 32-bit arithmetic over BIGINT (multiplies
    * detour through HUGEINT mod 2^32; rotations as shift-add; floorMod at
    * a power-of-two width is just the unsigned low bits), the 4×1024
    * counter table built by grouping per-key counts on their cells, and
    * the point estimate as the min over rows — byte-for-byte the
    * aggregator's semantics, independently implemented. The sketch was
    * never nondeterministic, only laborious to express. */
  val eventsHeavyHittersSql: String = {
    def mul32(a: String, b: Long): String =
      s"CAST((CAST(($a) AS HUGEINT) * ($b)) % 4294967296 AS BIGINT)"
    def rotl(k: String, r: Int): String =
      s"(((($k) * ${1L << r}) % 4294967296) + (($k) // ${1L << (32 - r)}))"
    def mixLast(h: String, d: String): String = {
      val k3 = mul32(rotl(mul32(d, 0xcc9e2d51L), 15), 0x1b873593L)
      s"xor(($h), ($k3))"
    }
    def mix(h: String, d: String): String =
      s"(((${rotl(mixLast(h, d), 13)}) * 5 + ${0xe6546b64L}) % 4294967296)"
    val pairs = "[unicode(k[i])*65536 + unicode(k[i+1]) " +
      "FOR i IN range(1, strlen(k), 2) IF i+1 <= strlen(k)]"
    val body =
      s"list_reduce(list_prepend(CAST(seed AS BIGINT), $pairs), (h, d) -> ${mix("h", "d")})"
    val tail = mixLast("hm", "unicode(k[strlen(k)])")
    val av2 = mul32("xor(hx, hx // 65536)", 0x85ebca6bL)
    val av4 = mul32(s"xor(($av2), ($av2) // 8192)", 0xc2b2ae35L)
    val av5 = s"xor(($av4), ($av4) // 65536)"
    s"""WITH cnt AS (
       |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1
       |),
       |s1 AS (SELECT k, r, ${0x9747b28cL} + r AS seed
       |       FROM cnt CROSS JOIN (SELECT unnest(range(0,4)) AS r)),
       |s2 AS (SELECT k, r, $body AS hm FROM s1),
       |s3 AS (SELECT k, r, CASE WHEN strlen(k) % 2 = 1 THEN $tail ELSE hm END AS ho FROM s2),
       |s4 AS (SELECT k, r, xor(ho, strlen(k)) AS hx FROM s3),
       |cells AS (SELECT k, r, ($av5) % 1024 AS cell FROM s4),
       |counters AS (
       |  SELECT cells.r, cells.cell, CAST(sum(cnt.n) AS BIGINT) AS c
       |  FROM cells JOIN cnt ON cnt.k = cells.k
       |  GROUP BY cells.r, cells.cell
       |),
       |est AS (
       |  SELECT cells.k, min(counters.c) AS est
       |  FROM cells JOIN counters ON counters.r = cells.r AND counters.cell = cells.cell
       |  GROUP BY cells.k
       |),
       |top AS (
       |  SELECT CAST(k AS BIGINT) AS user_id, k, n AS exact_n
       |  FROM cnt ORDER BY n DESC, user_id LIMIT 10
       |)
       |SELECT t.user_id, t.exact_n, e.est AS cms_n, e.est - t.exact_n AS overcount
       |FROM top t JOIN est e ON e.k = t.k
       |ORDER BY t.user_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_heavy_hitters" -> (eventsHeavyHitters _),
    "events_hll_mergeable" -> (eventsHllMergeable _),
    "events_bitmap_incremental" -> (eventsBitmapIncremental _),
    "events_bitmap_window" -> (eventsBitmapWindow _))

  val oracles: Map[String, String] = Map(
    "events_heavy_hitters" -> eventsHeavyHittersSql,
    "events_bitmap_incremental" -> Relational6.q61Sql,
    "events_bitmap_window" -> eventsBitmapWindowSql)
}
