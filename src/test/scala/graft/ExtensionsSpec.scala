package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make the custom strategy + SQL functions available
  * in a session configured ONLY via spark.sql.extensions — the zero-user-code
  * deployment path. Uses its own session (extensions apply at build time). */
class ExtensionsSpec extends AnyFunSuite {

  // getOrCreate returns any existing session and would silently skip the
  // extensions config — clear active/default first to force a NEW session
  // (over the JVM's single SparkContext), and clear again after so other
  // suites' shared TestSpark session is unaffected by this one.
  // NOTE spark.sql.extensions is STATIC: it binds to the SparkContext, not
  // the session, so every context creator in test scope sets it (TestSpark,
  // AqeSkewSpec, here) — otherwise this suite goes red or green depending
  // on which suite happens to create the JVM's context first.
  private lazy val spark = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    s
  }

  test("SQL functions are injected without calling GraftFunctions.register") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       dot_product(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS d,
        |       language_id('the cat and the dog was here') AS l,
        |       dot_int(quantize_int8(array(1.0d, -0.5d)), array(1, 1)) AS q,
        |       top_token_count('a b a c a') AS t,
        |       quality_score('') AS qs,
        |       text_scan_stats('ab 12 !') AS ts,
        |       char_entropy('abab') AS ce,
        |       pq_adc_score(array(1, 0), array(0.0d, 2.0d, 3.0d, 4.0d), 2) AS pq""".stripMargin)
      .head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 23.0)
    assert(r.getString(2) == "en")
    assert(r.getLong(3) == 63L) // 127 + (-64)
    assert(r.getLong(4) == 3L)
    assert(r.getDouble(5) == 0.0)
    assert(r.getSeq[Int](6) == Seq(3, 3, 2, 2, 2))
    assert(r.getDouble(7) == 1.0)
    assert(r.getDouble(8) == 5.0) // tbl[0*2+1] + tbl[1*2+0] = 2 + 3
    // non-literal ks must fail with the intended message, not an eval NPE
    val e = intercept[Exception](spark.sql(
      "SELECT pq_adc_score(array(0), array(1.0d), cast(id AS INT)) FROM range(1)"))
    assert(e.getMessage.contains("ks must be an integer literal"), e.getMessage)
    // any integral foldable works, not just an INT literal — 2L is what a
    // user who writes CAST(2 AS BIGINT) actually hands the builder
    val big = spark.sql(
      "SELECT pq_adc_score(array(1, 0), array(0.0d, 2.0d, 3.0d, 4.0d), CAST(2 AS BIGINT))")
      .head().getDouble(0)
    assert(big == 5.0)
    // wrong arity fails with an arity message, not an IndexOutOfBounds
    val arity = intercept[Exception](spark.sql(
      "SELECT pq_adc_score(array(0), array(1.0d))"))
    assert(arity.getMessage.contains("takes 3 arguments"), arity.getMessage)
    // a mis-shaped call names the function, not a bare array index error
    val shape = intercept[Exception](spark.sql(
      "SELECT pq_adc_score(array(7), array(1.0d, 2.0d), 2)").head())
    assert(shape.getMessage.contains("pq_adc_score"), shape.getMessage)
    // the one setup path carries all 18 functions, MaRe's command_reduce too
    Seq("simhash64", "dot_product", "cosine_sim", "intersect_size_sorted",
      "quantize_int8", "max_abs", "dot_int", "language_id", "quality_score",
      "top_token_count", "text_scan_stats", "char_entropy", "deflated_size",
      "pq_adc_score", "shingle_hash_set", "passjoin_seg_keys",
      "passjoin_sub_keys", "command_reduce").foreach { n =>
      assert(spark.catalog.functionExists(n), s"$n is not injected")
    }
    val more = spark.sql(
      """SELECT simhash64(array('a')) = simhash64(array('a')) AS s,
        |       intersect_size_sorted(array(1L, 2L), array(2L)) AS i,
        |       max_abs(array(-2.0d, 1.0d)) AS m,
        |       deflated_size('aaaaaaaa') > 0 AS dz,
        |       size(shingle_hash_set('a b c d')) AS sh,
        |       size(passjoin_seg_keys('abcdefghij', 4)) AS seg,
        |       size(passjoin_sub_keys('abcdefghij', 4)) > 0 AS sub""".stripMargin)
      .head()
    assert(more.toSeq == Seq(true, 1, 2.0, true, 2, 5, true))
    val reduced = spark.sql(
      "SELECT command_reduce(CAST(id AS STRING), 'sort -n in.txt | head -1 > out.txt') " +
        "FROM range(5)").head().getSeq[String](0)
    assert(reduced == Seq("0"))
  }

  test("as-of strategy is planned without calling AsOf.register") {
    import spark.implicits._
    val left = Seq(("a", 10L), ("a", 20L)).toDF("k", "t")
    val right = Seq(("a", 5L, "x"), ("a", 15L, "y")).toDF("k", "rt", "v")
    val plan = graft.plans.AsOf.plan(left, right, "k", "t", "rt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinExec") || plan.contains("AsOfJoin"),
      s"custom exec not planned:\n$plan")
  }
}
