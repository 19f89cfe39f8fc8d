package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TypedAggregators
import graft.operators.{Pipeline, TextFile}

/** SQL registration of custom expressions, typed Aggregator UDAFs, scalar
  * UDF surface, and pipe edge cases. */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("non-literal k in passjoin SQL functions raises the intended message") {
    Seq(("abc", 1)).toDF("text", "k").createOrReplaceTempView("intk_probe")
    val e = intercept[Exception] {
      spark.sql("SELECT passjoin_seg_keys(text, k) FROM intk_probe").collect()
    }
    // the foldable gate must fire with the user-facing message, not an
    // opaque unresolved/NPE internal error from eval() on a column ref
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    def failsWith(sql: String, message: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(chain(e).exists(t => Option(t.getMessage).exists(_.contains(message))),
        s"wanted '$message' from $sql, got: $e")
    }
    assert(chain(e).exists(t => Option(t.getMessage).exists(
      _.contains("k must be an integer literal"))),
      s"wanted the friendly literal-k message, got: $e")
    // shingle_hash_set has the same gate
    failsWith("SELECT shingle_hash_set(text, k) FROM intk_probe",
      "shingle_hash_set: k must be an integer literal")
    // a Long k is range-checked, never truncated (2^32 + 2 would read as 2)
    failsWith("SELECT passjoin_seg_keys('abcdefghij', 4294967298L)",
      "passjoin_seg_keys: k 4294967298 overflows Int")
    assert(spark.sql("SELECT size(passjoin_seg_keys('abcdefghij', 4L))")
      .head().getInt(0) == 5)
  }

  test("custom expressions are callable from SQL after registration") {
    val row = spark.sql(
      """SELECT
        |  simhash64(array('a','b','c')) AS sh,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  round(cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) AS cs,
        |  intersect_size_sorted(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS isz,
        |  quantize_int8(array(1.0d, -0.5d)) AS q8,
        |  max_abs(array(-3.0d, 2.0d)) AS ma,
        |  dot_int(array(127, -64), array(127, -64)) AS di,
        |  size(shingle_hash_set('a b c d', 3)) AS nsh,
        |  text_scan_stats('ab 12 !') AS tss,
        |  size(passjoin_seg_keys('abcdefghij', 4)) AS npj,
        |  arrays_overlap(passjoin_seg_keys('abcdefghij', 4),
        |    passjoin_sub_keys('abcdefghijx', 4)) AS pjhit""".stripMargin).head()
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[Double]("cs") == 1.0)
    assert(row.getAs[Int]("isz") == 2)
    assert(row.getSeq[Int](row.fieldIndex("q8")) == Seq(127, -64))
    assert(row.getAs[Double]("ma") == 3.0)
    assert(row.getAs[Long]("di") == 127L * 127 + 64L * 64)
    assert(row.getAs[Int]("nsh") == 2) // "a b c", "b c d"
    assert(row.getSeq[Int](row.fieldIndex("tss")) == Seq(3, 3, 2, 2, 2))
    assert(row.getAs[Int]("npj") == 5) // k+1 segments
    assert(row.getAs[Boolean]("pjhit")) // 1 append-edit ⇒ a segment matches
    // SQL result equals the Column-API result
    val viaColumn = Seq(Seq("a", "b", "c")).toDF("t")
      .select(graft.functions.SimHash.simhash64($"t")).head().getLong(0)
    assert(row.getAs[Long]("sh") == viaColumn)
  }

  test("shingleHashSet keeps non-\\s edge control chars (no String.trim)") {
    import graft.functions.{SimHash64Util, VectorFunctions}
    def sh(s: String): Seq[Long] = Seq(s).toDF("t")
      .select(VectorFunctions.shingleHashSet($"t", 3)).head().getSeq[Long](0)
    // \\u0001 is not \s: it stays inside the first token, exactly as the
    // oracle's regex tokenizer and the other kernels (TokenStatsUtil,
    // LangIdUtil) treat it — String.trim would have stripped it
    assert(sh("\u0001a b c") !== sh("a b c"))
    assert(sh("\u0001a b c") === Seq(SimHash64Util.fnv1a64("\u0001a b c".getBytes("UTF-8"))))
    // \s edge runs still never create an empty or phantom token
    assert(sh("  a b c \t\n") === sh("a b c"))
    assert(sh("") === Seq.empty)
    assert(sh(" \t ") === Seq.empty)
  }

  test("native quality_score is bitwise-equal to the Column-tree formula") {
    // the codegen'd kernel must reproduce the composed form EXACTLY —
    // a last-ulp divergence would flip prep_screen's threshold filter and
    // break the oracle hash; compare over the whole fixture corpus plus
    // adversarial edges (empty, whitespace-only, control chars, unicode)
    val corpus = graft.sources.Tables.documents(spark, sf).select($"text")
      .as[String].collect() ++ Seq("", "   ", "\t\n\f\r", "\u0001ab\u0001",
        "ümläut ÉTÉ 北京 the and of", "x" * 15000, "1234567890!!!###",
        "the a and of to in is it")
    val df = corpus.toSeq.toDF("text")
    val rows = df.select(
      graft.functions.TextFunctions.qualityScore($"text").as("native"),
      graft.functions.TextFunctions.qualityScoreComposed($"text").as("composed"))
      .as[(Double, Double)].collect()
    rows.zip(corpus).foreach { case ((n, c), t) =>
      assert(n == c, s"quality divergence on ${t.take(60)}: native=$n composed=$c")
    }
    // and via SQL
    val viaSql = spark.sql("SELECT quality_score('the quick brown fox')").head().getDouble(0)
    val viaCol = Seq("the quick brown fox").toDF("t")
      .select(graft.functions.TextFunctions.qualityScore($"t")).head().getDouble(0)
    assert(viaSql == viaCol)
  }

  test("textScanStats kernel equals the Column-tree formulas on corpus + edges") {
    import graft.functions.{TextFunctions => TF}
    val corpus = graft.sources.Tables.documents(spark, sf).select($"text")
      .as[String].collect() ++ Seq("", "   ", "\t\n\f\r", "a", "1",
        "abc123!!x", "a1b2 c3", "😀😀 ab 12 😀!", "\u0001ctrl\u0001 edge",
        "ümläut ÉTÉ 北京 the and", "x" * 5000, "!@#$%^&*()", " lead", "trail ")
    val df = corpus.toSeq.toDF("text")
    val st = TF.textScanStats($"text")
    val rows = df.select(
      st.getItem(0).as("k_tok"), TF.tokenCount($"text").as("c_tok"),
      st.getItem(1).as("k_bpe"), TF.bpeTokenCount($"text").as("c_bpe"),
      st.getItem(2).as("k_alpha"),
      (length($"text") - length(regexp_replace($"text", "[A-Za-z]", ""))).as("c_alpha"),
      st.getItem(3).as("k_digit"),
      (length($"text") - length(regexp_replace($"text", "[0-9]", ""))).as("c_digit"),
      st.getItem(4).as("k_ws"),
      (length($"text") - length(regexp_replace($"text", "\\s", ""))).as("c_ws"))
      .collect()
    rows.zip(corpus).foreach { case (r, t) =>
      for (i <- 0 until 10 by 2)
        assert(r.getInt(i) == r.getInt(i + 1),
          s"field ${r.schema(i).name} diverged on '${t.take(50)}': " +
            s"kernel=${r.getInt(i)} composed=${r.getInt(i + 1)}")
    }
  }

  test("charEntropy kernel: closed-form edges, code-point counting, null") {
    import graft.functions.{TextFunctions => TF}
    val rows = Seq("", "aaaa", "ab", "aabb", "abcd", "😀a", null)
      .toDF("t").select(TF.charEntropy($"t")).collect()
    assert(rows(0).getDouble(0) == 0.0, "empty -> 0")
    assert(rows(1).getDouble(0) == 0.0, "uniform -> 0")
    assert(rows(2).getDouble(0) == 1.0, "two equiprobable chars -> 1 bit")
    assert(rows(3).getDouble(0) == 1.0)
    assert(rows(4).getDouble(0) == 2.0, "four equiprobable chars -> 2 bits")
    // astral: one CODE POINT + 'a' = 1.0 bit; counting UTF-16 units would
    // give H({2 surrogates, a}) = 1.585 — pins the code-point contract
    assert(rows(5).getDouble(0) == 1.0, s"astral: ${rows(5).getDouble(0)}")
    assert(rows(6).isNullAt(0), "null in -> null out")
  }

  test("CountMinSketch: never under-counts, bounded over-count, partition-invariant") {
    import graft.functions.TypedAggregators.{CountMinSketch, CmsBuf}
    val depth = 4; val width = 1024
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.wordTokens($"text")).as("t"))
      .as[String]
    val agg = new CountMinSketch(depth, width).toColumn
    val sketch: CmsBuf = toks.repartition(7).select(agg).head()
    val exact = toks.groupBy($"t").count().as[(String, Long)].collect().toMap
    val n = exact.values.sum
    assert(sketch.n == n)
    val epsN = math.ceil(math.E / width * n).toLong
    exact.foreach { case (tok, c) =>
      val est = CountMinSketch.estimate(sketch, tok, depth, width)
      assert(est >= c, s"CMS under-counted '$tok': $est < $c")
      // ε-bound holds w.p. 1−e^-depth per key; with fixed seeds this corpus
      // is deterministic — a generous 2εN margin keeps the pin non-flaky
      assert(est <= c + 2 * epsN, s"CMS over-counted '$tok': $est vs $c (+$epsN)")
    }
    // unseen keys may collide into occupied cells but stay within the bound
    assert(CountMinSketch.estimate(sketch, "never-seen-token", depth, width) <= 2 * epsN)
    // partition layout must not change the sketch (same seeds, + commutes)
    val single: CmsBuf = toks.repartition(1).select(agg).head()
    assert(single.cells.sameElements(sketch.cells))
  }

  test("typed MeanVariance aggregator merges associatively across partitions") {
    val values = (1 to 1000).map(_.toDouble)
    val ds = spark.createDataset(values).repartition(7)
    val (mean, variance) = ds.select(
      new TypedAggregators.MeanVariance().toColumn).head()
    val expectedMean = values.sum / values.size
    val expectedVar = values.map(v => (v - expectedMean) * (v - expectedMean)).sum / values.size
    assert(math.abs(mean - expectedMean) < 1e-9)
    assert(math.abs(variance - expectedVar) < 1e-6)
  }

  test("typed TopK aggregator keeps bounded state per group") {
    val ds = spark.createDataset((1 to 100).map(i => (i % 4, i.toDouble)))
    val top = ds.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new TypedAggregators.TopK(3).toColumn)
      .collect().toMap
    assert(top(0) == Seq(100.0, 96.0, 92.0))
    assert(top(3) == Seq(99.0, 95.0, 91.0))
  }

  test("scalar udf surface works (discouraged but supported)") {
    val slugify = udf((s: String) => s.toLowerCase.replaceAll("[^a-z0-9]+", "-"))
    val got = Seq("Hello World!", "Spark/Graft").toDF("s")
      .select(slugify($"s")).as[String].collect().toSeq
    assert(got == Seq("hello-world-", "spark-graft"))
  }

  test("piping an empty dataset yields an empty result without failures") {
    // AQE plans zero tasks for an empty input: no commands run at all
    val empty = spark.emptyDataset[String].repartition(3)
    val out = Pipeline(empty).mapPartitionsThrough(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "wc -l < in.txt > out.txt").ds.collect()
    assert(out.isEmpty)
  }

  test("empty PARTITIONS still run the command over an empty mount") {
    // 2 rows spread over hash partitioning leave some of the 4 partitions
    // empty; each empty partition's command sees an empty in.txt
    val sparse = spark.createDataset(Seq("x", "y")).repartition(4)
    val out = Pipeline(sparse).mapPartitionsThrough(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "wc -l < in.txt > out.txt").ds.collect()
    assert(out.map(_.trim.toInt).sum == 2)
    assert(out.length == 4) // one count per partition, empty ones included
  }

  test("treeReduce on a single-partition dataset is the pre-combine only") {
    val ds = spark.createDataset(Seq("1", "2", "3")).coalesce(1)
    val out = Pipeline(ds).treeReduce(
      TextFile("/in.txt"), TextFile("/out.txt"),
      "awk '{s+=$1} END {print s}' in.txt > out.txt").ds.collect()
    assert(out.toSeq == Seq("6"))
  }
}
