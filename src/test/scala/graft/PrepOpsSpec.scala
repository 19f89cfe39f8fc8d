package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions => TF}
import graft.queries.{DataPipeline, Dedup, TextAnalysis}
import graft.sources.Tables

/** Round-5 prep/text operators: properties sharper than (or inexpressible
  * by) the DuckDB hash check — independent recomputes from raw text,
  * structural invariants, and cross-operator consistency. */
class PrepOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tokensOf(text: String): Seq[String] = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    if (norm.isEmpty) Seq.empty else norm.split(' ').toSeq
  }

  test("text_repetition matches a driver-side recompute from raw text") {
    val got = TextAnalysis.textRepetition(spark, sf)
      .select($"doc_id", $"n_tokens", $"top_token_frac", $"dup_trigram_frac",
        $"repetitive")
      .as[(Long, Long, Double, Double, Boolean)].collect()
    val raw = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got.length == raw.size, "one row per document")
    got.foreach { case (id, nTok, topFrac, dupFrac, rep) =>
      val toks = tokensOf(raw(id))
      assert(nTok == toks.length, s"doc $id token count")
      val expTop = if (toks.isEmpty) 0.0
        else toks.groupBy(identity).values.map(_.size).max.toDouble / toks.length
      val tris = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val expDup = if (tris.isEmpty) 0.0
        else 1.0 - tris.distinct.length.toDouble / tris.length
      assert(topFrac == expTop, s"doc $id top-token fraction")
      assert(dupFrac == expDup, s"doc $id dup-trigram fraction")
      assert(rep == (expTop > 0.2 || expDup > 0.05), s"doc $id flag")
    }
    // thresholds must split the corpus, or the flag pins nothing
    assert(got.exists(_._5) && got.exists(!_._5),
      "fixture corpus should contain both repetitive and clean docs")
  }

  test("prep_screen keeps exactly the docs clearing the quality threshold") {
    val kept = DataPipeline.qualityScreen(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val scored = Tables.documents(spark, sf)
      .select($"doc_id", TF.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect()
    val expect = scored.filter(_._2 >= 0.75).map(_._1).toSet
    assert(kept == expect, "screen output != engine-scored threshold set")
    assert(kept.nonEmpty && kept.size < scored.length,
      "threshold should be strictly inside the corpus quality range")
  }

  test("exact outlier cutoffs are bitwise-identical to Catalyst percentile()") {
    // the r14 window-rank formulation (bounded memory: sort spills, no
    // per-group value multiset) must reproduce Percentile.getPercentile
    // bit for bit — on the fixture decade AND on synthetic frames covering
    // ties, fractional interpolation, single-row groups, nulls and a NULL key
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val li = Tables.lineitem(spark, sf)
    val want = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.99)").as("pct"))
      .as[(String, Double)].collect().toMap
    val got = DataPipeline
      .exactPercentileCutoffs(li, "l_returnflag", "l_extendedprice", 0.99)
      .as[(String, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, e) =>
      assert(bits(got(k)) == bits(e), s"sf cutoff $k: ${got(k)} != $e") }

    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      val g = s"g${i % 7}"
      val v: Option[Double] =
        if (i % 97 == 0) None
        else if (i % 3 == 0) Some((i % 13).toDouble) // heavy ties
        else Some(rnd.nextDouble() * 1000.0)
      (g, v)
    } ++ Seq(("solo", Some(42.5)), ("allnull", Option.empty[Double])) ++
      // the NULL-key group: percentile() returns a row for it too
      (0 until 41).map(i => (null: String, Option((i % 9) * 1.25)))
    val df = rows.toDF("k", "v")
    Seq(0.5, 0.99, 0.9137).foreach { p =>
      val w = df.groupBy($"k").agg(expr(s"percentile(v, $p)").as("pct"))
        .filter($"pct".isNotNull).as[(String, Double)].collect().toMap
      val g = DataPipeline.exactPercentileCutoffs(df, "k", "v", p)
        .as[(String, Double)].collect().toMap
      assert(g.keySet == w.keySet, s"p=$p group set")
      w.foreach { case (k, e) =>
        assert(bits(g(k)) == bits(e), s"p=$p $k: ${g(k)} != $e") }
    }
  }

  test("approx outlier cutoffs stay within 2% of exact and drift few rows") {
    // the stated 100 TB swap (approx_percentile, accuracy 10000) must exist
    // in code AND be bounded: per-group cutoff within 2% relative of the
    // exact p99, and the selected row set within 10% symmetric difference
    val exact = DataPipeline.outlierFilter(spark, sf)
    val approx = DataPipeline.outlierFilterTuned(spark, sf, approx = true)
    val exactCuts = exact.select($"l_returnflag", $"p99").distinct()
      .as[(String, Double)].collect().toMap
    val approxCuts = approx.select($"l_returnflag", $"p99").distinct()
      .as[(String, Double)].collect().toMap
    assert(exactCuts.keySet == approxCuts.keySet)
    exactCuts.foreach { case (flag, e) =>
      val a = approxCuts(flag)
      assert(math.abs(a - e) / e <= 0.02, s"cutoff drift for $flag: $e vs $a")
    }
    val eRows = exact.select($"l_returnflag", $"l_orderkey", $"l_linenumber",
      $"l_extendedprice").as[(String, Long, Long, Double)].collect().toSet
    val aRows = approx.select($"l_returnflag", $"l_orderkey", $"l_linenumber",
      $"l_extendedprice").as[(String, Long, Long, Double)].collect().toSet
    val drift = ((eRows -- aRows) ++ (aRows -- eRows)).size.toDouble
    assert(drift / eRows.size <= 0.10, s"row drift ${drift.toInt}/${eRows.size}")
  }

  test("approx datacard median within 2% of exact; all other columns equal") {
    val exact = DataPipeline.datacard(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = DataPipeline.datacardTuned(spark, sf, approx = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    exact.foreach { case (source, e) =>
      val a = approx(source)
      // same aggregate structure: every exact column except the median is
      // untouched by the swap
      Seq("n_docs", "total_tokens", "total_chars", "min_chars", "max_chars",
        "n_langs", "avg_chars").foreach { c =>
        assert(e.getAs[Any](c) == a.getAs[Any](c), s"$source.$c diverged")
      }
      val ep50 = e.getAs[Double]("p50_chars")
      val ap50 = a.getAs[Double]("p50_chars")
      assert(math.abs(ap50 - ep50) / ep50 <= 0.02,
        s"$source median drift: $ep50 vs $ap50")
    }
  }

  test("prep_datacard agrees with text_stats aggregated per source") {
    val card = DataPipeline.datacard(spark, sf)
      .select($"source", $"n_docs", $"total_tokens", $"total_chars")
      .as[(String, Long, Long, Long)].collect().toMap2
    val fromStats = Tables.documents(spark, sf)
      .select($"source", length($"text").cast("long").as("nc"),
        TF.tokenCount($"text").cast("long").as("nt"))
      .groupBy($"source")
      .agg(count(lit(1)), sum($"nt"), sum($"nc"))
      .as[(String, Long, Long, Long)].collect().toMap2
    assert(card == fromStats, "datacard totals diverge from per-doc stats")
  }

  test("prep_stratified: exact-k per source, deterministic, members exist") {
    val k = 5
    val sample = DataPipeline.stratifiedSample(spark, sf, k)
      .select($"doc_id", $"source", $"rn").as[(Long, String, Long)].collect()
    val sizes = Tables.documents(spark, sf).groupBy($"source")
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    sample.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length == math.min(k, sizes(src).toInt),
        s"$src sample size != min(k, stratum size)")
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"$src ranks are not 1..n")
    }
    val again = DataPipeline.stratifiedSample(spark, sf, k)
      .select($"doc_id", $"source", $"rn").as[(Long, String, Long)].collect()
    assert(sample.sortBy(r => (r._2, r._3)).toSeq ==
      again.sortBy(r => (r._2, r._3)).toSeq, "sample changed between runs")
  }

  test("prep_decontaminate matches a driver-side 8-gram intersection") {
    val got = DataPipeline.decontaminate(spark, sf)
      .select($"train_doc", $"n_test_docs", $"n_collisions")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def split(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val b = f"${d(0) & 0xff}%02x"
      if (b < "cc") "train" else if (b < "e6") "val" else "test"
    }
    def grams(text: String): Set[String] =
      tokensOf(text).sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val train = docs.filter(d => split(d._1) == "train")
      .map(d => d._1 -> grams(d._2))
    val test = docs.filter(d => split(d._1) == "test")
      .map(d => d._1 -> grams(d._2))
    val expect = train.flatMap { case (tid, tg) =>
      val hits = test.map { case (sid, sg) => sid -> (tg & sg).size }
        .filter(_._2 > 0)
      if (hits.isEmpty) None
      else Some(tid -> ((hits.length.toLong, hits.map(_._2).sum.toLong)))
    }.toMap
    assert(got == expect, "decontamination set diverges from brute force")
    assert(got.nonEmpty, "fixtures should contain cross-split leakage")
  }

  test("dedup_canonical: same clusters as dedup_clusters, argmax member") {
    val canon = Dedup.dedupCanonical(spark, sf)
      .select($"cluster_rep", $"n_members", $"canonical_doc", $"best_quality")
      .as[(Long, Long, Long, Double)].collect()
    val clusters = Dedup.dedupClusters(spark, sf)
      .select($"cluster_rep", $"n_members").as[(Long, Long)].collect().toMap
    assert(canon.map(c => c._1 -> c._2).toMap == clusters,
      "canonical clustering differs from dedup_clusters")
    val labels = Dedup.ccLabels(spark, sf, reliableCheckpoint = false)
      .select($"id", $"label").as[(Long, Long)].collect()
    val quality = Tables.documents(spark, sf)
      .select($"doc_id", TF.qualityScore($"text")).as[(Long, Double)]
      .collect().toMap
    val members = labels.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    canon.foreach { case (rep, _, doc, bestQ) =>
      val ms = members(rep)
      assert(ms.contains(doc), s"cluster $rep canonical $doc not a member")
      val expect = ms.map(m => (quality(m), m))
        .maxBy { case (q, m) => (q, -m) }
      assert((bestQ, doc) == expect, s"cluster $rep argmax mismatch")
    }
    // at least one cluster must pick a canonical that ISN'T the min id,
    // otherwise this operator is indistinguishable from dedup_clusters
    assert(canon.exists { case (rep, n, doc, _) => n > 1 && doc != rep },
      "no cluster exercises the quality-based (non-min-id) selection")
  }

  test("prep_corpus is exactly the intersection of its standalone stages") {
    val corpus = DataPipeline.prepCorpus(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val canonical = Dedup.dedupCanonical(spark, sf)
      .select($"canonical_doc").as[Long].collect().toSet
    val screened = DataPipeline.qualityScreen(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val train = DataPipeline.splitAssign(spark, sf)
      .filter($"split" === "train").select($"doc_id").as[Long].collect().toSet
    val mixed = DataPipeline.mixWeighted(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(corpus == (canonical & screened & train & mixed),
      "composed pipeline diverges from the standalone operators")
    assert(corpus.nonEmpty && corpus.size < canonical.size,
      "each stage should strictly filter at this sf")
  }

  test("dedup_fuzzy matches a driver-side brute-force edit distance") {
    val got = Dedup.dedupFuzzy(spark, sf)
      .select($"doc_a", $"doc_b", $"distance").as[(Long, Long, Long)]
      .collect().toSet
    val norms = Tables.documents(spark, sf)
      .select($"doc_id", TF.normalizeText($"text")).as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val expect = (for {
      (ida, ta) <- norms; (idb, tb) <- norms
      if ida < idb && math.abs(ta.length - tb.length) <= 4
      d = lev(ta, tb) if d <= 4
    } yield (ida, idb, d.toLong)).toSet
    assert(got == expect, "fuzzy pairs diverge from brute force")
    assert(got.nonEmpty, "fixtures should contain edit-distance near-dups")
  }

  test("SharedDedupLabels: ONE CC computation serves clusters/canonical/corpus") {
    import graft.queries.SharedDedupLabels
    val before = Dedup.ccComputations.get()
    val shared = new SharedDedupLabels(spark, sf)
    try {
      val clusters = shared.clusters.collect().toSeq
      val canonical = shared.canonical.collect().toSeq
      val corpus = shared.corpus.collect().toSeq
      // all three consumers drained, exactly one CC loop ran
      assert(Dedup.ccComputations.get() - before == 1,
        "shared handle must compute connected components exactly once")
      // and each output is identical to its standalone query's
      assert(clusters == Dedup.dedupClusters(spark, sf).collect().toSeq)
      assert(canonical == Dedup.dedupCanonical(spark, sf).collect().toSeq)
      assert(corpus == DataPipeline.prepCorpus(spark, sf).collect().toSeq)
      // the standalone queries each paid their own loop (scoped, not global)
      assert(Dedup.ccComputations.get() - before == 4)
    } finally shared.close()
  }

  test("PassJoin ≡ band-join fuzzy pairs on adversarial edit fixtures") {
    // every structural position the segment filter must survive: head/tail
    // edits, pure inserts at Δ=k, equal-length substitutions, edits straddling
    // segment boundaries, tiny strings (< k+1 chars incl. empty), astral
    // code points (code-point vs UTF-16 offset desync), exact duplicates
    val base = "the quick brown fox jumps over the lazy dog by the river bank"
    val fixtures = Seq(
      0L -> base,
      1L -> base.drop(2),                                 // head deletion ×2
      2L -> (base + " ok!"),                              // tail insert ×4 (= k)
      3L -> base.updated(5, 'x').updated(45, 'y'),        // spread substitutions
      4L -> (base.take(31) + "__" + base.drop(33)),       // mid-boundary edit
      5L -> base,                                         // exact dup of 0
      6L -> "abc", 7L -> "abcd", 8L -> "", 9L -> "zzzzzzz", // tiny block
      10L -> "😀😀 abc def 😀", // astral
      11L -> "😀 abc def 😀",         // astral, Δ=2 cp
      12L -> base.reverse)                                // no pair expected
    val n = fixtures.toDF("doc_id", "text")
      .select($"doc_id", TF.normalizeText($"text").as("t"))
      .withColumn("len", length($"t"))
    for (k <- Seq(2, 4)) {
      val pass = Dedup.passJoinPairs(n, k)
        .as[(Long, Long, Long)].collect().toSet
      val band = Dedup.bandFuzzyPairs(n, k, bucketWidth = 8)
        .as[(Long, Long, Long)].collect().toSet
      assert(pass == band,
        s"k=$k: passjoin=${pass.diff(band)} band-only=${band.diff(pass)}")
      assert(pass.exists(_._3 == 0) && pass.exists(_._3 > 0),
        s"k=$k: fixtures should produce both exact and near pairs")
    }
    // the plan really is the segment equi-join, not a cartesian/band join
    val plan = Dedup.passJoinPairs(n, 4).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "PassJoin candidate generation must not plan a cartesian product")
  }

  test("dedup_semantic: clusters close over cosine edges, members conserved") {
    val clusters = Dedup.dedupSemantic(spark, sf)
      .select($"cluster_rep", $"n_members").as[(Long, Long)].collect()
    val ids = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id").as[Long].collect()
    assert(clusters.map(_._2).sum == ids.length,
      "every vector in exactly one cluster")
    assert(clusters.map(_._1).distinct.length == clusters.length)
    // edge consistency: both endpoints of every emitted cosine edge must
    // land in the same cluster (the transitive closure actually closed)
    val pairs = Dedup.embeddingCosinePairs(spark, sf, threshold = 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixtures should yield at least one cosine edge")
    // recompute labels by driver-side union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.groupBy(find).map { case (_, ms) =>
      ms.min -> ms.length.toLong
    }
    assert(clusters.toMap == expected, "CC labels diverge from union-find")
    assert(clusters.exists(_._2 > 1), "no multi-member semantic cluster")
  }

  test("prep_quality_mix keeps exactly the docs a driver-side recompute keeps") {
    val kept = DataPipeline.qualityMix(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val scored = Tables.documents(spark, sf)
      .select($"doc_id", TF.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect()
    def md5hex4(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(4)
    val expected = scored.collect { case (id, q)
        if md5hex4(s"qmix:$id") < (if (math.floor(q * 65536) >= 65536) "g000"
          else "%04x".format(math.floor(q * 65536).toLong)) => id }.toSet
    assert(kept == expected,
      s"engine-only=${(kept -- expected).take(5)} driver-only=${(expected -- kept).take(5)}")
    // the sampler is doing its job: something kept, something dropped
    assert(expected.nonEmpty && expected.size < scored.length)
  }

  test("prep_method_card: recall numbers re-derive and operators exist") {
    val card = DataPipeline.methodCard(spark, sf)
      .select($"operator", $"expected_recall").as[(String, Option[Double])]
      .collect().toMap
    // every operator the card caveats must be a real driver query — the
    // linkage that keeps the card from drifting into fiction
    val unknown = card.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"card rows for nonexistent operators: $unknown")
    // independent recomputation of the banding recall models (math.pow here
    // vs left-assoc multiplication in the card — 1e-12 covers the assoc gap)
    val mh = 1.0 - math.pow(1.0 - math.pow(0.8, 4), 8)
    assert(math.abs(card("dedup_minhash_pairs").get - mh) < 1e-12)
    val p = 1.0 - math.acos(0.4) / math.Pi
    val sign = 1.0 - math.pow(1.0 - math.pow(p, 4), 4)
    assert(math.abs(card("dedup_semantic").get - sign) < 1e-12)
    // the honesty headline: semantic dedup edges are ~coin-flip recall AT
    // the threshold, and the card says so instead of hiding it
    assert(card("dedup_semantic").get > 0.45 && card("dedup_semantic").get < 0.55)
    // ANN rows carry the spec floors, not inflated claims
    assert(card("sim_lsh_topk").get == 0.85 && card("sim_ivf_topk").get == 0.2)
  }

  /** The naive single-window form of the domain cap — the semantic reference
    * the bucketed distributed prefix sum must reproduce exactly. */
  private def naiveDomainCap(docs: org.apache.spark.sql.DataFrame, budget: Long) = {
    val draw = md5(concat_ws(":", lit("cap"), $"doc_id", $"source"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"draw", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select($"doc_id", $"source",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"))
      .withColumn("draw", draw)
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"cum_before" < budget)
      .select($"doc_id", $"source", $"n_tokens", $"cum_before")
  }

  test("prep_domain_cap: bucketed prefix sum ≡ naive global window on corpus") {
    val got = DataPipeline.domainCap(spark, sf)
      .as[(Long, String, Long, Long)].collect().toSet
    val ref = naiveDomainCap(Tables.documents(spark, sf), 1300)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == ref,
      s"only=${got.diff(ref).take(5)} missing=${ref.diff(got).take(5)}")
    // budget invariants: every kept doc started under budget; every source
    // is represented (the >= 1 doc guarantee); kept-whole sources intact
    assert(got.forall(_._4 < 1300))
    val sources = Tables.documents(spark, sf).select($"source")
      .distinct().as[String].collect().toSet
    assert(got.map(_._2) == sources, "every domain keeps at least one doc")
  }

  test("prep_token_budget: bin decomposition ≡ naive global sort + running sum") {
    import org.apache.spark.sql.expressions.Window
    val budget = 8000L
    val got = DataPipeline.tokenBudget(spark, sf, budget)
      .as[(Long, Double, Long, Long)].collect()
    // the naive form the 100 TB decomposition must reproduce exactly: ONE
    // global window in (quality DESC, doc_id) order
    val w = Window.orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = Tables.documents(spark, sf)
      .select($"doc_id",
        TF.textScanStats($"text").getItem(0).cast("long").as("n_tokens"),
        TF.qualityScore($"text").as("quality"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"cum_before" < budget)
      .select($"doc_id", $"quality", $"n_tokens", $"cum_before")
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(got.toSet == ref,
      s"only=${got.toSet.diff(ref).take(5)} missing=${ref.diff(got.toSet).take(5)}")
    // prefix property: the kept set is exactly the head of the full
    // quality-ranked corpus — no doc outside the prefix sneaks in
    val ranked = Tables.documents(spark, sf)
      .select($"doc_id", TF.qualityScore($"text").as("quality"))
      .as[(Long, Double)].collect()
      .sortBy { case (id, q) => (-q, id) }.map(_._1)
    assert(got.map(_._1).toSet == ranked.take(got.length).toSet,
      "kept set is the quality-ranked prefix")
    // budget semantics: every kept doc STARTED under budget, and the kept
    // tokens cross it (the prefix rule) unless the corpus ran out
    assert(got.forall(_._4 < budget))
    val totalKept = got.map(_._3).sum
    assert(totalKept >= budget || got.length == ranked.length,
      s"kept $totalKept tokens of a $budget budget without exhausting the corpus")
  }

  test("prep_domain_cap caps a mega-domain and keeps the hash-order prefix") {
    // one hot domain (200 docs x 8 tokens) + one tiny (3 docs): the cap must
    // trim the hot one to the md5-order prefix and pass the tiny one whole
    val dir = java.nio.file.Files.createTempDirectory("graft_cap_").toString
    val rows =
      (0 until 200).map(i => (i.toLong, s"doc $i alpha beta gamma delta epsilon zeta", "en", "hot", 40L)) ++
      (200 until 203).map(i => (i.toLong, s"tiny doc $i", "en", "cold", 10L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val budget = 100L
    val got = DataPipeline.domainCap(spark, dir, budget)
      .as[(Long, String, Long, Long)].collect()
    val ref = naiveDomainCap(Tables.documents(spark, dir), budget)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got.toSet == ref)
    val (hot, cold) = got.partition(_._2 == "hot")
    assert(cold.length == 3, "under-budget domain keeps every doc")
    // hot: 8 tokens/doc, budget 100 -> exactly ceil(100/8) = 13 docs kept
    assert(hot.length == 13, s"hot kept ${hot.length}")
    // and they are the md5-order prefix, recomputed driver-side
    val expectIds = (0 until 200).map { i =>
      val key = s"cap:$i:hot"
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (m, i.toLong)
    }.sorted.take(13).map(_._2).toSet
    assert(hot.map(_._1).toSet == expectIds)
  }

  test("text_entropy flags match recomputed entropy; kernel ≡ driver fold") {
    val got = graft.queries.TextAnalysis.textEntropy(spark, sf)
      .as[(Long, Long, Double, String)].collect()
    val raw = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(got.length == raw.size)
    got.foreach { case (id, nChars, ent, flag) =>
      val s = raw(id)
      assert(nChars == s.codePointCount(0, s.length))
      val n = s.codePointCount(0, s.length).toDouble
      val h = -s.codePoints().toArray.groupBy(identity).values
        .map { g => val p = g.length / n; p * (math.log(p) / math.log(2)) }.sum
      // ent passed through the query's round(_, 6) — compare on that grid
      assert(math.abs(ent - h) < 5.1e-7, s"doc $id entropy $ent vs $h")
      val expFlag = if (h < 2.0) "low_entropy" else if (h > 5.2) "high_entropy" else "ok"
      assert(flag == expFlag, s"doc $id flag")
    }
  }

  test("text_novelty attributes each gram's first occurrence to the smallest doc_id") {
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8" // exactly one 8-gram
    val dir = docsFixture(Seq(
      (0L, eight, "a"),        // introduces the gram
      (1L, eight, "a"),        // pure echo of doc 0 -> novelty 0
      (2L, s"$eight w9", "a"), // grams w1..w8 (seen) and w2..w9 (novel)
      (3L, "short text", "a"), // < 8 tokens -> no grams -> absent
      (4L, eight.toUpperCase + "  ", "a"))) // normalizer: echo, not novel
    val got = TextAnalysis.textNovelty(spark, dir)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 1L, 1L, 1.0)))
    assert(got(1L) == ((1L, 1L, 0L, 0.0)))
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))
    assert(!got.contains(3L), "sub-8-token docs have no novelty row")
    assert(got(4L) == ((4L, 1L, 0L, 0.0)),
      "case/whitespace-normalized echo must not count as novel")
  }

  test("prep_upsert resolves every id to the action its membership implies") {
    val ids = Tables.documents(spark, sf).select($"doc_id")
      .as[Long].collect().toSet
    val got = DataPipeline.upsert(spark, sf)
      .select($"doc_id", $"action").as[(Long, String)].collect()
    val expected = ids.flatMap { id =>
      val inSnap = id % 10 != 0
      val inDelta = id % 3 == 0
      val revised = id % 6 == 0
      (inSnap, inDelta) match {
        case (false, true)  => Some(id -> "insert")
        case (true, false)  => Some(id -> "keep")
        case (true, true)   => Some(id -> (if (revised) "update" else "noop"))
        case (false, false) => None // not in either side of the merge
      }
    }
    assert(got.length == got.map(_._1).distinct.length, "one row per doc")
    assert(got.toSet == expected)
    // noop rows carry the snapshot's unrevised content hash
    val hashes = DataPipeline.upsert(spark, sf)
      .filter($"action" === "noop").select($"doc_id", $"content_hash")
      .as[(Long, String)].collect().toMap
    val raw = Tables.documents(spark, sf)
      .filter($"doc_id".isInCollection(hashes.keys.toSeq))
      .select($"doc_id", md5($"text")).as[(Long, String)].collect().toMap
    assert(hashes == raw)
  }

  test("qualityScreenObserved: gate counters are free riders on the one action") {
    val (df, gate) = DataPipeline.qualityScreenObserved(spark, sf)
    val (rows, action) = metrics.measure("quality_screen_action")(df.collect())
    assert(action.total.jobs > 0, "the collect must have run Spark jobs")
    // reading the gate launches NO further jobs: the metrics rode the
    // scan/filter stages of the action itself
    val ((nIn, nKept, tokensKept), read) = metrics.measure("quality_screen_gate")(
      (gate.nIn, gate.nKept, gate.tokensKept))
    assert(read.total.jobs == 0, "Observation.get must not trigger additional Spark jobs")
    assert(action.untagged == 0 && read.untagged == 0,
      s"${action.untagged + read.untagged} jobs ran outside the scopes' tags")
    // counters equal independent recomputes
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(nIn == texts.length.toLong)
    assert(nKept == rows.length.toLong)
    val keptIds = rows.map(_.getLong(0)).toSet
    val expTokens = texts.filter(t => keptIds(t._1))
      .map(t => tokensOf(t._2).length.toLong).sum
    assert(tokensKept == expTokens,
      s"tokens_kept $tokensKept vs recomputed $expTokens")
    // rows equal the driver-facing screen (modulo its presentation sort)
    val screenRows = DataPipeline.qualityScreen(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      == screenRows)
  }

  private def docsFixture(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_").toString
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_lines strips cross-doc boilerplate, keeps order, spares df<minDf") {
    val banner = "subscribe to our newsletter"
    val dir = docsFixture(Seq(
      (0L, s"alpha one\n$banner\nalpha two", "a"),
      (1L, s"$banner\nbeta body\n\nbeta end", "a"),
      (2L, s"gamma start\n$banner", "a"),
      // the banner repeated TWICE in one doc but nowhere else -> df=1, kept
      (3L, "rare line\nrare line\ndelta", "a"),
      (4L, banner, "a"),                      // doc that becomes empty
      (5L, "unique only", "a")))
    val got = Dedup.dedupLines(spark, dir)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(0L) == ((3L, 2L, "alpha one\nalpha two")))
    // empty interior line preserved (df counting ignores blank lines)
    assert(got(1L) == ((4L, 3L, "beta body\n\nbeta end")))
    assert(got(2L) == ((2L, 1L, "gamma start")))
    assert(got(3L) == ((3L, 3L, "rare line\nrare line\ndelta")),
      "within-doc repetition is not cross-doc boilerplate")
    assert(got(4L) == ((1L, 0L, "")), "all-boilerplate doc empties")
    assert(got(5L) == ((1L, 1L, "unique only")))
  }

  test("prep_negative_pairs: deterministic draw, self-free, near-dups excluded") {
    val got = DataPipeline.negativePairs(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    // driver recompute of the partner arithmetic for every anchor/slot
    val n = Tables.documents(spark, sf).agg(max($"doc_id")).head().getLong(0) + 1
    got.foreach { case (a, slot, neg, jac) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"neg:$a:$slot".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        md.take(4).map("%02x".format(_)).mkString, 16)
      assert(neg == (a + h % (n - 1) + 1) % n, s"anchor $a slot $slot")
      assert(neg != a, "never self-paired")
      assert(jac < 0.5, "verified non-similar")
    }
    assert(got.map(_._2).toSet == Set(1L, 2L))
    // rerun is bit-identical (no RNG state)
    val again = DataPipeline.negativePairs(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.sameElements(again))
  }

  test("prep_negative_pairs drops a planted near-dup partner") {
    // ids 0..3; doc 1's text duplicates whichever partner doc 1 draws, so
    // that (1, slot) pair must be filtered by the jaccard verify
    val n = 4L
    val base = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "how vexingly quick daft zebras jump around here",
      "sphinx of black quartz judge my vow tonight ok")
    def partnerOf(a: Long, slot: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"neg:$a:$slot".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
      (a + h % (n - 1) + 1) % n
    }
    val victim = partnerOf(1L, 1L)
    val texts = base.indices.map { i =>
      if (i == 1) base(victim.toInt) else base(i)
    }
    val dir = docsFixture(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "a") })
    val got = DataPipeline.negativePairs(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(!got.exists(p => p._1 == 1L && p._2 == 1L),
      s"pair (1, slot 1) -> doc $victim is a planted duplicate and must drop")
    assert(got.exists(_._1 == 0L), "unrelated anchors keep their negatives")
  }

  test("prep_epoch_order: per-shard bijection, epoch independence, determinism") {
    val e0 = DataPipeline.epochOrder(spark, sf, epoch = 0)
      .as[(Long, String, Long)].collect()
    val n = Tables.documents(spark, sf).count()
    assert(e0.length == n, "every doc gets exactly one position")
    // positions within each shard are exactly 0..count-1 (bijection)
    e0.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $shard positions must be a dense 0-based range")
    }
    // a different epoch is a different permutation of the SAME docs
    val e1 = DataPipeline.epochOrder(spark, sf, epoch = 1)
      .as[(Long, String, Long)].collect()
    assert(e1.map(_._1).sorted.sameElements(e0.map(_._1).sorted))
    val order0 = e0.sortBy(r => (r._2, r._3)).map(_._1).toSeq
    val order1 = e1.sortBy(r => (r._2, r._3)).map(_._1).toSeq
    assert(order0 != order1, "epochs must reshuffle")
    // rerun of the same epoch is bit-identical
    val again = DataPipeline.epochOrder(spark, sf, epoch = 0)
      .as[(Long, String, Long)].collect()
    assert(e0.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("prep_pack_shuffled packs exactly the epoch-0 permutation, dense packs") {
    val packed = DataPipeline.packShuffled(spark, sf)
      .as[(Long, String, Long, Long, Long)].collect()
    val order = DataPipeline.epochOrder(spark, sf, epoch = 0)
      .as[(Long, String, Long)].collect()
    // the pack stream is the SAME permutation the epoch order addresses
    val packSeq = packed.sortBy(r => (r._2, r._5)).map(r => (r._2, r._1)).toSeq
    val epochSeq = order.sortBy(r => (r._2, r._3)).map(r => (r._2, r._1)).toSeq
    assert(packSeq == epochSeq, "pack order must be the epoch permutation")
    packed.groupBy(_._2).foreach { case (shard, rows) =>
      // pack ids are dense from 0 and recompute from the running total
      val sorted = rows.sortBy(_._5)
      var cum = 0L
      sorted.foreach { case (_, _, nTok, packId, cumBefore) =>
        assert(cumBefore == cum, s"shard $shard running total")
        assert(packId == cum / 512, s"shard $shard pack assignment")
        cum += nTok
      }
      val ids = sorted.map(_._4).distinct
      assert(ids.toList == (0L to ids.max).toList, s"shard $shard pack ids dense")
    }
  }

  test("text_lm_score: held-out LM ranks fluent above degenerate probes") {
    // ids chosen so the md5 split puts trainers in 'train' (bucket < cc) and
    // the three probes land wherever — scoring covers every split
    val fluent = "the cat sat on the mat and the dog sat on the rug"
    val trainers = (0 until 40).map(i => (i.toLong, fluent, "a"))
    val probes = Seq(
      (100L, fluent, "a"),                                   // in-distribution
      (101L, "mat the on sat cat dog the and rug the on sat", "a"), // word salad
      (102L, "zxqv wkjh qpzm vbnx tyui asdf ghjk zxcv bnml qwer", "a")) // gibberish
    val dir = docsFixture(trainers ++ probes)
    val got = graft.queries.TextAnalysis.textLmScoreOn(
        graft.sources.Tables.documents(spark, dir))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // fluent scores near 0 (its bigrams dominate the train counts); both
    // degenerate probes are clearly penalized. NOTE the salad-vs-gibberish
    // ORDER is vocabulary-dependent (unseen-bigram cost is log2(cu+V): with
    // this tiny V, salad's common-w1 denominators exceed gibberish's bare V)
    // — so the pinned contract is only "fluent above both, both penalized",
    // which holds at any V
    assert(got(100L) > -1.0, s"in-distribution doc ${got(100L)} should score high")
    assert(got(100L) > got(101L) + 2.0,
      s"fluent ${got(100L)} must clearly beat word salad ${got(101L)}")
    assert(got(100L) > got(102L) + 2.0,
      s"fluent ${got(100L)} must clearly beat gibberish ${got(102L)}")
    // self-trained-MLE artifact guard: gibberish must NOT score near 0 (the
    // un-smoothed self-scored form grades it 'perfectly predictable')
    assert(got(102L) < -2.0, s"gibberish score ${got(102L)} suspiciously high")
  }

  private implicit class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] = rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("prep_bpe_budget: bucketed plan equals the naive BPE-count cumsum") {
    val df = DataPipeline.bpeBudget(spark, sf)
    val got = df.as[(Long, Double, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got.nonEmpty)

    // naive recompute from the ENGINE's own BPE counts and quality scores:
    // global (quality desc, doc_id) order, exclusive running sum, cut at
    // the budget -- the one-window form budgetCore exists to avoid
    val counts = graft.queries.BpeVocab
      .encodeOnDocs(Tables.documents(spark, sf), 16)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    val quality = Tables.documents(spark, sf)
      .select($"doc_id",
        graft.functions.TextFunctions.qualityScore($"text"))
      .as[(Long, Double)].collect()
    var cum = 0L
    val expect = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    quality.sortBy { case (id, q) => (-q, id) }.foreach { case (id, _) =>
      val n = counts.getOrElse(id, 0L)
      if (cum < 16000L) expect(id) = ((n, cum))
      cum += n
    }
    assert(got == expect.toMap,
      s"${got.size} kept vs ${expect.size} expected")
  }
}
