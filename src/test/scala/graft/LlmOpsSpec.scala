package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Similarity, SimHash, SimHash64Util, TextFunctions => TF}
import graft.queries.{Dedup, Multimodal, SimilaritySearch, TextAnalysis}
import graft.sources.Tables

/** Specs for the LLM-data-pipeline operators: dedup families, similarity
  * search, text analysis, multimodal plumbing. LSH-based ops are verified for
  * PRECISION against brute-force exact computation (recall is probabilistic by
  * design and pinned only loosely). */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("minhash LSH pairs equal the exact high-Jaccard pairs (8x4 banding)") {
    val lsh = Dedup.dedupMinhashPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute-force exact jaccard over all pairs (500 docs -> 125k pairs, ok)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", array_distinct(TF.wordShingles($"text", 3)).as("sh"))
    val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    val exact = a.crossJoin(b).filter($"doc_a" < $"doc_b")
      .withColumn("jac", Similarity.jaccard($"sh_a", $"sh_b"))
      .filter($"jac" >= 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact-verified candidates can't emit false positives, and at this
    // corpus' similarity levels 8x4 banding recall is exact — the DuckDB
    // oracle (dedupMinhashPairsSql) hash-matches on the same premise
    assert(lsh == exact,
      s"missing=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("cluster edges (8x4 MinHash bands) have exact recall vs brute force here") {
    import graft.functions.VectorFunctions
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", VectorFunctions.shingleHashSet($"text", 3).as("sh"))
      .select($"doc_id", $"sh", size($"sh").as("sz"))
    val a = docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"sz".as("sz_a"))
    val b = docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"sz".as("sz_b"))
    val brute = a.crossJoin(b).filter($"doc_a" < $"doc_b")
      .withColumn("inter", VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      .filter($"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double") >= 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // clusters' membership counts must match a brute-force-edge clustering:
    // cheap proxy — total non-singleton membership derived from the query
    val clustered = Dedup.dedupClusters(spark, sf)
      .filter($"n_members" > 1)
      .agg(sum($"n_members")).as[Long].collect().headOption.getOrElse(0L)
    val bruteDocs = brute.flatMap(p => Seq(p._1, p._2)).size
    assert(clustered == bruteDocs.toLong,
      s"cluster membership $clustered != brute-force near-dup docs $bruteDocs")
  }

  test("connectedComponents converges in O(log diameter) rounds on a chain") {
    // a 128-vertex path graph is the adversarial case for plain min-label
    // propagation (O(diameter) = 127 rounds); pointer jumping must close it
    // in ~log2(128) = 7 rounds. The bound below allows +3 slack (init round,
    // convergence-detection round, off-by-one) — a regression to linear
    // propagation would blow far past it.
    val n = 128
    val verts = (0 until n).map(i => (i.toLong, i.toLong))
      .toDF("id", "label")
    val chain = (0 until n - 1).map(i => (i.toLong, i.toLong + 1))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(verts, chain, _.localCheckpoint())
      .as[(Long, Long)].collect()
    assert(labels.length == n && labels.forall(_._2 == 0L),
      "chain must collapse to one component labeled by its minimum")
    val rounds = Dedup.ccLastRounds.get()
    assert(rounds <= 10, s"pointer jumping should need ~log2($n)=7 rounds, took $rounds")
  }

  test("bounded-input driver CC equals the distributed loop exactly (r13)") {
    // the r13 driver-side fixpoint must be row-for-row identical to the
    // distributed loop on the real corpus labels (same min-label +
    // pointer-jump arithmetic over Long ids); a cap of 0 runs the original
    // distributed rounds
    val viaDriver = Dedup.ccLabels(spark, sf, reliableCheckpoint = false)
      .as[(Long, Long)].collect().sorted
    val viaDistributed = Dedup.ccLabels(spark, sf, reliableCheckpoint = false,
      driverMaxRows = 0).as[(Long, Long)].collect().sorted
    assert(viaDriver.sameElements(viaDistributed),
      s"driver/distributed CC drift: ${viaDriver.take(5).toSeq} vs " +
        s"${viaDistributed.take(5).toSeq}")
    // and on a graph with edge endpoints ABSENT from the vertex frame the
    // two paths must agree too (the distributed union admits such ids)
    val verts = Seq((5L, 5L), (6L, 6L)).toDF("id", "label")
    val pairs = Seq((5L, 9L)).toDF("doc_a", "doc_b")
    val viaDriver2 = Dedup.connectedComponents(verts, pairs, _.localCheckpoint())
      .as[(Long, Long)].collect().sorted
    val viaDistributed2 = Dedup.connectedComponents(verts, pairs,
      _.localCheckpoint(), driverMaxRows = 0).as[(Long, Long)].collect().sorted
    assert(viaDriver2.sameElements(viaDistributed2),
      s"${viaDriver2.toSeq} vs ${viaDistributed2.toSeq}")
  }

  test("dedupClusters reliable-checkpoint mode returns identical clusters") {
    // the durability mode (reliable Dataset.checkpoint lineage cuts instead
    // of localCheckpoint) must be a pure execution-strategy toggle: byte-for-
    // byte the same (cluster_rep, n_members) rows
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val hadCkpt = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val local = Dedup.dedupClusters(spark, sf)
        .as[(Long, Long)].collect().toSeq
      val reliable = Dedup.dedupClustersReliable(spark, sf)
        .as[(Long, Long)].collect().toSeq
      assert(reliable == local)
      assert(local.nonEmpty)
    } finally {
      hadCkpt.foreach(spark.sparkContext.setCheckpointDir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("prefix-filter Jaccard join equals blocked all-pairs join exactly") {
    // the PPJoin-style inverted-index join must be a drop-in for the O(block²)
    // form: same pairs, same jaccard values, at several thresholds
    import graft.functions.VectorFunctions
    val docs = Tables.documents(spark, sf)
      .select($"source", $"doc_id", VectorFunctions.shingleHashSet($"text", 3).as("sh"))
      .withColumn("sz", size($"sh"))
    for ((tNum, tDen) <- Seq((1, 2), (4, 5), (1, 4))) {
      val pp = Dedup.prefixFilterJaccardPairs(docs, tNum, tDen)
        .select("source", "doc_a", "doc_b", "jac")
        .as[(String, Long, Long, Double)].collect().toSet
      val blocked = Dedup.blockedJaccardPairs(docs, tNum.toDouble / tDen)
        .select("source", "doc_a", "doc_b", "jac")
        .as[(String, Long, Long, Double)].collect().toSet
      assert(pp == blocked,
        s"t=$tNum/$tDen mismatch: missing=${blocked -- pp} extra=${pp -- blocked}")
    }
  }

  test("jaccard joins agree on per-source duplicate ids and empty-shingle docs") {
    import graft.functions.VectorFunctions
    // doc_id is only unique WITHIN a source here (1 appears in both), and two
    // docs are under 3 words (empty shingle set) — the two regression cases
    // where the implementations could silently diverge
    val raw = Seq(
      ("s1", 1L, "alpha beta gamma delta epsilon zeta"),
      ("s1", 2L, "alpha beta gamma delta epsilon eta"),
      ("s1", 3L, "hi"),
      ("s1", 4L, "yo"),
      ("s2", 1L, "one two three four five six seven"),
      ("s2", 2L, "one two three four five six eight")
    ).toDF("source", "doc_id", "text")
    val docs = raw
      .select($"source", $"doc_id", VectorFunctions.shingleHashSet($"text", 3).as("sh"))
      .withColumn("sz", size($"sh"))
    for ((tNum, tDen) <- Seq((1, 4), (1, 2))) {
      val pp = Dedup.prefixFilterJaccardPairs(docs, tNum, tDen)
        .select("source", "doc_a", "doc_b", "jac")
        .as[(String, Long, Long, Double)].collect().toSet
      val blocked = Dedup.blockedJaccardPairs(docs, tNum.toDouble / tDen)
        .select("source", "doc_a", "doc_b", "jac")
        .as[(String, Long, Long, Double)].collect().toSet
      assert(pp == blocked,
        s"t=$tNum/$tDen mismatch: missing=${blocked -- pp} extra=${pp -- blocked}")
      // empty-shingle docs never pair (NaN guard), in either implementation
      assert(!pp.exists(p => Set(3L, 4L).contains(p._2) || Set(3L, 4L).contains(p._3)))
      // both sources' (1,2) pairs survive with their own jaccard — a verify
      // join that dropped source would cross-attach arrays and corrupt these
      assert(pp.count(p => p._2 == 1L && p._3 == 2L) == 2,
        s"expected one (1,2) pair per source, got $pp")
    }
  }

  test("simhash banding finds exactly the Hamming<=3 pairs (pigeonhole)") {
    val banded = Dedup.dedupSimhash(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val hashes = Tables.documents(spark, sf)
      .select($"doc_id", SimHash.simhash64(TF.wordTokens($"text")).as("sh"))
      .as[(Long, Long)].collect()
    val brute = (for {
      (ida, ha) <- hashes; (idb, hb) <- hashes
      if ida < idb && SimHash64Util.hamming(ha, hb) <= 3
    } yield (ida, idb)).toSet
    assert(banded == brute,
      s"banding mismatch: missing=${brute -- banded} extra=${banded -- brute}")
  }

  test("embedding LSH pairs all clear the cosine threshold (precision)") {
    val pairs = Dedup.dedupEmbeddingCosine(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Double]("cosine") >= 0.4)
    }
  }

  test("LSH ANN neighbors are true neighbors with exact cosine (precision)") {
    val lsh = SimilaritySearch.simLshTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val brute = SimilaritySearch.simBruteforceTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    // every LSH-returned cosine must equal the exact cosine for that pair
    // (when that pair is in the brute-force top-k) — LSH changes WHICH pairs
    // are found, never their scores
    lsh.foreach { case (q, n, c) =>
      brute.get(q).flatMap(_.get(n)).foreach { exact =>
        assert(math.abs(exact - c) < 1e-9, s"score mismatch for ($q,$n)")
      }
    }
    // query-directed multi-probe (6 lowest-cost flip masks per band, margins
    // normalized by plane norm) must recover >= 0.85 of the true top-k even
    // on these near-random vectors (measured 0.98 at nProbe=6; 0.88 at 3)
    val hits = lsh.count { case (q, n, _) => brute.get(q).exists(_.contains(n)) }
    val total = brute.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.85, s"LSH recall too low: $hits/$total")
  }

  test("IVF ANN returns exact scores and sane recall vs brute force") {
    val ivf = SimilaritySearch.simIvfTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val brute = SimilaritySearch.simBruteforceTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    // scores must be exact wherever IVF found a true top-k neighbor
    ivf.foreach { case (q, n, c) =>
      brute.get(q).flatMap(_.get(n)).foreach { exact =>
        assert(math.abs(exact - c) < 1e-9, s"score mismatch ($q,$n)")
      }
    }
    // multi-probe over 4/16 cells should recover a reasonable share of the
    // true top-k on near-random vectors
    val hits = ivf.count { case (q, n, _) => brute.get(q).exists(_.contains(n)) }
    val total = brute.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.2, s"IVF recall too low: $hits/$total")
  }

  test("IVF-PQ: ADC kernel == driver fold; exact rerank scores; sane recall") {
    import graft.functions.VectorFunctions
    // kernel micro-differential: the codegen'd lookup sum must equal an
    // independent driver-side fold over the same codes/table
    val ks = 4
    val rows = Seq(
      (Array(0, 3, 1), Array.tabulate(12)(i => i * 0.5)),
      (Array(2, 2, 0), Array.tabulate(12)(i => 1.0 / (i + 1))),
      (Array(3, 0, 2), Array.tabulate(12)(i => math.sin(i.toDouble))))
    val kernel = rows.toDF("codes", "tbl")
      .select(VectorFunctions.pqAdcScore($"codes", $"tbl", ks)).as[Double].collect()
    val folded = rows.map { case (cs, ts) =>
      cs.zipWithIndex.map { case (c, m) => ts(m * ks + c) }.sum }
    kernel.zip(folded).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"kernel $g vs fold $e") }

    val pq = SimilaritySearch.simIvfPqTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(pq.nonEmpty)
    val brute = SimilaritySearch.simBruteforceTopk(spark, sf)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    // stage 4 re-ranks with the exact fp32 cosine, so scores are exact
    // wherever IVF-PQ surfaced a true top-k neighbor
    pq.foreach { case (q, n, c) =>
      brute.get(q).flatMap(_.get(n)).foreach { exact =>
        assert(math.abs(exact - c) < 1e-9, s"score mismatch ($q,$n)")
      }
    }
    // same probe set as IVF-flat; the PQ shortlist (30 ≥ 6×K) keeps most
    // candidate-set true neighbors through the approximate stage, so the
    // floor matches the IVF-flat one
    val hits = pq.count { case (q, n, _) => brute.get(q).exists(_.contains(n)) }
    val total = brute.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.2, s"IVF-PQ recall too low: $hits/$total")
  }

  test("codebook kernel matches the literal-inlined scoring path at nCells=64") {
    import graft.functions.VectorFunctions
    val nCells = 64
    val nprobe = 4
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", graft.functions.Similarity.toDoubleArray($"embedding").as("v"))
    val codebook = vecs.filter($"vec_id" < nCells).orderBy($"vec_id").collect()
      .map(_.getSeq[Double](1).toArray)
    // literal path: one inlined cosine per centroid, struct-sorted (the
    // pre-round-7 production formulation, retained as reference impl)
    val lit64 = SimilaritySearch.cellScoresFor(codebook)(_)
    val viaLiteral = vecs.select($"vec_id",
      array_max(lit64($"v")).getField("cell").as("cell"),
      transform(slice(reverse(array_sort(lit64($"v"))), 1, nprobe),
        s => s.getField("cell")).as("probes"))
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1)
    // kernel path: codebook as reference object, constant-size codegen
    val viaKernel = vecs.select($"vec_id",
      element_at(VectorFunctions.codebookTopCells($"v", codebook, 1), 1).as("cell"),
      VectorFunctions.codebookTopCells($"v", codebook, nprobe).as("probes"))
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1)
    assert(viaKernel.length == viaLiteral.length && viaKernel.nonEmpty)
    viaKernel.zip(viaLiteral).foreach { case (k, l) =>
      assert(k == l, s"kernel/literal divergence at vec_id ${k._1}: $k vs $l")
    }
  }

  test("codebook kernel compiles and runs at nCells=256 (past the Janino ceiling)") {
    import graft.functions.VectorFunctions
    // 256 distinct synthetic centroids; the literal-inlined path at this size
    // would generate O(nCells * dim) code and trip method-size limits — the
    // kernel's generated code is one static call regardless
    val dim = 64
    val codebook = Array.tabulate(256, dim)((c, d) => math.sin(c * dim + d + 1.0))
    val assigned = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", graft.functions.Similarity.toDoubleArray($"embedding").as("v"))
      .select($"vec_id",
        element_at(VectorFunctions.codebookTopCells($"v", codebook, 1), 1).as("cell"),
        VectorFunctions.codebookTopCells($"v", codebook, 8).as("probes"))
      .as[(Long, Int, Seq[Int])].collect()
    assert(assigned.nonEmpty)
    assigned.foreach { case (id, cell, probes) =>
      assert(cell >= 0 && cell < 256, s"cell $cell out of range for vec $id")
      assert(probes.length == 8 && probes.head == cell, s"probe head != cell for $id")
      assert(probes.distinct.length == 8, s"duplicate probes for $id")
    }
  }

  test("codebook kernel ordering: score desc, ties broken by higher cell id") {
    import graft.functions.VectorFunctions
    // centroids 0 and 2 are identical -> equal scores; struct-sort parity
    // demands the HIGHER cell id first among ties
    val cb = Array(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(-1.0, 0.0))
    val out = Seq(Tuple1(Seq(1.0, 0.1)))
      .toDF("v")
      .select(VectorFunctions.codebookTopCells($"v", cb, 4).as("cells"))
      .as[Seq[Int]].head()
    assert(out == Seq(2, 0, 1, 3), s"unexpected order $out")
  }

  test("IVF codebook Lloyd training is monotone and yields unit centroids") {
    import graft.functions.VectorFunctions
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(graft.functions.Similarity.toDoubleArray($"embedding").as("v"))
    // spherical k-means objective: mean over the corpus of the max cosine
    // to any centroid (cosine is scale-invariant, so raw vectors are fine
    // here even though training normalizes)
    def objective(cb: Array[Array[Double]]): Double = vecs
      .select(array_max(array(cb.map(c =>
        VectorFunctions.cosineSim($"v", array(c.map(lit).toSeq: _*))).toSeq: _*))
        .as("best"))
      .agg(avg($"best")).head().getDouble(0)
    val seed = graft.sources.Tables.embeddings(spark, sf)
      .filter($"vec_id" < 16).orderBy($"vec_id")
      .select(graft.functions.Similarity.toDoubleArray($"embedding"))
      .collect().map(_.getSeq[Double](0).toArray)
    val t1 = SimilaritySearch.trainIvfCodebook(spark, sf, nCells = 16, iters = 1)
    val t3 = SimilaritySearch.trainIvfCodebook(spark, sf, nCells = 16, iters = 3)
    assert(t3.length == 16 && t3.forall(_.length == seed.head.length))
    // every updated centroid is unit-L2 (the spherical normalization step)
    t3.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n")
    }
    // Lloyd monotonicity: each round can only improve the mean max-cosine
    val (o0, o1, o3) = (objective(seed), objective(t1), objective(t3))
    assert(o1 >= o0 - 1e-9, s"round 1 regressed the objective: $o0 -> $o1")
    assert(o3 >= o1 - 1e-9, s"rounds 2-3 regressed the objective: $o1 -> $o3")
    assert(o3 > o0, "training should strictly improve on the raw seed here")
  }

  test("simhash is deterministic and sensitive to token changes") {
    val df = Seq(
      ("a", Seq("the", "quick", "brown", "fox")),
      ("b", Seq("the", "quick", "brown", "fox")),
      ("c", Seq("a", "completely", "different", "sentence", "entirely"))
    ).toDF("id", "toks")
      .select($"id", SimHash.simhash64($"toks").as("sh"))
      .as[(String, Long)].collect().toMap
    assert(df("a") == df("b"))
    assert(SimHash64Util.hamming(df("a"), df("c")) > 10)
  }

  test("language ID prefers the profile language on constructed text") {
    val samples = Seq(
      ("en", "the cat sat on the mat and it was happy with that"),
      ("es", "el perro que corre por la calle no se detiene para nada"),
      ("de", "der hund und die katze sind mit dem ball auf der wiese"),
      ("fr", "le chien et les chats sont dans une maison pour la nuit"))
    val got = samples.toDF("expected", "text")
      .select($"expected", TF.languageId($"text").as("got"))
      .as[(String, String)].collect()
    got.foreach { case (exp, pred) => assert(pred == exp, s"expected $exp got $pred") }
  }

  test("language ID returns und for no-profile text") {
    val pred = Seq("zzz qqq xxx www").toDF("text")
      .select(TF.languageId($"text")).as[String].head()
    assert(pred == "und")
  }

  test("quality score is bounded and ranks junk below prose") {
    val rows = Seq(
      ("prose", "the quick brown fox jumps over the lazy dog and it was " * 5),
      ("junk", "8$)@#9 77&& 00 11 22 !!! ### 989873 @@@ %%% ^^^ 123 456 789 000 111"))
      .toDF("id", "text")
      .select($"id", TF.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(rows.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows("prose") > rows("junk"))
  }

  test("multimodal stub decode is deterministic and schema-stable") {
    val out1 = Multimodal.multimodalDecode(spark, sf).collect()
    val out2 = Multimodal.multimodalDecode(spark, sf).collect()
    assert(out1.sameElements(out2))
    assert(Multimodal.multimodalDecode(spark, sf).columns.toSeq ==
      Seq("format", "n_docs", "total_bytes", "max_width", "max_height"))
  }

  test("multimodal_phash_dedup ≡ brute-force Hamming<=3 over distinct-payload reps") {
    val got = Multimodal.multimodalPhashDedup(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    // driver-side mirror: collapse octet-identical payloads to their min
    // doc_id rep, then brute-force all rep pairs — the 4x16 banding's
    // pigeonhole recall is EXACT at d<=3, so the sets must be identical
    val reps = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .groupBy(_._2).map { case (t, ds) =>
        (ds.map(_._1).min, Multimodal.byteSimHash64(t.getBytes("UTF-8")))
      }.toArray
    val exact = (for {
      (a, ha) <- reps.iterator
      (b, hb) <- reps.iterator
      if a < b
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got == exact, s"only=${got -- exact} missing=${exact -- got}")
    assert(got.nonEmpty, "corpus near-dups must surface as phash pairs")
  }

  test("phash dedup collapses exact copies: an all-copies block yields one " +
      "rep, never a quadratic pair set") {
    // 300 octet-identical payloads + 2 distinct near-dups: without the rep
    // collapse the identical block alone would band-join 300x300 rows;
    // with it the block is ONE rep (doc 0) and the output is exactly the
    // brute force over the 3 distinct payloads
    val same = (0 until 60).map(i => s"shared$i block payload").mkString(" ")
    val varA = (0 until 60).map(i => s"variant$i media chunk").mkString(" ")
    val varB = varA.replace("variant30", "retouched")
    val docs = ((0 until 300).map(i => (i.toLong, same)) ++
      Seq((300L, varA), (301L, varB))).toDF("doc_id", "text")
    val got = Multimodal.multimodalPhashDedupOn(docs)
      .as[(Long, Long, Int)].collect().toSet
    val reps = Seq((0L, same), (300L, varA), (301L, varB))
      .map { case (id, t) => (id, Multimodal.byteSimHash64(t.getBytes("UTF-8"))) }
    val exact = (for {
      (a, ha) <- reps.iterator; (b, hb) <- reps.iterator
      if a < b
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got == exact, s"got=$got expected=$exact")
    assert(got.contains((300L, 301L,
      java.lang.Long.bitCount(reps(1)._2 ^ reps(2)._2))),
      "the retouched variant must pair with its original")
    assert(got.size <= 3, s"rep collapse failed: ${got.size} pairs")
  }

  test("byte simhash: a small splice moves the hash a few bits; unrelated " +
      "payloads land far apart") {
    val base = (0 until 80).map(i => s"token$i payload segment")
      .mkString(" ").getBytes("UTF-8")
    val edited = new String(base, "UTF-8")
      .replace("token40", "spliced").getBytes("UTF-8")
    val unrelated = (0 until 80).map(i => s"other$i corpus chunk")
      .mkString(" ").getBytes("UTF-8")
    val (hB, hE, hU) = (Multimodal.byteSimHash64(base),
      Multimodal.byteSimHash64(edited), Multimodal.byteSimHash64(unrelated))
    val near = java.lang.Long.bitCount(hB ^ hE)
    val far = java.lang.Long.bitCount(hB ^ hU)
    assert(near <= 3, s"one-word splice moved $near bits")
    assert(far > 10, s"unrelated payloads only $far bits apart")
    assert(Multimodal.byteSimHash64(Array.emptyByteArray) == 0L)
    assert(Multimodal.byteSimHash64("abc".getBytes) == 0L,
      "sub-window payload hashes to 0")
  }

  test("text fingerprint is invariant to case and whitespace") {
    val fps = Seq("Hello  World", "hello world", " HELLO\tWORLD ")
      .toDF("text").select(TF.fingerprintMd5($"text")).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("int8 quantization: range, zero vector, half-away-from-zero rounding") {
    import graft.functions.VectorFunctions
    val qs = Seq(
      Seq(0.0, 0.0),            // all-zero -> all-zero (no inf/NaN)
      Seq(1.0, -0.5),           // -63.5 must round AWAY from zero (-64, not
                                // Math.round's -63) to match DuckDB round()
      Seq(1.0, -1.0, 0.5),      // 63.5 -> 64
      Seq(-0.005, 0.015, 0.01)) // non-dyadic scale: 127/0.015
      .toDF("v").select(VectorFunctions.quantizeInt8($"v").as("q"))
      .as[Seq[Int]].collect()
    assert(qs(0) == Seq(0, 0))
    assert(qs(1) == Seq(127, -64))
    assert(qs(2) == Seq(127, -127, 64))
    assert(qs(3) == Seq(-42, 127, 85))
    qs.foreach(_.foreach(q => assert(math.abs(q) <= 127)))
  }

  test("quantized topk dequantized scores are within the SQ8 error bound of the exact dot") {
    import graft.functions.VectorFunctions
    val res = SimilaritySearch.simQuantizedTopk(spark, sf)
      .select("query_id", "neighbor_id", "score")
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", Similarity.toDoubleArray($"embedding").as("v"))
    val joined = res
      .join(vecs.select($"vec_id".as("query_id"), $"v".as("q")), "query_id")
      .join(vecs.select($"vec_id".as("neighbor_id"), $"v"), "neighbor_id")
      .select($"query_id", $"neighbor_id", $"score",
        VectorFunctions.dotProduct($"q", $"v").as("dot"),
        VectorFunctions.maxAbs($"q").as("ma"), VectorFunctions.maxAbs($"v").as("mb"))
      .as[(Long, Long, Double, Double, Double, Double)].collect()
    assert(joined.length == 50)
    joined.foreach { case (q, n, score, dot, ma, mb) =>
      // per-element dequantization error <= m/254 on each side; over 64 dims
      // |score - dot| <= 64*(ma*mb/254 + mb*ma/254) + O(1/254^2), padded 5%
      val bound = 64.0 * 2.1 * ma * mb / 254.0
      assert(math.abs(score - dot) <= bound,
        s"($q,$n) score=$score dot=$dot bound=$bound")
    }
  }

  test("filtered topk equals brute force restricted to the label subset") {
    import graft.functions.VectorFunctions
    val res = SimilaritySearch.simFilteredTopk(spark, sf)
      .select("query_id", "neighbor_id", "label", "rank")
      .as[(Long, Long, Int, Long)].collect()
    assert(res.length == 50)
    assert(res.forall(r => Set(1, 3, 5).contains(r._3)))
    // brute-force the filtered subset in the spec (pre-filter semantics:
    // candidates restricted BEFORE scoring)
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", Similarity.toDoubleArray($"embedding").as("v"))
    val queries = vecs.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("q"))
    val brute = vecs.filter($"label".isin(1, 3, 5))
      .join(queries, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        VectorFunctions.cosineSim($"q", $"v").as("cos"))
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(
        _.sortBy(t => (-t._3, t._2)).take(5).map(_._2).toSeq).toMap
    res.groupBy(_._1).foreach { case (q, rows) =>
      val got = rows.sortBy(_._4).map(_._2).toSeq
      assert(got == brute(q), s"query $q: $got != ${brute(q)}")
    }
  }

  test("near-dup contamination equals brute-force cross-split pairs") {
    import graft.functions.VectorFunctions
    import graft.queries.DataPipeline
    val got = DataPipeline.contamination(spark, sf)
      .select("test_doc", "train_doc").as[(Long, Long)].collect().toSet
    val bucket = substring(md5($"doc_id".cast("string")), 1, 2)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", VectorFunctions.shingleHashSet($"text", 3).as("sh"),
        when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
          .as("split"))
      .withColumn("sz", size($"sh"))
    val test_ = docs.filter($"split" === "test")
      .select($"doc_id".as("doc_a"), $"sh".as("sh_a"), $"sz".as("sz_a"))
    val train = docs.filter($"split" === "train")
      .select($"doc_id".as("doc_b"), $"sh".as("sh_b"), $"sz".as("sz_b"))
    val brute = test_.crossJoin(train)
      .withColumn("inter", VectorFunctions.intersectSizeSorted($"sh_a", $"sh_b"))
      .filter($"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter").cast("double") >= 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
  }

  test("tfidf ranks are score-ordered and df counts containing sources") {
    val res = TextAnalysis.textTfidf(spark, sf)
      .select("source", "rank", "token", "df", "score")
      .as[(String, Long, String, Long, Double)].collect()
    assert(res.nonEmpty && res.forall(_._2 <= 3))
    res.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2).map(_._5)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // df of a sampled result token = #distinct sources containing it
    val (token, df) = (res.head._3, res.head._4)
    val actual = Tables.documents(spark, sf)
      .select($"source", explode(TF.wordTokens($"text")).as("t"))
      .filter($"t" === token).select($"source").distinct().count()
    assert(df == actual, s"df($token)=$df but $actual sources contain it")
  }

  test("dedup_span_overlap matches a driver-side string-gram recompute") {
    val got = Dedup.dedupSpanOverlap(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    // independent path: STRING 12-grams (not 64-bit hashes), driver-side df
    // cap and pair intersection — same normalization as the engine tokenizer
    def toks(s: String): Seq[String] = {
      val n = s.toLowerCase.replaceAll("\\s+", " ").trim
      if (n.isEmpty) Seq.empty else scala.collection.immutable.ArraySeq
        .unsafeWrapArray(n.split(' '))
    }
    val gramSets = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> toks(t).sliding(12).filter(_.size == 12).map(_.mkString(" ")).toSet }
    val dfOf = gramSets.toSeq.flatMap(_._2)
      .groupBy(identity).map { case (g, v) => g -> v.size }
    val kept = gramSets.map { case (id, gs) => id -> gs.filter(dfOf(_) <= 32) }
    val expected = (for {
      (a, ga) <- kept; (b, gb) <- kept if a < b
      shared = ga.intersect(gb).size if shared > 0
    } yield (a, b, shared.toLong)).toSet
    assert(expected.nonEmpty, "fixture corpus should contain verbatim spans")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("sim_quantized_rerank: exact order on the shortlist, near-brute recall") {
    val reranked = SimilaritySearch.simQuantizedRerank(spark, sf)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val brute = SimilaritySearch.simBruteforceTopk(spark, sf)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(reranked.keySet == brute.keySet)
    // stage 2 is EXACT cosine, so any brute-force top-5 member that made the
    // int8 shortlist must appear in the same relative order
    var hits = 0; var total = 0
    brute.foreach { case (q, bIds) =>
      val rIds = reranked(q)
      val common = bIds.filter(rIds.contains)
      assert(common == rIds.filter(common.contains),
        s"query $q: exact re-rank must preserve exact-cosine order")
      hits += common.size; total += bIds.size
    }
    // int8 on 64 dims with a 4x shortlist: near-perfect recall of the top-5
    assert(hits.toDouble / total >= 0.9,
      s"recall@5 through the int8 shortlist fell to $hits/$total")
  }
}
