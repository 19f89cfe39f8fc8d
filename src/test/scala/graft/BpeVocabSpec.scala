package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.BpeVocab
import graft.sources.Tables

class BpeVocabSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Independently-written reference BPE (Sennrich-style): word-frequency
    * map in, merge rules out. Greedy left-to-right non-overlapping rewrite
    * per round; ties broken (count desc, left asc, right asc). */
  private def refBpe(wordFreq: Map[String, Long], n: Int): Seq[(Int, String, String, String, Long)] = {
    var table: Map[Vector[String], Long] = wordFreq.map { case (w, f) =>
      (w.map(_.toString).toVector :+ "</w>") -> f
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var k = 1
    var done = false
    while (k <= n && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      table.foreach { case (syms, f) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        val merged = l + r
        out += ((k, l, r, merged, c))
        table = table.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { b += merged; i += 2 }
            else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
      }
      k += 1
    }
    out.result()
  }

  private def wordFreqOf(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  test("known corpus learns the classic merge sequence") {
    // the textbook BPE example: 'est</w>' dominates via newest/widest
    val texts = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = BpeVocab.trainOnDocs(docs, 4)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val exp = refBpe(wordFreqOf(texts), 4)
    assert(got == exp, s"got=$got exp=$exp")
    // first merges must be the famous ones: (e,s)->es on 9, then (es,t)
    assert(got.head._2 == "e" && got.head._3 == "s" && got.head._5 == 9L)
    assert(got(1)._2 == "es" && got(1)._3 == "t" && got(1)._5 == 9L)
  }

  test("greedy non-overlap within a round: aaa merges to (aa, a), not (aa, aa)") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val got = BpeVocab.trainOnDocs(docs, 2)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val exp = refBpe(wordFreqOf(Seq("aaa aaa")), 2)
    assert(got == exp, s"got=$got exp=$exp")
    // round 1: pair (a,a) counts both adjacencies (freq 2 words x 2 = 4)
    // but the rewrite is non-overlapping: aaa</w> -> [aa, a, </w>]
    assert(got.head._2 == "a" && got.head._3 == "a" && got.head._5 == 4L)
  }

  test("documents-table merge table equals the driver-side reference BPE") {
    val got = BpeVocab.train(spark, sf, 10)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got.size == 10, s"expected 10 merges, got ${got.size}")
    val texts = Tables.documents(spark, sf).select($"text").as[String].collect().toSeq
    val exp = refBpe(wordFreqOf(texts), 10)
    assert(got == exp,
      s"first-diff=${got.zip(exp).find { case (a, b) => a != b }}")
  }

  /** Reference encode: apply the reference merges in rank order. */
  private def refEncode(word: String, merges: Seq[(Int, String, String, String, Long)]): Int = {
    var syms = word.map(_.toString).toVector :+ "</w>"
    merges.foreach { case (_, l, r, merged, _) =>
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { b += merged; i += 2 }
        else { b += syms(i); i += 1 }
      }
      syms = b.result()
    }
    syms.length
  }

  test("per-document token counts equal the reference encode under the learned merges") {
    val got = BpeVocab.encode(spark, sf, 8)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    val texts = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val merges = refBpe(wordFreqOf(texts.map(_._2)), 8)
    val expect = texts.map { case (id, t) =>
      val ws = t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(w => refEncode(w, merges).toLong).sum)
    }.filter(_._2 > 0).sortBy(_._1)
    assert(got.sortBy(_._1) == expect,
      s"first-diff=${got.sortBy(_._1).zip(expect).find { case (a, b) => a != b }}")
  }

  test("encode compresses: tokens strictly below characters+1 per word, above word count") {
    val rows = BpeVocab.encode(spark, sf, 8).as[(Long, Long, Long)].collect()
    rows.foreach { case (id, nWords, nTokens) =>
      assert(nTokens >= nWords, s"doc $id: every word is at least one token")
    }
  }

  test("sf0.1 merge table equals the driver reference BPE (scale parity)", SlowTest) {
    // the sf0.001 parity can miss count-tie reorderings that only appear
    // with a larger vocabulary; re-pin the full merge table at sf0.1
    val dir = "/root/testdata/sf0.1"
    val got = BpeVocab.train(spark, dir, 12)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got.size == 12)
    val texts = Tables.documents(spark, dir).select($"text").as[String].collect().toSeq
    val exp = refBpe(wordFreqOf(texts), 12)
    assert(got == exp,
      s"first-diff=${got.zip(exp).find { case (a, b) => a != b }}")
  }

  test("random corpora (incl. multibyte BMP chars) match the reference BPE") {
    // property-style differential over adversarial small corpora: heavy
    // count ties (tiny alphabet), repeated words, and multibyte BMP
    // characters that would expose any code-unit-vs-code-point mismatch
    // between Spark's split("") and the driver's per-char reference
    val rnd = new scala.util.Random(42)
    val alphabet = "abé中ß"
    (1 to 8).foreach { trial =>
      val words = Seq.fill(3 + rnd.nextInt(5)) {
        (0 until 1 + rnd.nextInt(4)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val texts = Seq.fill(2 + rnd.nextInt(3)) {
        Seq.fill(1 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
      }
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val n = 1 + rnd.nextInt(4)
      val got = BpeVocab.trainOnDocs(docs, n)
        .as[(Int, String, String, String, Long)].collect().toSeq
      val exp = refBpe(wordFreqOf(texts), n)
      assert(got == exp, s"trial $trial corpus=$texts n=$n:\n got=$got\n exp=$exp")
    }
  }

  test("driver fast path and distributed loop produce identical train + encode output") {
    // the r13 bounded-vocabulary fast path must be invisible: a cap of 0
    // forces the distributed loop, the default cap takes the driver path
    // at this scale, and the merge tables and encode outputs must be
    // byte-identical — including on a multibyte/tie-heavy corpus where an
    // ordering mismatch between UTF8String binary order and Java
    // compareTo would surface
    val docs = Tables.documents(spark, sf)
    val vDist = BpeVocab.trainCore(docs, 12, driverMaxWords = 0)._1
      .as[(Int, String, String, String, Long)].collect().toSeq
    val vDrv = BpeVocab.train(spark, sf, 12)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(vDist == vDrv,
      s"merge tables diverge: first-diff=${vDist.zip(vDrv).find { case (a, b) => a != b }}")
    val eDist = BpeVocab.encodeWith(docs,
      BpeVocab.trainCore(docs, 8, driverMaxWords = 0)._2)
      .as[(Long, Long, Long)].collect().toSeq
    val eDrv = BpeVocab.encode(spark, sf, 8).as[(Long, Long, Long)].collect().toSeq
    assert(eDist == eDrv,
      s"encode diverges: first-diff=${eDist.zip(eDrv).find { case (a, b) => a != b }}")
    val ties = Seq((1L, "ab ab ba ba aé éa 中ß ß中"), (2L, "ba ab éa aé ß中 中ß"))
      .toDF("doc_id", "text")
    val tDist = BpeVocab.trainCore(ties, 6, driverMaxWords = 0)._1
      .as[(Int, String, String, String, Long)].collect().toSeq
    val tDrv = BpeVocab.trainOnDocs(ties, 6)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(tDist == tDrv, s"tie-heavy corpus diverges:\n dist=$tDist\n drv=$tDrv")
  }

  test("training is deterministic across runs") {
    val a = BpeVocab.train(spark, sf, 5).collect().map(_.toString).toSeq
    val b = BpeVocab.train(spark, sf, 5).collect().map(_.toString).toSeq
    assert(a == b)
  }
}
