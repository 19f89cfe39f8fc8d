package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.InvertedIndex
import graft.sources.{Layout, Tables, ZoneMaps}

/** The composition the README's retrieval entry claims: postings laid out
  * CLUSTERED BY TOKEN + a zone map over the token column turn a term
  * lookup from "read all postings files" into "read only the files whose
  * token range can contain the term" — source-layer skipping stacked
  * under the index's own pushed `token IN` predicate. A claim that two
  * features compose is a claim that deserves its own test.
  */
class IndexLayoutCompositionSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sweep(p: java.nio.file.Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit
  }

  /** [t, t+NUL) matches exactly the string t — equality as a range,
    * the form zone maps prune. */
  private def eqRange(t: String): (String, org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) =
    ("token", lit(t), lit(t + "\u0000"))

  test("token-clustered postings + zone map: term lookups skip files, results exact") {
    val base = java.nio.file.Files.createTempDirectory("graft_comp_")
    try {
      val postings = InvertedIndex
        .postingsPartials(Tables.documents(spark, sf))
      Layout.writeClustered(postings, s"$base/postings", Seq("token"),
        numFiles = 16)
      ZoneMaps.maintainIndex(spark, s"$base/postings", s"$base/stats", Seq("token"))

      val terms = Seq("join", "hash")
      // per-term pruned lookups: each reads a strict subset of the files
      val perTerm = terms.map { t =>
        val (df, (read, total)) = ZoneMaps.lookupRangeIndexed(
          spark, s"$base/postings", s"$base/stats", Seq(eqRange(t)))
        assert(read < total,
          s"'$t' must not read the whole postings layout ($read/$total)")
        assert(read > 0, s"'$t' exists in the corpus")
        t -> df.select($"doc_id").as[Long].collect().toSet
      }.toMap
      // AND-composition over the pruned reads ≡ the index's own search
      val viaZone = perTerm.values.reduce(_ intersect _)
      val viaScan = postings
        .filter($"token".isin(terms: _*))
        .groupBy($"doc_id").agg(countDistinct($"token").as("nt"))
        .filter($"nt" === terms.size)
        .select($"doc_id").as[Long].collect().toSet
      assert(viaZone == viaScan && viaZone.nonEmpty)
    } finally sweep(base)
  }
}
