package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector and set similarity primitives, all as Catalyst expressions
  * (`zip_with`/`aggregate`/`transform` — codegen'd, no UDFs), so similarity
  * search runs as ordinary projections over `array<float>` columns at any
  * scale. */
object Similarity {

  /** Cast an array<float> to array<double> — do all math in double so results
    * are engine-reproducible and precise. */
  def toDoubleArray(a: Column): Column = transform(a, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe zero-vector guard. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Exact Jaccard similarity of two string arrays (as distinct sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH over embeddings:
    * plane p, dim d weight derived from a seeded hash — reproducible across
    * runs and engines, no RNG state. Returns Seq(plane -> Seq(weights)). */
  def signLshPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        // xorshift-style mix of (seed, p, d) -> [-1, 1)
        var h = seed ^ (p.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL)
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Banded sign-LSH keys: `nBands` independent buckets of `planesPerBand`
    * bits each. Vectors are candidates if ANY band key matches — the
    * OR-of-ANDs banding that trades precision for recall (for cos≈0.5,
    * P(one 4-bit band matches) ≈ 0.2 vs 0.04 for a single 8-bit bucket).
    * Returns array<struct<band:int, key:bigint>> for `explode` + equi-join. */
  def signLshBands(vec: Column, nBands: Int, planesPerBand: Int,
      dim: Int, seed: Long = 42L): Column = {
    val all = signLshPlanes(nBands * planesPerBand, dim, seed)
    val bands = (0 until nBands).map { b =>
      val planes = all.slice(b * planesPerBand, (b + 1) * planesPerBand)
      val bits: Seq[Column] = planes.zipWithIndex.map { case (plane, i) =>
        val planeCol = array(plane.map(lit): _*)
        // codegen'd kernel — the zip_with/aggregate HOF form is interpreted
        // and dominates banding cost at 16 planes/row
        when(VectorFunctions.dotProduct(vec, planeCol) >= 0, lit(1L << i))
          .otherwise(lit(0L))
      }
      struct(lit(b).as("band"), bits.reduce(_ + _).as("key"))
    }
    array(bands: _*)
  }

  /** Multi-probe sign-LSH keys for the QUERY side: each band yields its exact
    * key plus `nProbe` neighbor keys — the perturbation masks (any subset of
    * the band's bits) with the smallest total boundary distance, where a
    * plane's boundary distance is |dot(vec, plane)| / ||plane|| (the margin
    * must be normalized because [[signLshPlanes]] hyperplanes have varying
    * norms). A near neighbor that lands across hyperplanes the query barely
    * cleared is exactly the case an exact-band probe misses — probing the
    * low-margin flip combinations recovers it (Lv et al., VLDB'07 multi-probe
    * LSH; ranking subsets by summed margin is their "query-directed" probe
    * sequence).
    *
    * Scale shape: the INDEX keeps one exact key per band
    * ([[signLshBands]] — unchanged, no index growth); only the query fan-out
    * grows, by a factor of (1+nProbe), and queries are the broadcast side.
    * Must be built with the same nBands/planesPerBand/dim/seed as the index.
    * HOF evaluation here is interpreted, which is fine: this runs once per
    * query row, never over the corpus. */
  def signLshProbeBands(vec: Column, nBands: Int, planesPerBand: Int,
      dim: Int, nProbe: Int, seed: Long = 42L): Column = {
    val maxProbe = (1 << planesPerBand) - 1
    require(nProbe >= 0 && nProbe <= maxProbe,
      s"nProbe must be in [0, $maxProbe], got $nProbe")
    val all = signLshPlanes(nBands * planesPerBand, dim, seed)
    val bands: Seq[Column] = (0 until nBands).map { b =>
      val planes = all.slice(b * planesPerBand, (b + 1) * planesPerBand)
      // normalized margin = distance from the plane's decision boundary
      val ms = planes.map { p =>
        val norm = math.sqrt(p.map(x => x * x).sum)
        VectorFunctions.dotProduct(vec, array(p.map(lit): _*)) / lit(norm)
      }
      val key = ms.zipWithIndex.map { case (m, i) =>
        when(m >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      // every non-empty flip mask, scored by the summed boundary distance of
      // its flipped planes; the nProbe cheapest masks become probe keys
      val masks = (1 to maxProbe).map { mask =>
        val score = (0 until planesPerBand)
          .filter(i => (mask & (1 << i)) != 0)
          .map(i => abs(ms(i)))
          .reduce((a, c) => a + c)
        struct(score.as("score"), lit(mask.toLong).as("mask"))
      }
      val ranked = array_sort(array(masks: _*))
      val flips = transform(slice(ranked, 1, nProbe), s =>
        struct(lit(b).as("band"), key.bitwiseXOR(s.getField("mask")).as("key")))
      concat(array(struct(lit(b).as("band"), key.as("key"))), flips)
    }
    flatten(array(bands: _*))
  }
}
