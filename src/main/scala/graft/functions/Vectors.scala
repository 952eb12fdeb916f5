package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` embedding columns.
  *
  * All built from codegen'd higher-order functions (`zip_with`,
  * `aggregate`) — no Scala UDFs in the hot path, so whole-stage codegen
  * stays intact and the expressions survive a 100 TB scan.
  *
  * The fold order is the natural index order (left fold), which makes the
  * floating-point result deterministic and reproducible by any sequential
  * implementation (the DuckDB oracle included).
  */
object Vectors {

  /** Sequential-left-fold dot product of two equal-length vectors —
    * a native codegen'd expression ([[ArrayDotProduct]]); bit-identical
    * to the HOF formulation
    * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, _+_)` but allocation-free.
    */
  def dot(a: Column, b: Column): Column = ArrayDotProduct.column(a, b)

  /** Cosine similarity; 0.0 for a zero vector (avoids NaN propagation). */
  def cosine(a: Column, b: Column): Column =
    cosineFromParts(dot(a, b), dot(a, a), dot(b, b))

  /** Cosine from a precomputed pair dot + per-side squared norms. At
    * O(n²) candidate-join scale the squared norms are computed once per
    * ROW instead of once per PAIR — same arithmetic, same bits, 3× less
    * work.
    */
  def cosineFromParts(dotAB: Column, normSqA: Column, normSqB: Column): Column =
    when(normSqA === 0.0 || normSqB === 0.0, lit(0.0))
      .otherwise(dotAB / (sqrt(normSqA) * sqrt(normSqB)))

  /** Coarse LSH bucket id for cosine similarity: the sign-bit pattern of
    * the vector's projections onto `nPlanes` deterministic pseudo-random
    * hyperplanes. Vectors in the same bucket are candidate neighbors —
    * this is the 100 TB path (bucket join instead of cross join).
    *
    * The planes are derived from a seeded splitmix-style generator so the
    * bucketing is stable across runs and executors.
    */
  def signBuckets(v: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    val bits = planes(dim, nPlanes, seed).zipWithIndex.map { case (plane, p) =>
      val proj = dot(v, lit(plane))
      when(proj >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The deterministic hyperplanes behind [[signBuckets]], exposed so an
    * external oracle can replicate the bucketing bit-for-bit.
    */
  def planes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { i =>
        // splitmix64 on (seed, plane, index) → uniform in [-1, 1)
        var z = seed + (p.toLong << 32) + i.toLong * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        (z.toDouble / Long.MaxValue.toDouble)
      }
    }
}
