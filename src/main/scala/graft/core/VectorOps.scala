package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array-column vector math as native Catalyst expressions (zip_with /
  * aggregate / transform) — whole-stage-codegen friendly, no UDFs, so the
  * hot path of kNN / ANN / dedup scans stays inside codegen at scale.
  *
  * Mirrors the dense-vector primitives of the reference's ml-prims
  * (cpp/src_prims/linalg — reference cpp/src_prims/linalg/norm.h) without
  * any of its CUDA execution model.
  */
object VectorOps {
  /** Σ a_i * b_i for two array<float|double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Σ a_i². */
  def sqNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v * v)

  def norm(a: Column): Column = sqrt(sqNorm(a))

  /** Squared euclidean distance between two array columns. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity. A 0-vector divides by zero: under ANSI mode
    * (Spark's default) the query fails with DIVIDE_BY_ZERO; with ANSI off
    * the similarity is NULL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Scale an array column by a scalar column. */
  def scale(a: Column, s: Column): Column = transform(a, x => x * s)

  /** Elementwise sum of two array columns. */
  def add(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x + y)

  // ---- hot-path variants --------------------------------------------------
  // Higher-order functions (zip_with/aggregate) allocate an intermediate
  // array per row and run the lambda interpreted, and an unrolled
  // element_at chain pays a per-element bounds/null check. The native
  // graft.functions expressions compile to ONE primitive loop inside
  // whole-stage codegen — the shape a 100 TB pair scan needs. Accumulation
  // is sequential left-to-right, so results are bit-identical to the fold
  // (and to DuckDB's sequential list sum) — every oracle hash is unchanged.
  // Vectors are dense and equal-length (the loop runs over the common
  // prefix), so no width is passed or read.

  def dotFixed(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dot(a, b)

  def sqNormFixed(a: Column): Column = dotFixed(a, a)

  def sqDistFixed(a: Column, b: Column): Column =
    graft.functions.ArrayMath.sqDist(a, b)
}
