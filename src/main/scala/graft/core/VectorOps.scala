package graft.core

import org.apache.spark.sql.Column

/** Array-column vector math for the kNN / ANN / dedup scans, on the native
  * [[graft.functions.ArrayMath]] loops: one primitive loop per row inside
  * whole-stage codegen, no UDFs and no higher-order-function lambdas, and
  * a sequential left-to-right sum, so results are bit-identical to DuckDB's
  * list sum. Vectors are dense and equal-length (the loop runs over the
  * common prefix), so no width is passed or read.
  *
  * Mirrors the dense-vector primitives of the reference's ml-prims
  * (cpp/src_prims/linalg — reference cpp/src_prims/linalg/norm.h) without
  * any of its CUDA execution model.
  */
object VectorOps {
  def dotFixed(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dot(a, b)

  def sqNormFixed(a: Column): Column = dotFixed(a, a)

  def sqDistFixed(a: Column, b: Column): Column =
    graft.functions.ArrayMath.sqDist(a, b)
}
