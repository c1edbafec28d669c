package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Vector math over ARRAY<FLOAT> embedding columns, backed by the
  * codegen'd Catalyst expressions in [[VecOps]] (see VectorExpressions
  * .scala — the higher-order-function formulation was interpreted and
  * dominated every pair-verify stage). Each helper builds its
  * expression directly, with no function-registry lookup, so it
  * resolves on any session, with or without [[GraftFunctions.register]].
  *
  * Precision discipline: elements are widened to double BEFORE
  * multiplying and the fold is left-to-right, so the result is
  * deterministic and matches a sequential double-precision dot product in
  * any other engine (the DuckDB oracle relies on this).
  */
object VectorFunctions {

  private def binary(a: Column, b: Column)(
      f: (Expression, Expression) => Expression): Column =
    GraftSqlBridge.column(
      f(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  def dot(a: Column, b: Column): Column = binary(a, b)(VecDot)

  def cosine(a: Column, b: Column): Column = binary(a, b)(VecCosine)

  /** Squared L2 distance — the IVF probe-assignment metric. */
  def l2sq(a: Column, b: Column): Column = binary(a, b)(VecL2sq)

  /** Random-hyperplane LSH signature: `planes` is a small deterministic
    * matrix (seeded off-driver, broadcast as literals); bit j of the result
    * is sign(dot(v, plane_j)). Vectors within a cosine cone share buckets
    * with high probability — the candidate-generation step that turns an
    * O(n^2) similarity scan into a bucket join at scale.
    *
    * Each plane rides as ONE array-typed literal (`typedLit`), which
    * codegen passes through the references array — NOT as 64 inlined
    * scalar constants (`array(lit…)`), which blew the generated
    * class's constant pool once the tuner's ladder-cap knob pushed the
    * signature select past 24 tables (48 × 13 planes × 64 dims ≈ 40k
    * Java literals — InternalCompilerException, measured). Same
    * values, same array<double> input type, bit-identical buckets.
    */
  def hyperplaneBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(dot(v, typedLit(p)) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}
