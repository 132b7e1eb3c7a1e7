package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._

/** Vector math over `array<float>`/`array<double>` columns using Spark's
  * higher-order functions (`zip_with`, `aggregate`, `transform`) — these
  * stay inside whole-stage codegen, unlike Scala UDFs, so the hot path of
  * a 100 TB similarity scan is JIT-compiled with no boxing per element.
  *
  * Determinism note (SURVEY.md §5): dot products fold the array IN ORDER
  * (`aggregate` is a sequential left fold), matching DuckDB's in-order
  * list kernels, so oracle hash-compares agree after round(_, 6).
  *
  * The cosine built on these (zero-norm guard, rounding) is
  * [[graft.ann.Stages.cosine]].
  */
object Vec {

  /** Elementwise cast to double so all arithmetic is double-precision
    * (float32 inputs otherwise fold with mixed precision). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** In-order sequential dot product: fold over zip_with products. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  // ------------------------------------------------------------------
  // Native path: the custom Catalyst expression [[DotProduct]] — a
  // codegen'd primitive loop, faster than the fold above (see
  // DotProductExpr.scala). Accepts float or double arrays directly
  // (per-element exact widening), so no array-cast projection is needed.

  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm2Native(a: Column): Column = sqrt(dotNative(a, a))
}
