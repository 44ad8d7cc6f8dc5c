package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<double>` columns. No UDFs anywhere; the
  * accumulation order is always the array order, which makes the
  * results bit-identical to a sequential C loop (the DuckDB oracle's
  * list_dot_product).
  *
  * Two tiers: the `aggregate`/`zip_with` higher-order forms work
  * declaratively but Spark evaluates HOF lambdas INTERPRETED per
  * element — fine off the hot path. The `*Native` forms delegate to a
  * custom Catalyst expression whose `doGenCode` emits a flat primitive
  * loop; use these wherever a dot product runs per candidate pair.
  */
object VectorFunctions {
  /** Sequential dot product of two array<double> columns. */
  def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

  /** Native codegen'd dot product (a flat primitive loop — see
    * [[org.apache.spark.sql.graft.DotProduct]]); use wherever a dot
    * product runs per candidate pair. Bit-identical to `dot`. */
  def dotNative(a: String, b: String): Column =
    org.apache.spark.sql.graft.ArrayMathExpr.dotNative(col(a), col(b))

  /** L2 norm via the native dot kernel (identical accumulation order). */
  def l2normNative(a: String): Column = sqrt(dotNative(a, a))

  /** cosine = dot / (||a|| * ||b||); callers precompute norms so the
    * O(n·k) norm pass isn't repeated per candidate pair. */
  def cosineFromParts(dotC: Column, normA: Column, normB: Column): Column =
    dotC / (normA * normB)
}
