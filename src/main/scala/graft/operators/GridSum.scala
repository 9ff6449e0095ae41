package graft.operators

import org.apache.spark.sql.Column

/** Exact, order-insensitive decimal sums over codegen'd longs: the
  * row-level converters [[grid12]] and [[unscaled]] turn a value into the
  * unscaled long of an exact decimal, and [[exactSum]] sums those longs
  * with no per-row BigDecimal (the r18 intermittent-10× CPU class of
  * precision > 18 decimal aggregation buffers) and no row-count bound.
  */
private[graft] object GridSum {

  /** Scale-12 grid value of a DOUBLE, as the unscaled long of
    * `cast(v AS decimal(18,12))` — the exact integer the old per-row
    * `cast(v AS decimal(28,12))` carried (same HALF_UP setScale of the
    * shortest-decimal representation; `UnscaledValue` is a plain
    * `toUnscaledLong`, no re-rounding). Precision 18, not 28: a scale-12
    * long-backed decimal holds |v| < 10⁶, which covers every consumer
    * (norms, squared distances, and embedding components are all ≲10²)
    * and fails ANSI-LOUD beyond. Sum with `exactSum(g, 12)`.
    */
  def grid12(v: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    import org.apache.spark.sql.types.DecimalType
    GraftSqlBridge.column(UnscaledValue(
      GraftSqlBridge.expression(v.cast(DecimalType(18, 12)))))
  }

  /** Unscaled long view of an exact long-backed decimal column
    * (precision ≤ 18 — `UnscaledValue` is a plain `toUnscaledLong`, no
    * re-rounding): the integer the decimal aggregation consumes. Exact
    * decimal PRODUCTS ride as long multiplies of unscaled values
    * (unscaled(a·b) = unscaled(a)·unscaled(b), scale(a·b) = sa+sb),
    * ANSI-loud on long overflow — where Spark's own decimal multiply
    * would have widened past precision 18 and gone BigDecimal-per-row.
    */
  def unscaled(c: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    GraftSqlBridge.column(UnscaledValue(GraftSqlBridge.expression(c)))
  }

  /** Exact sum of unscaled longs `u` as `decimal(38, scale)`
    * ([[graft.functions.ExactSum]]): value-identical to `sum` over the
    * decimal(p ≤ 18, scale) the longs came from, for any row count and any
    * partitioning; ANSI-loud only once the total reaches 2⁹⁴ unscaled.
    * `.cast("double")` is bit-identical to `cast(sum(dec) AS double)`, and
    * `.cast(t)` to `sum(dec)` where `t` is that sum's result type.
    */
  def exactSum(u: Column, scale: Int): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.ExactSum(
      GraftSqlBridge.expression(u), scale).toAggregateExpression())
  }
}
