package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, BitwiseAnd, Coalesce, EvalMode, Expression, Literal, ShiftRight}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, IntegerType, LongType}

/** Exact, order-insensitive sum of unscaled longs `v`, returned as the
  * `decimal(38, scale)` whose unscaled integer is Σv.
  *
  * The buffer is two longs `(hi, lo)` standing for U = hi·2³¹ + lo with
  * `lo ∈ [0, 2³¹)` after every update and merge: `lo` takes the low 31
  * bits of each addend, the carry out of `lo` and the addend's high part
  * (`v >> 31`, sign-carrying) go to `hi`. So `lo` never overflows and the
  * row count is unbounded; `hi` is the only limit, and its ANSI add fails
  * loud once |U| reaches 2⁹⁴ (decimal(38) holds any U below that). Every
  * per-row step is a codegen'd long op; the BigInteger rebuild of U runs
  * once per group. Empty and all-null groups return null, as `sum` does.
  * `cast(… AS double)` of the result is `BigDecimal(U, scale).doubleValue`,
  * the exact value path `cast(sum(decimal(p, scale)) AS double)` takes.
  */
case class ExactSum(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact_sum needs an unscaled bigint, got ${child.dataType.sql}")

  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  // hi is null until the first non-null input: that is the "empty" flag
  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, LongType), Literal(0L))

  private val mask = Literal((1L << 31) - 1)
  private def plus(a: Expression, b: Expression): Expression = Add(a, b, EvalMode.ANSI)

  /** (hi, lo) + (h, l) for `l ∈ [0, 2³¹)`: lo + l < 2³², so the carry is
    * its bit 31. A null addend (null input row, or an empty right buffer)
    * leaves the buffer as it was.
    */
  private def carry(hi: Expression, lo: Expression,
                    h: Expression, l: Expression): Seq[Expression] = {
    val s = plus(lo, l)
    Seq(Coalesce(Seq(plus(plus(Coalesce(Seq(hi, Literal(0L))), h),
          ShiftRight(s, Literal(31))), hi)),
      Coalesce(Seq(BitwiseAnd(s, mask), lo)))
  }

  override lazy val updateExpressions: Seq[Expression] =
    carry(hi, lo, ShiftRight(child, Literal(31)), BitwiseAnd(child, mask))

  override lazy val mergeExpressions: Seq[Expression] =
    carry(hi.left, lo.left, hi.right, lo.right)

  override lazy val evaluateExpression: Expression =
    StaticInvoke(classOf[ExactSum], dataType, "total",
      Seq(hi, lo, Literal(scale)), Seq(LongType, LongType, IntegerType))

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

object ExactSum {
  /** U = hi·2³¹ + lo at `scale`, as a decimal(38, scale). Called once per
    * group from the aggregate's result expression.
    */
  def total(hi: Long, lo: Long, scale: Int): Decimal =
    Decimal(new java.math.BigDecimal(
      java.math.BigInteger.valueOf(hi).shiftLeft(31).add(java.math.BigInteger.valueOf(lo)),
      scale), 38, scale)
}
