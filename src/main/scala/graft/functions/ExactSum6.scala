package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Cast, CheckOverflowInSum, EvalMode, Expression, If, IsNotNull, IsNull, KnownNotNull, Literal, Or, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Long arithmetic behind [[ExactSum6]]. A DECIMAL(38,6) value is its
  * unscaled integer (value · 10^6) held as a signed 128-bit pair: `hi`
  * the upper 64 bits, `lo` the lower 64 bits read unsigned.
  * Static-forwarded, so the generated code calls it directly.
  */
object Exact6 {

  /** |x| below this ⇒ |x · 10^6| < 2^63: the unscaled value is one long. */
  private final val LongRange = 9e12
  /** Below this, a = |x|·10^6 has ulp(a) ≤ 0.5, so frac(a) is resolvable. */
  private final val FastRange = 4e15
  /** The smallest |x| whose cast rounds to a nonzero unscaled value. */
  private final val HalfMicro = 5e-7

  /** `CAST(x AS DECIMAL(38,6))` is defined (non-NULL): NaN and ±Inf
    * cast to NULL in either ANSI mode; out of range is an error under
    * ANSI (raised by [[lo]]) and NULL otherwise.
    */
  def defined(x: Double, ansi: Boolean): Boolean =
    !x.isNaN && !x.isInfinite && (ansi || Math.abs(x) < 9e31 || exact(x, ansi) != null)

  /** Lower 64 bits of the unscaled cast of a defined double.
    *
    * Spark's cast rounds the decimal string of `x` (`Decimal(x)` is
    * `BigDecimal(x.toString)`) HALF_UP at scale 6. The fast path rounds
    * the binary value a = |x|·10^6 instead. The two differ only when a
    * tie at .5 lies between them: the string parses back to x, so it is
    * within ulp(x)/2 of x, and the product is within ulp(a)/2 of
    * |x|·10^6; a fraction farther than twice their sum from .5 rounds
    * the same way both times. Near-ties and large values take the exact
    * path, which is Spark's own cast.
    */
  def lo(x: Double, ansi: Boolean): Long = {
    val a = Math.abs(x) * 1e6
    if (a < FastRange) {
      val fl = Math.floor(a)
      val fr = a - fl
      if (Math.abs(fr - 0.5) > 2 * (Math.ulp(x) * 1e6 + Math.ulp(a))) {
        val m = fl.toLong + (if (fr > 0.5) 1L else 0L)
        return if (x < 0) -m else m
      }
    }
    unscaled(x, ansi).longValue
  }

  /** Upper 64 bits of the unscaled cast of a defined double. Below
    * [[LongRange]] it is the sign extension of [[lo]]: negative exactly
    * when the cast rounds to ≤ −10^-6, i.e. x ≤ −5e-7 (the string is
    * monotone in x, and the double 5e-7 prints as 5.0E-7).
    */
  def hi(x: Double, ansi: Boolean): Long =
    if (Math.abs(x) < LongRange) { if (x <= -HalfMicro) -1L else 0L }
    else unscaled(x, ansi).shiftRight(64).longValue

  def lo(v: Long): Long = v * 1000000L
  def hi(v: Long): Long = Math.multiplyHigh(v, 1000000L)

  def defined(d: Decimal, ansi: Boolean): Boolean = ansi || exact(d, ansi) != null
  def lo(d: Decimal, ansi: Boolean): Long = exact(d, ansi).toJavaBigDecimal.unscaledValue.longValue
  def hi(d: Decimal, ansi: Boolean): Long =
    exact(d, ansi).toJavaBigDecimal.unscaledValue.shiftRight(64).longValue

  private val Target = DecimalType(38, 6)

  /** Spark's cast to DECIMAL(38,6): HALF_UP at scale 6 in range; out of
    * range, the real `Cast` of `in`, which raises
    * NUMERIC_VALUE_OUT_OF_RANGE under ANSI and is NULL otherwise.
    */
  private def cast(d: Decimal, ansi: Boolean, in: => Any): Decimal = {
    val c = d.clone()
    if (c.changePrecision(38, 6)) c
    else Cast(Literal(in), Target, None, if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
      .eval().asInstanceOf[Decimal]
  }

  private def exact(d: Decimal, ansi: Boolean): Decimal = cast(d, ansi, d)
  private def exact(x: Double, ansi: Boolean): Decimal = cast(Decimal(x), ansi, x)

  /** `sum`'s own final step on a DECIMAL(38,6) buffer value (NULL = the
    * buffer overflowed): out of range or NULL raises under ANSI and is
    * NULL otherwise.
    */
  private def checkInSum(d: Decimal, ansi: Boolean): Decimal =
    CheckOverflowInSum(BoundReference(0, Target, nullable = true), Target, !ansi, null)
      .eval(InternalRow(d)).asInstanceOf[Decimal]

  /** One-entry per-thread memo of the exact path: [[lo]] and [[hi]] of
    * one large value run back to back on the same thread.
    */
  private final class Last { var bits = 0L; var v: BigInteger = null }
  private val last = ThreadLocal.withInitial[Last](() => new Last)

  private def unscaled(x: Double, ansi: Boolean): BigInteger = {
    val m = last.get
    val bits = java.lang.Double.doubleToRawLongBits(x)
    if (m.v == null || m.bits != bits) {
      m.v = exact(x, ansi).toJavaBigDecimal.unscaledValue
      m.bits = bits
    }
    m.v
  }

  /** 128-bit overflow mark: hi = Long.MinValue, lo = 0 (−2^127). It is
    * sticky under [[addHi]]/[[addLo]] and lies outside DECIMAL(38,6).
    */
  private def marked(h: Long, l: Long): Boolean = h == Long.MinValue && l == 0L

  /** Upper half of (h1:l1) + (h2:l2); the mark when either is marked or
    * the 128-bit sum overflows.
    */
  def addHi(h1: Long, l1: Long, h2: Long, l2: Long): Long = {
    val l = l1 + l2
    val h = h1 + h2 + (if (java.lang.Long.compareUnsigned(l, l1) < 0) 1L else 0L)
    if (marked(h1, l1) || marked(h2, l2) || ((h1 ^ h) & (h2 ^ h)) < 0) Long.MinValue else h
  }

  /** Lower half of the same sum ([[addHi]]'s partner). */
  def addLo(h1: Long, l1: Long, h2: Long, l2: Long): Long =
    if (addHi(h1, l1, h2, l2) == Long.MinValue) 0L else l1 + l2

  private val TwoTo64 = BigInteger.ONE.shiftLeft(64)

  /** The DECIMAL(38,6) result, or NULL for an empty group. Out of range
    * raises what Spark's decimal sum raises (NUMERIC_VALUE_OUT_OF_RANGE
    * under ANSI, NULL otherwise); a running sum that left the 128-bit
    * range raises what `sum` raises for an overflowed buffer
    * (ARITHMETIC_OVERFLOW under ANSI, NULL otherwise).
    */
  def result(h: Long, l: Long, nonNull: Boolean, ansi: Boolean): Decimal =
    if (!nonNull) null
    else if (marked(h, l)) checkInSum(null, ansi)
    else if (h == (l >> 63) && l > -1000000000000000000L && l < 1000000000000000000L)
      Decimal(l, 38, 6)
    else {
      val u = BigInteger.valueOf(h).shiftLeft(64)
        .add(if (l >= 0) BigInteger.valueOf(l) else BigInteger.valueOf(l).add(TwoTo64))
      checkInSum(Decimal(new JBigDecimal(u, 6)), ansi)
    }
}

/** The unscaled cast `CAST(x AS DECIMAL(38,6))` as one 64-bit half
  * (`high` picks which); NULL where the cast is NULL.
  */
case class Unscaled6(child: Expression, high: Boolean, ansi: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable || !integral
  private def integral = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      val x = v.asInstanceOf[Number].longValue
      if (high) Exact6.hi(x) else Exact6.lo(x)
    case _: DecimalType =>
      val d = v.asInstanceOf[Decimal]
      if (!Exact6.defined(d, ansi)) null
      else if (high) Exact6.hi(d, ansi) else Exact6.lo(d, ansi)
    case _ =>
      val x = v.asInstanceOf[Number].doubleValue
      if (!Exact6.defined(x, ansi)) null
      else if (high) Exact6.hi(x, ansi) else Exact6.lo(x, ansi)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = "graft.functions.Exact6"
    val part = if (high) "hi" else "lo"
    if (integral) defineCodeGen(ctx, ev, c => s"$k.$part((long) $c)")
    else nullSafeCodeGen(ctx, ev, c => {
      val arg = if (child.dataType.isInstanceOf[DecimalType]) c else s"(double) $c"
      s"""
         |if ($k.defined($arg, $ansi)) {
         |  ${ev.value} = $k.$part($arg, $ansi);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Unscaled6 = copy(child = c)
}

/** One half of a 128-bit buffer sum; see [[Exact6.addHi]]. The
  * children are never NULL (the update guards the input).
  */
case class Add128(h1: Expression, l1: Expression, h2: Expression, l2: Expression,
    high: Boolean) extends Expression {

  override def children: Seq[Expression] = Seq(h1, l1, h2, l2)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(row: InternalRow): Any = {
    def v(e: Expression) = e.eval(row).asInstanceOf[Long]
    if (high) Exact6.addHi(v(h1), v(l1), v(h2), v(l2))
    else Exact6.addLo(v(h1), v(l1), v(h2), v(l2))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = children.map(_.genCode(ctx))
    val part = if (high) "addHi" else "addLo"
    ev.copy(code = code"""
      |${cs.map(_.code).mkString("\n")}
      |long ${ev.value} = graft.functions.Exact6.$part(${cs.map(_.value).mkString(", ")});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Add128 = copy(c(0), c(1), c(2), c(3))
}

/** The DECIMAL(38,6) value of a (hi, lo, nonNull) buffer; see
  * [[Exact6.result]].
  */
case class Sum6Result(h: Expression, l: Expression, nonNull: Expression, ansi: Boolean)
    extends TernaryExpression {

  override def first: Expression = h
  override def second: Expression = l
  override def third: Expression = nonNull
  override def dataType: DataType = DecimalType(38, 6)
  override def nullable: Boolean = true

  override def eval(row: InternalRow): Any =
    Exact6.result(h.eval(row).asInstanceOf[Long], l.eval(row).asInstanceOf[Long],
      nonNull.eval(row).asInstanceOf[Boolean], ansi)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (a, b, c) = (h.genCode(ctx), l.genCode(ctx), nonNull.genCode(ctx))
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |${c.code}
      |org.apache.spark.sql.types.Decimal ${ev.value} =
      |  graft.functions.Exact6.result(${a.value}, ${b.value}, ${c.value}, $ansi);
      |boolean ${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Sum6Result =
    copy(h = a, l = b, nonNull = c)
}

/** `sum(CAST(x AS DECIMAL(38,6)))` — the determinism canon's exact sum
  * — with identical values, on a fixed-width buffer of two longs and a
  * flag instead of Spark's unbounded decimal.
  *
  * Spark converts every row to a `BigDecimal`, adds in `BigDecimal` and
  * writes a 38-digit buffer back as bytes; that decimal buffer also
  * keeps HashAggregate off its codegen'd fast map. Here the input is
  * cast to its unscaled value on longs ([[Exact6.lo]]: a rounding that
  * provably agrees with the cast, Spark's cast itself for near-ties
  * and large values), the buffer is a 128-bit integer, and the result
  * is the same DECIMAL(38,6) — NULL for no non-null input, the cast's
  * NULLs skipped, out of range raising what `sum` raises. One
  * divergence is deliberate: a running sum beyond ±2^127 (1.7× the
  * DECIMAL(38,6) maximum, DuckDB's int128 accumulator limit) raises
  * ARITHMETIC_OVERFLOW even if later rows would bring it back in range.
  *
  * The ANSI mode is read once, when the expression is built, as Spark's
  * `sum` and cast do.
  */
case class ExactSum6(child: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "exact_sum6"
  override def dataType: DataType = DecimalType(38, 6)
  override def nullable: Boolean = true
  override def flatArguments: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a numeric argument, got ${t.sql}")
  }

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonNull = AttributeReference("nonNull", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, nonNull)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val (inHi, inLo) = (Unscaled6(child, high = true, ansi), Unscaled6(child, high = false, ansi))
    def add(high: Boolean) = If(IsNull(inLo), if (high) hi else lo,
      Add128(hi, lo, KnownNotNull(inHi), KnownNotNull(inLo), high))
    Seq(add(high = true), add(high = false), Or(nonNull, IsNotNull(inLo)))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add128(hi.left, lo.left, hi.right, lo.right, high = true),
    Add128(hi.left, lo.left, hi.right, lo.right, high = false),
    Or(nonNull.left, nonNull.right))

  override lazy val evaluateExpression: Expression = Sum6Result(hi, lo, nonNull, ansi)

  override protected def withNewChildInternal(c: Expression): ExactSum6 = copy(child = c)
}

object ExactSum6 {
  /** Registry name; `Canon.exactSum` is the Column-API entry point. */
  private[graft] val Name = "graft_exact_sum6"
}
