package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** md5 digests read as hex-digit integers, on a per-thread
  * `MessageDigest` and without building the 32-character hex string.
  * Static-forwarded, so the generated code calls it directly.
  */
object Md5Kernel {

  private final class State {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  /** Hex digits `[start, start + len)` (1-based; clipped at digit 32)
    * of md5(`bytes`) as an unsigned integer.
    */
  def prefix(bytes: Array[Byte], start: Int, len: Int): Long = {
    val s = state.get
    s.md.update(bytes)
    digits(s, start, len)
  }

  /** As above over the UTF-8 bytes of `str` (Spark's md5 of a string). */
  def prefix(str: UTF8String, start: Int, len: Int): Long = {
    val s = state.get
    s.md.update(str.getByteBuffer)
    digits(s, start, len)
  }

  private def digits(s: State, start: Int, len: Int): Long = {
    s.md.digest(s.out, 0, 16)
    var v = 0L
    var i = start - 1
    val end = math.min(start - 1 + len, 32)
    while (i < end) {
      val b = s.out(i >> 1)
      v = (v << 4) | (if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf)
      i += 1
    }
    v
  }
}

/** `md5_prefix(x, start, len)`: the BIGINT value of hex digits
  * `[start, start + len)` of `md5(x)` — exactly what
  * `conv(substring(md5(x), start, len), 16, 10)` parses, as a number
  * instead of a decimal string. `start` (1..32) and `len` (1..15, so
  * the value fits a BIGINT) are integer constants; digits past 32 are
  * clipped as `substring` clips them. String input is hashed as its
  * UTF-8 bytes, like Spark's `md5`; NULL in gives NULL out.
  */
case class Md5Prefix(child: Expression, start: Expression, len: Expression)
    extends TernaryExpression {

  override def first: Expression = child
  override def second: Expression = start
  override def third: Expression = len
  override def prettyName: String = "md5_prefix"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  private lazy val s = start.eval().asInstanceOf[Int]
  private lazy val n = len.eval().asInstanceOf[Int]

  override def checkInputDataTypes(): TypeCheckResult = {
    def const(e: Expression, lo: Int, hi: Int) = e.foldable && e.dataType == IntegerType && {
      val v = e.eval()
      v != null && v.asInstanceOf[Int] >= lo && v.asInstanceOf[Int] <= hi
    }
    val input = child.dataType.isInstanceOf[StringType] || child.dataType == BinaryType
    if (input && const(start, 1, 32) && const(len, 1, 15)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (string|binary, start INT constant in 1..32, " +
        s"len INT constant in 1..15), got (${child.dataType.sql}, ${start.sql}, ${len.sql})")
  }

  override def eval(row: InternalRow): Any = child.eval(row) match {
    case null => null
    case str: UTF8String => Md5Kernel.prefix(str, s, n)
    case bytes: Array[Byte] => Md5Kernel.prefix(bytes, s, n)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |long ${ev.value} = ${ev.isNull} ? -1L : graft.functions.Md5Kernel.prefix(${c.value}, $s, $n);
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): Md5Prefix =
    copy(child = a, start = b, len = c)
}

object Md5Prefix {
  /** Registry name (also the name SQL strings call); `Canon.md5Prefix`
    * is the Column-API entry point.
    */
  private[graft] val Name = "graft_md5_prefix"
}
