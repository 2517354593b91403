package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, sqrt}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product over two numeric arrays — the hot kernel of
  * every embedding operator (cosine top-k, KNN, IVF cells, k-means
  * assignment, near-dup verify).
  *
  * Semantically IDENTICAL to the declarative shape it replaces,
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  *               0.0, (acc, v) -> acc + v) }}}
  *
  * bit for bit: a left-to-right fold accumulating in doubles (same FP
  * order ⇒ same rounding ⇒ DuckDB-oracle hashes are unchanged), NULL
  * when the lengths differ (zip_with pads the short side with nulls,
  * which nulls the fold) and NULL on any null element. The difference
  * is mechanical: `zip_with` + `aggregate` are interpreted
  * higher-order functions that allocate an intermediate array and
  * evaluate a boxed lambda per element, per pair; this expression
  * compiles to a tight primitive loop inside whole-stage codegen —
  * the per-pair cost that dominates the n·k assignment passes at
  * scale (SCALE.md: c38's 100× run is ~90M pair-dots per Lloyd
  * round).
  *
  * Mixed element widths are allowed (embeddings are float[], centroid
  * means are double[]); each element is widened to double exactly as
  * the `CAST(x AS DOUBLE)` in the declarative form did.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "array_dot"
  override def dataType: DataType = DoubleType
  // NULL on length mismatch even for non-null inputs:
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<float|double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = lt match {
        case FloatType => xs.getFloat(i).toDouble
        case _ => xs.getDouble(i)
      }
      val y = rt match {
        case FloatType => ys.getFloat(i).toDouble
        case _ => ys.getDouble(i)
      }
      acc += x * y
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getX = CodeGenerator.getValue(a, elemType(left), i)
      val getY = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double)($getX) * (double)($getY);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  private[functions] val Name = "graft_array_dot"

  /** Column-API entry point: `adot(a, b)` — drop-in for the
    * `aggregate(zip_with(...))` fold it replaces. Registers on the
    * active session on first use.
    */
  def adot(a: Column, b: Column): Column = {
    Kernels.ensureRegistered(SparkSession.active)
    call_function(Name, a, b)
  }

  /** Cosine similarity of two numeric-array columns over [[adot]]
    * (float elements cast to double first — §5.3 rule 7; callers
    * round).
    */
  def cosine(a: Column, b: Column): Column =
    adot(a, b) / (sqrt(adot(a, a)) * sqrt(adot(b, b)))
}
