package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bit-parallel Levenshtein kernel (Myers 1999; Hyyrö 2001's
  * global-distance formulation and 2003 block generalization — all
  * public, the same algorithm family DuckDB's `levenshtein` and edlib
  * run). One DP COLUMN of the classic matrix is encoded as two bit
  * vectors (positive/negative vertical deltas), advanced per text
  * character with ~15 word operations per 64 pattern rows — ~64×
  * fewer operations than the cell-at-a-time DP.
  *
  * Why it exists (round-13 c117 100× rehearsal): Spark's builtin
  * `levenshtein` walks the full O(m·n) cell matrix over UTF-8 code
  * points at ~0.7 ms per ~300-char pair (measured, micro-bench in
  * the r13 session), and its threshold variant saves nothing when
  * the band (2k+1 columns) is as wide as the strings. Verifying the
  * 29.7M LSH candidate pairs of the 100×-docs corpus at 0.7 ms each
  * is ~6 CPU-hours; this kernel does the identical computation in
  * ~10–20 µs per pair. DISTANCES ARE EXACT — the same integer the
  * classic DP yields — which EditDistanceSpec pins property-style
  * against an independent reference DP and Spark's own builtin, and
  * the unchanged DuckDB oracle pins cross-engine.
  *
  * Semantics matched to Spark/DuckDB `levenshtein`: unit costs,
  * compared code-point-wise (supplementary characters count one),
  * d("", s) = |s| in code points.
  */
object EditKernel {

  /** Exact Levenshtein distance in code points. Static-forwarded so
    * whole-stage codegen calls it directly (the [[ArrayDot]]
    * discipline: a tight primitive kernel inside the generated
    * pipeline, never an interpreted fallback or a boxed UDF).
    */
  def distance(a: UTF8String, b: UTF8String): Int = {
    if (a.equals(b)) return 0 // byte-equality fast path (exact dups)
    val ca = codePoints(a)
    val cb = codePoints(b)
    // The shorter string is the bit-vector (pattern) side: block
    // count — the per-text-char cost — scales with min(m, n).
    val (p, t) = if (ca.length <= cb.length) (ca, cb) else (cb, ca)
    if (p.length == 0) return t.length
    myersBlocked(p, t)
  }

  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    val out = new Array[Int](n)
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** Hyyrö-blocked Myers over code-point arrays; `p` is the pattern
    * (rows, bit-encoded, length m ≥ 1), `t` the text (columns).
    *
    * Per column j the horizontal delta `h` enters the top row at +1
    * (global alignment: row 0 costs j) and propagates block to block;
    * the running score tracks the BOTTOM cell via the last block's
    * bit (m−1) & 63. The last block is partial — bits ≥ m hold junk
    * that only ever propagates UPWARD (addition carries, shifts), so
    * the tracked bit stays exact without edlib's wildcard padding.
    */
  private def myersBlocked(p: Array[Int], t: Array[Int]): Int = {
    val m = p.length
    val nBlocks = (m + 63) >> 6
    val lastBit = 1L << ((m - 1) & 63)
    // Peq[c]: bit i set iff p(i) == c. ASCII dense, the rest mapped.
    val asciiPeq = new Array[Long](128 * nBlocks)
    var otherPeq: java.util.HashMap[Integer, Array[Long]] = null
    var i = 0
    while (i < m) {
      val c = p(i)
      if (c < 128) asciiPeq(c * nBlocks + (i >> 6)) |= 1L << (i & 63)
      else {
        if (otherPeq == null) otherPeq = new java.util.HashMap()
        var arr = otherPeq.get(c)
        if (arr == null) { arr = new Array[Long](nBlocks); otherPeq.put(c, arr) }
        arr(i >> 6) |= 1L << (i & 63)
      }
      i += 1
    }
    val pv = new Array[Long](nBlocks)
    val mv = new Array[Long](nBlocks)
    java.util.Arrays.fill(pv, -1L)
    var score = m
    var j = 0
    while (j < t.length) {
      val c = t(j)
      val peq =
        if (c < 128) asciiPeq
        else null
      val mapped =
        if (c >= 128 && otherPeq != null) otherPeq.get(c)
        else null
      var h = 1 // top row of the column costs +1
      var b = 0
      while (b < nBlocks) {
        val eq0 =
          if (peq != null) peq(c * nBlocks + b)
          else if (mapped != null) mapped(b)
          else 0L
        val pvb = pv(b)
        val mvb = mv(b)
        val xv = eq0 | mvb
        val eq = if (h < 0) eq0 | 1L else eq0
        val xh = (((eq & pvb) + pvb) ^ pvb) | eq
        var ph = mvb | ~(xh | pvb)
        var mh = pvb & xh
        val hb = if (b == nBlocks - 1) lastBit else 1L << 63
        val hout = (if ((ph & hb) != 0L) 1 else 0) - (if ((mh & hb) != 0L) 1 else 0)
        ph <<= 1
        mh <<= 1
        if (h < 0) mh |= 1L else if (h > 0) ph |= 1L
        pv(b) = mh | ~(xv | ph)
        mv(b) = ph & xv
        h = hout
        b += 1
      }
      score += h
      j += 1
    }
    score
  }
}

/** The Catalyst expression over [[EditKernel]] — value-identical to
  * Spark's `levenshtein(l, r)` (EditDistanceSpec pins the equality
  * property-style), compiled as a direct static call inside
  * whole-stage codegen.
  */
case class EditDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "edit_distance"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType.isInstanceOf[StringType]
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two string arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    EditKernel.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.EditKernel.distance($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDistance =
    copy(left = newLeft, right = newRight)
}

object EditDistance {
  private[functions] val Name = "graft_edit_distance"

  /** Column-API entry point: exact Levenshtein distance (INT). */
  def edist(a: Column, b: Column): Column = {
    Kernels.ensureRegistered(SparkSession.active)
    org.apache.spark.sql.functions.call_function(Name, a, b)
  }
}
