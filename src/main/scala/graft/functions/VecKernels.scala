package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.GraftSqlBridge.{elementAtError, integralDivideOverflow}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels of the quantized-vector family (the trained-ANN SQ8/PQ
  * serving path, k-means) and of the whitespace tokenizer. Each replaces
  * one `graft.oracle.SparkSql` fragment that Spark evaluates per element
  * through the interpreted higher-order-function path (`transform`,
  * `zip_with`, `aggregate`, `filter`), and each is bit-identical to it:
  * the same values, the same nulls, and the same errors ANSI mode raises
  * (the `failOnError` argument is the session's `spark.sql.ansi.enabled`
  * when the Column is built, as for Spark's own arithmetic; with it off,
  * overflow wraps and an out-of-range `element_at` reads null).
  *
  *  - [[quantize]]: `transform(v, x -> CAST(floor(CAST(x AS DOUBLE) *
  *    scale + 0.5) AS BIGINT))` — floor, then a saturating double→long
  *    conversion (NaN → 0, ±Inf → Long.MaxValue/MinValue).
  *  - [[dist2]]: `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
  *    0L, (acc, x) -> acc + x)` — null when a length differs or any
  *    element is null; every element's subtract and multiply is checked
  *    before the sum, as `zip_with` builds its array first.
  *  - [[sub]]: `zip_with(a, b, (x, y) -> x - y)` — the longer length,
  *    the shorter side padded with null elements.
  *  - [[sq8]]: the SQ8 encode-decode `transform(sequence(1, n), dd ->
  *    mn[dd] + ((CASE WHEN mx[dd] = mn[dd] THEN 0 ELSE (255 * (v[dd] -
  *    mn[dd])) div (mx[dd] - mn[dd]) END) * (mx[dd] - mn[dd])) div 255)`
  *    over codec arrays of n = |mn| dims, in Spark's evaluation order
  *    (`div` reads its divisor first; `+` and `*` stop at a null left).
  *  - [[tokens]]: `filter(split(text, ' '), t -> t <> '')` — the maximal
  *    runs of characters other than the ASCII space (tabs stay inside
  *    tokens).
  *
  * The expressions generate one call into these static methods, the
  * [[TextHashKernels]] pattern, so every stage runs the same
  * JIT-compiled loop. */
object VecKernels {

  // Spark's own overflow checks: ANSI raises ARITHMETIC_OVERFLOW with the
  // try_* hint (the context-taking overloads carry it; no query context)
  private def subL(x: Long, y: Long, fail: Boolean): Long =
    if (fail) MathUtils.subtractExact(x, y, null) else x - y
  private def mulL(x: Long, y: Long, fail: Boolean): Long =
    if (fail) MathUtils.multiplyExact(x, y, null) else x * y
  private def addL(x: Long, y: Long, fail: Boolean): Long =
    if (fail) MathUtils.addExact(x, y, null) else x + y

  /** array<float> → array<bigint>: floor(x·scale + 0.5) per element. */
  def quantize(v: ArrayData, scale: Long): ArrayData = {
    val n = v.numElements()
    val s = scale.toDouble
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) out.setNullAt(i)
      else out.setLong(i, math.floor(v.getFloat(i).toDouble * s + 0.5).toLong)
      i += 1
    }
    out
  }

  /** Exact squared L2 of two BIGINT vectors; null (a null `Long`) when
    * the lengths differ or an element is null. */
  def dist2(a: ArrayData, b: ArrayData, fail: Boolean): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var acc = 0L
    var isNull = false // a null element so far: the sum stops there
    // an add overflow is raised only once every element has been built,
    // as zip_with's multiply/subtract errors come first; the padding a
    // length mismatch adds comes after every real element
    var addOverflow: ArithmeticException = null
    var i = 0
    val n = math.min(na, nb)
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) isNull = true
      else {
        val t = subL(a.getLong(i), b.getLong(i), fail)
        val sq = mulL(t, t, fail)
        if (!isNull && addOverflow == null) {
          try acc = addL(acc, sq, fail)
          catch { case e: ArithmeticException => addOverflow = e }
        }
      }
      i += 1
    }
    if (addOverflow != null) throw addOverflow
    if (isNull || na != nb) null else java.lang.Long.valueOf(acc)
  }

  /** Element-wise a − b over the longer length, null past the shorter. */
  def sub(a: ArrayData, b: ArrayData, fail: Boolean): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = UnsafeArrayData.createFreshArray(math.max(na, nb), 8)
    var i = 0
    while (i < out.numElements()) {
      if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) out.setNullAt(i)
      else out.setLong(i, subL(a.getLong(i), b.getLong(i), fail))
      i += 1
    }
    out
  }

  /** SQ8 reconstruction of `v` (null reads as all-null elements) under
    * the per-dim codec (mn, mx). */
  def sq8(v: ArrayData, mn: ArrayData, mx: ArrayData, fail: Boolean): ArrayData = {
    val n = mn.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (v != null && i < v.numElements() && i < mx.numElements() &&
          !v.isNullAt(i) && !mn.isNullAt(i) && !mx.isNullAt(i))
        out.setLong(i, sq8Dim(v.getLong(i), mn.getLong(i), mx.getLong(i), fail))
      else {
        val r = sq8At(v, mn, mx, i, fail)
        if (r == null) out.setNullAt(i) else out.setLong(i, r)
      }
      i += 1
    }
    out
  }

  /** One dim with every operand present; the same operations in the
    * same order as [[sq8At]]. */
  private def sq8Dim(x: Long, mn: Long, mx: Long, fail: Boolean): Long = {
    val code =
      if (mx == mn) 0L
      else {
        val den = subL(mx, mn, fail)
        val num = mulL(255L, subL(x, mn, fail), fail)
        if (fail && num == Long.MinValue && den == -1L) throw integralDivideOverflow()
        num / den
      }
    addL(mn, mulL(code, subL(mx, mn, fail), fail) / 255L, fail)
  }

  /** `element_at(arr, i + 1)`, boxed; null for a null array or element. */
  private def at(arr: ArrayData, i: Int, fail: Boolean): java.lang.Long =
    if (arr == null) null
    else if (i >= arr.numElements()) {
      if (fail) throw elementAtError(i + 1, arr.numElements())
      null
    } else if (arr.isNullAt(i)) null
    else java.lang.Long.valueOf(arr.getLong(i))

  /** One dim that may read a null or out-of-range element: `mn` first
    * (a null ends the dim unevaluated), then `mx`; a null `mx` makes the
    * divisor null before `v` is read. */
  private def sq8At(v: ArrayData, mnA: ArrayData, mxA: ArrayData, i: Int,
      fail: Boolean): java.lang.Long = {
    val mn = at(mnA, i, fail)
    if (mn == null) return null
    val mx = at(mxA, i, fail)
    if (mx != null && mx.longValue == mn.longValue) return mn
    if (mx == null) return null
    subL(mx, mn, fail) // the divisor, read before v
    val x = at(v, i, fail)
    if (x == null) null else sq8Dim(x, mn, mx, fail)
  }

  /** Non-empty space-separated tokens of a string: Spark's own split
    * (decode, `String.split(" ", -1)`, encode each piece), then the
    * empty pieces dropped in the same loop instead of by a lambda. */
  def tokens(s: UTF8String): ArrayData =
    new GenericArrayData(s.toString.split(" ", -1)
      .collect { case t if t.nonEmpty => UTF8String.fromString(t): Any })
}

/** `quantize(v, scale)`: [[VecKernels.quantize]] over an array<float>. */
case class QuantizeExpr(child: Expression, scale: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_quantize"
  override protected def nullSafeEval(v: Any): Any =
    VecKernels.quantize(v.asInstanceOf[ArrayData], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.quantize($c, ${scale}L)")
  override protected def withNewChildInternal(c: Expression): QuantizeExpr =
    copy(child = c)
}

/** `dist2(a, b)`: [[VecKernels.dist2]] over two array<bigint>. */
case class Dist2Expr(left: Expression, right: Expression, failOnError: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dist2"
  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null
    else {
      val b = right.eval(input)
      if (b == null) null
      else VecKernels.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        failOnError)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("d2")
      s"""java.lang.Long $r =
         |  graft.functions.VecKernels.dist2($a, $b, $failOnError);
         |if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Dist2Expr = copy(left = l, right = r)
}

/** `sub(a, b)`: [[VecKernels.sub]] over two array<bigint>. */
case class VecSubExpr(left: Expression, right: Expression, failOnError: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_sub"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], failOnError)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.sub($a, $b, $failOnError)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): VecSubExpr = copy(left = l, right = r)
}

/** `sq8(v, mn, mx)`: [[VecKernels.sq8]]; null when a codec array is
  * null, never when only `v` is (its dims then read null). */
case class Sq8Expr(v: Expression, mn: Expression, mx: Expression,
    failOnError: Boolean) extends TernaryExpression {
  override def first: Expression = v
  override def second: Expression = mn
  override def third: Expression = mx
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = mn.nullable || mx.nullable
  override def prettyName: String = "graft_sq8"
  override def eval(input: InternalRow): Any = {
    val a = mn.eval(input)
    val b = mx.eval(input)
    if (a == null || b == null) null
    else VecKernels.sq8(v.eval(input).asInstanceOf[ArrayData],
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], failOnError)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (ve, ne, xe) = (v.genCode(ctx), mn.genCode(ctx), mx.genCode(ctx))
    ev.copy(code = code"""
      ${ve.code}
      ${ne.code}
      ${xe.code}
      boolean ${ev.isNull} = ${ne.isNull} || ${xe.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.VecKernels.sq8(
          ${ve.isNull} ? null : ${ve.value}, ${ne.value}, ${xe.value}, $failOnError);
      }""")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Expr =
    copy(v = f, mn = s, mx = t)
}

/** `tokens(text)`: [[VecKernels.tokens]]. */
case class TokensExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "graft_tokens"
  override protected def nullSafeEval(s: Any): Any =
    VecKernels.tokens(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.tokens($c)")
  override protected def withNewChildInternal(c: Expression): TokensExpr =
    copy(child = c)
}
