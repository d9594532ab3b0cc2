package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd dot product over two `array<float>` columns,
  * accumulating in double strictly left-to-right.
  *
  * Why a custom Catalyst Expression (SURVEY.md §7 preference order (b)):
  * the composable form — `aggregate(zip_with(a, b, ...), 0D, +)` — is
  * evaluated by the interpreted HigherOrderFunction path and allocates an
  * intermediate array per row; on 4M-pair similarity joins that's the
  * whole runtime. This expression compiles to a tight loop inside
  * whole-stage codegen, with IDENTICAL summation order (left-to-right in
  * double), so results stay bit-for-bit equal to the HOF form and to the
  * DuckDB oracle's list_reduce.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are always array<float> at our call sites (embeddings table);
  // no ExpectsInputTypes — AbstractDataType is private[sql] in Spark 4.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** The SQL surface: idempotent per-session registration, after which
    * `graft_vec_dot(a, b)` is usable in SQL text. Query builders call
    * the kernels as Columns ([[graft.functions]]) and never need it. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_vec_dot", exprs => VecDot(exprs(0), exprs(1)), "scala_udf")
    // SQL surface for Spark's internal BloomFilterMightContain (the
    // engine registers bloom_filter_agg but keeps the probe side
    // runtime-filter-internal): graft_might_contain(bloomBinary, xxhash64(x)).
    // The bloom argument must be foldable — pass it as unbase64('...')
    // of a driver-built filter (see q_contamination_bloom).
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)),
      "scala_udf")
    // ...and its build side (BloomFilterAggregate is likewise internal):
    // graft_bloom_agg(xxhash64(x), estimatedNumItems, numBits) -> binary
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
        .toAggregateExpression(),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lcp", exprs => Lcp(exprs(0), exprs(1)), "scala_udf")
  }
}
