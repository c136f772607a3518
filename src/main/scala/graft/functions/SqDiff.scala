package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native squared-L2 distance of two `array<double>` columns — the
  * [[DotProduct]] pattern applied to the ANN distance kernel proper (r18):
  * the HOF form (`aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0,
  * _+_)`) allocates an intermediate
  * array and interprets two lambdas per element OUTSIDE whole-stage
  * codegen — measured as the dominant per-row cost once the r18
  * literal-centroid argmin made distance evaluation the hot loop. This
  * generates a fused primitive loop.
  *
  * Semantics match the HOF version bit-for-bit on equal-length vectors
  * (the only case ANN sees): left-to-right IEEE accumulate of
  * `(a_i-b_i)²`. Null elements in the accumulated prefix yield NULL like
  * the HOF chain; on a length mismatch this uses the common prefix where
  * the HOF form nulls out (the documented [[DotProduct]] difference).
  */
case class SqDiffDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdiff"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val d = xs.getDouble(i) - ys.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDiffDouble =
    copy(left = newLeft, right = newRight)
}

/** [[SqDiffDouble]] over `array<long>` (the fixed-point ANN family).
  * Integer sums are order-independent, so the value is bit-identical to
  * the HOF fold; overflow throws via Math.*Exact, matching the ANSI-mode
  * arithmetic the HOF form runs under (never a silent wrap).
  */
case class SqDiffLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdiff_long"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val d = math.subtractExact(xs.getLong(i), ys.getLong(i))
      acc = math.addExact(acc, math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  long $d = java.lang.Math.subtractExact($a.getLong($i), $b.getLong($i));
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDiffLong =
    copy(left = newLeft, right = newRight)
}
