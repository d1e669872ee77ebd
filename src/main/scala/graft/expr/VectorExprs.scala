package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over numeric arrays.
  *
  * The composable formulation — `aggregate(zip_with(a, b, _*_), 0d, _+_)`
  * — is semantically right but Spark evaluates higher-order functions
  * interpretively (one closure call per element), which dominates the
  * profile of similarity search. This expression is the same
  * left-to-right double accumulation as the fold (so results are
  * bit-identical, including vs the DuckDB `list_reduce` oracle), with
  * whole-stage codegen: the inner loop compiles to a tight Java loop
  * over the columnar array values.
  *
  * Null/shape semantics mirror `zip_with`+`aggregate`: any null element
  * or a length mismatch (zip_with pads with null) yields NULL.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemGetter(e: Expression): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => "getFloat"
      case DoubleType => "getDouble"
      case t => throw new IllegalArgumentException(
        s"ArrayDot supports float/double arrays, got $t")
    }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ArrayDot needs two float/double arrays, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    var sum = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val lGet = elemGetter(left)
    val rGet = elemGetter(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** Column API for ArrayDot (Spark 4 Column↔Expression bridge). */
  def array_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
