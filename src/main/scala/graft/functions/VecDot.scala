package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over two float- or double-array columns.
  *
  * Replaces the `zip_with + aggregate` higher-order-function formulation,
  * which falls out of whole-stage codegen and allocates an intermediate
  * array per row — measured at sf0.1 (2M vector pairs, 64 dims): HOF form
  * ~19 s, this expression ~1 s (SURVEY §4.3: custom Expression only after
  * a measured BENCH need — this is that case).
  *
  * Each side may independently be array<float> or array<double> — the
  * mixed form is the k-means assignment's hot path (float embedding ×
  * double centroid), where the HOF fold was the dominant cost of the
  * adaptive-k quantizer (n·k dot products per Lloyd pass).
  *
  * Semantics are identical to the HOF form and to the DuckDB oracle's
  * list_reduce fold: elements are widened float→double (exact) and
  * accumulated left-to-right in index order, so results stay bit-equal
  * across engines and across cluster sizes.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  // AbstractDataType is private[sql] in Spark 4, so instead of
  // ExpectsInputTypes the input contract is checked explicitly.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects each input to be array<float> or array<double>, " +
        s"got (${left.dataType}, ${right.dataType})")
  }

  /** Per-side element width: widening float→double is exact, so reading a
    * float element as `(double) getFloat(i)` and a double element as
    * `getDouble(i)` yields the identical fold either way.
    */
  private def isDoubleSide(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val leftDouble = isDoubleSide(left)
  private lazy val rightDouble = isDoubleSide(right)

  override def dataType: DataType = DoubleType

  /** NULL in, NULL out — beyond the nullSafe input handling, the result is
    * also NULL on length mismatch and on any NULL element, matching both the
    * zip_with+aggregate HOF form (null product poisons the fold) and the
    * DuckDB list_reduce oracle. So the expression may be null even when both
    * inputs are non-null.
    */
  override def nullable: Boolean = true

  /** Whether either child's array type admits null elements; when false the
    * generated loop carries no per-element null checks (the hot path for
    * schema-declared non-null embeddings).
    */
  private lazy val elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elementsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xv = if (leftDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rightDouble) y.getDouble(i) else y.getFloat(i).toDouble
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val xv = if (leftDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val yv = if (rightDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $xv * $yv;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object VecDot {

  /** Column-API entry point: `vec_dot(a, b)` (bridged via [[ColumnBridge]]). */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.toColumn(VecDot(ColumnBridge.toExpr(a), ColumnBridge.toExpr(b)))
}
