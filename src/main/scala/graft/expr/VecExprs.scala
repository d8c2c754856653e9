package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector kernels for the similarity/dedup operators, as compiled Catalyst
  * expressions. The composable form (`aggregate(zip_with(...))`) re-enters
  * the interpreted lambda evaluator per element — fine for one-off columns,
  * ~25µs per 64-dim cosine in the ANN hot loops. These do the same work in
  * a tight single pass (sub-µs) and participate in whole-stage codegen via
  * static kernel calls, so the candidate-pair scoring stages stay inside
  * one codegen span.
  */
private[expr] object VecKernels {
  /** Element read as double regardless of FLOAT/DOUBLE storage. */
  @inline def toDoubles(a: ArrayData, isDouble: Boolean): Array[Double] =
    if (isDouble) a.toDoubleArray()
    else {
      val f = a.toFloatArray()
      val out = new Array[Double](f.length)
      var i = 0
      while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
      out
    }

  def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def isDoubleVec(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
}

/** Cosine similarity of two FLOAT/DOUBLE vectors in one compiled pass
  * (dot and both norms accumulated left-to-right in double precision —
  * bit-identical to the sequential `aggregate(zip_with(...))` fold it
  * replaces, so rank-only oracle outputs are unaffected). Malformed input
  * — a null element, or mismatched lengths — yields NULL, matching the
  * zip_with form (which null-pads the shorter side and poisons the fold)
  * rather than silently scoring truncated/zero-filled vectors. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult =
    if (VecKernels.isVec(left.dataType) && VecKernels.isVec(right.dataType)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires array<float|double> inputs, got ${left.dataType}, ${right.dataType}")
    }

  private lazy val lDouble = VecKernels.isDoubleVec(left.dataType)
  private lazy val rDouble = VecKernels.isDoubleVec(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.computeBoxed(l.asInstanceOf[ArrayData], lDouble,
      r.asInstanceOf[ArrayData], rDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}_r =
         |  graft.expr.CosineSim.computeBoxed($a, $lDouble, $b, $rDouble);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Static kernel shared by interpreted eval and codegen; null on
    * malformed input (length mismatch or null element). */
  def computeBoxed(l: ArrayData, lDouble: Boolean,
      r: ArrayData, rDouble: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      i += 1
    }
    val a = VecKernels.toDoubles(l, lDouble)
    val b = VecKernels.toDoubles(r, rDouble)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}

object VecExprs {
  def cosineSim(a: Column, b: Column): Column =
    exprToColumn(CosineSim(columnToExpr(a), columnToExpr(b)))
}
