package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Custom Catalyst expressions for the vector-similarity hot path.
  *
  * The declarative formulation (`aggregate(zip_with(a,b,f),0,+)`) is
  * correct but Spark evaluates higher-order functions interpreted —
  * per-element lambda dispatch dominated the similarity benchmark. A
  * [[VectorFold]] is the same left-to-right IEEE double summation of a
  * per-element term as the HOF fold (so results stay bit-identical with
  * the DuckDB oracle's `list_sum`) compiled to a tight loop via
  * `doGenCode` — preference order (b) of SURVEY.md §7.3: a native codegen
  * Expression, not a UDF.
  *
  * Arrays must be float or double vectors; each element is widened to
  * double before the term, and evaluation uses the minimum length
  * (embedding columns are fixed-width).
  */
abstract class VectorFold extends BinaryExpression {

  /** The per-element term over the widened pair, accumulated in order. */
  protected def term(x: Double, y: Double): Double

  /** [[term]] as a Java expression over two double locals. */
  protected def termCode(x: String, y: String): String

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val (lf, rf) = (elemIsFloat(left), elemIsFloat(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += term(x, y)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, elemIsFloat(left))};
         |  double $y = ${get(b, elemIsFloat(right))};
         |  $s += ${termCode(x, y)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** Dot product Σaᵢbᵢ — the cosine/IVF hot path. */
case class ArrayDot(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "array_dot"
  protected def term(x: Double, y: Double): Double = x * y
  protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance Σ(aᵢ−bᵢ)² — the PQ-encode/ADC hot path: widen,
  * subtract, square, accumulate, like the HOF fold
  * `aggregate(zip_with(a,b,(x,y)=>(x−y)²),0,+)` it replaces. */
case class ArrayL2(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "array_l2"
  protected def term(x: Double, y: Double): Double = { val d = x - y; d * d }
  protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExprs {
  /** Codegen'd dot product: same operand order as a sequential fold. */
  def array_dot(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd squared L2 distance: same operand order as the HOF fold. */
  def array_l2(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayL2(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
