package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two `array<double>` columns.
  * A float array (a stored `vectors` slice read as written, or a
  * snapshot's `vectors` table) is cast to `array<double>` at analysis,
  * which widens each element exactly; a double array plans no cast.
  *
  * The HOF formulation `aggregate(zip_with(a,b,*), 0, +)` allocates an
  * intermediate array and evaluates a lambda per element; this
  * expression is a primitive loop with `doGenCode`, keeping ANN scoring
  * and cosine-dedup inside whole-stage codegen (SURVEY.md §2.9 —
  * "custom Expression beats UDF"). Summation is sequential in index
  * order, matching the HOF and SQL-oracle semantics.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    DotProduct.dot(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProduct.dot($a, $b);")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object DotProduct {
  /** Sequential-order primitive loop shared by eval and codegen. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  def apply(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))
}
