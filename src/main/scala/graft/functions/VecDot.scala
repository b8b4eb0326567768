package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the dense-vector dot product — a hot
  * scalar kernel the built-in surface can't express efficiently
  * (SURVEY §4: "a native Expression with doGenCode beats a Scala UDF").
  *
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` allocates an intermediate
  * array and walks three higher-order-function closures per row;
  * similarity search evaluates it |queries|×|corpus| times. This compiles
  * to a tight fused multiply-add loop inside whole-stage codegen —
  * no allocation, no virtual calls — with an interpreted `nullSafeEval`
  * fallback for non-codegen paths.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> inputs, got ${l.sql} and ${r.sql}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName per instance: several VecDots can land in one codegen
      // scope (e.g. cosine builds three in a single projection), and with
      // non-nullable children nullSafeCodeGen emits no brace scope around
      // this block — fixed identifiers would redeclare and break janino.
      val n = ctx.freshName("vecDotN")
      val s = ctx.freshName("vecDotS")
      val i = ctx.freshName("vecDotI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object VecDot {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    ColumnShim.column(VecDot(ColumnShim.expression(a), ColumnShim.expression(b)))
}
