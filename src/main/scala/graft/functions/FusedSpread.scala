package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: `fused_spread(bid, ask)` =
  * `(ask - bid) / ((ask + bid) / 2)` — the relative bid/ask spread,
  * fused into ONE codegen'd expression instead of four.
  *
  * This is the §2.10 extension-path proof: a custom `Expression` with
  * `doGenCode` stays inside whole-stage codegen (zero virtual calls
  * per row, no UDF serialization), which is the preferred way to add
  * scalar functions the engine lacks. Registered for SQL by
  * [[GraftExtensions.install]].
  */
case class FusedSpread(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "fused_spread"

  override protected def nullSafeEval(bid: Any, ask: Any): Any = {
    val b = bid.asInstanceOf[Double]; val a = ask.asInstanceOf[Double]
    val mid = (a + b) / 2.0
    if (mid == 0.0) 0.0 else (a - b) / mid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, a) => {
      val mid = ctx.freshName("mid")
      s"""
         |double $mid = ($a + $b) / 2.0;
         |${ev.value} = ($mid == 0.0) ? 0.0 : ($a - $b) / $mid;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FusedSpread =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  private[functions] def toDouble(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  /** Column-API entry point (no registration needed). */
  def fusedSpread(bid: Column, ask: Column): Column =
    GraftSqlBridge.column(
      FusedSpread(toDouble(GraftSqlBridge.expression(bid)),
        toDouble(GraftSqlBridge.expression(ask))))
}
