package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one place the engine adds its Catalyst pieces to a session: the
  * `fused_spread` function, the [[SimplifySelfSpread]] rule and the
  * as-of join strategy. Idempotent, so [[graft.GraftSession.local]] and
  * every key that needs a piece call it: a key may be handed any
  * session, a `newSession()` with a fresh `SessionState` included. */
object GraftExtensions {
  private val FusedSpreadId = FunctionIdentifier("fused_spread")

  def install(spark: SparkSession): Unit = synchronized { // check-then-append
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FusedSpreadId))
      registry.registerFunction(FusedSpreadId,
        new ExpressionInfo(classOf[FusedSpread].getName, "fused_spread"),
        (c: Seq[Expression]) => FusedSpread(GraftFunctions.toDouble(c(0)), GraftFunctions.toDouble(c(1))))
    val x = spark.experimental
    if (!x.extraOptimizations.contains(SimplifySelfSpread))
      x.extraOptimizations = x.extraOptimizations :+ SimplifySelfSpread
    if (!x.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      x.extraStrategies = x.extraStrategies :+ graft.plans.AsOfJoinStrategy
  }
}
