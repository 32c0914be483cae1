package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Abs, EqualTo, Expression, If,
  IsNaN, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Custom optimizer rule (the `Rule[LogicalPlan]` extension surface):
  * `fused_spread(x, x)` is identically 0.0 for every FINITE non-null
  * x — including the mid == 0 case, which [[FusedSpread]] defines as
  * 0.0. Non-finite inputs must keep their IEEE-754 behavior: for
  * x = NaN the original evaluates NaN/NaN = NaN, and for x = ±Inf it
  * evaluates NaN/±Inf = NaN (Inf − Inf is NaN) — so the fold is
  *   if(isnull(x), null, if(isnan(x) or abs(x) = Inf, NaN, 0.0))
  * which is exactly null-, NaN-, and Inf-preserving. (x appears three
  * times, but it is only folded when deterministic, and codegen
  * subexpression elimination collapses the duplicates.)
  *
  * Installed by [[GraftExtensions.install]] (`extraOptimizations`);
  * the spec also applies it directly to analyzed plans. A degenerate
  * self-spread appears in real queries through view composition and
  * column aliasing — the rule removes the arithmetic before codegen.
  */
object SimplifySelfSpread extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case FusedSpread(a, b) if a.deterministic && a.semanticEquals(b) =>
        If(IsNull(a), Literal(null, DoubleType),
          If(Or(IsNaN(a), EqualTo(Abs(a), Literal(Double.PositiveInfinity))),
            Literal(Double.NaN), Literal(0.0)))
    }
}
