package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion, Cast, Divide, EvalMode, If, IsNull, Literal, Or, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.JaccardExpr

/** Optimizer rule: rewrite the builtin set-Jaccard composition
  *
  * {{{
  * CAST(size(array_intersect(a, b)) AS DOUBLE) /
  * CAST(size(array_union(a, b)) AS DOUBLE)
  * }}}
  *
  * into the native one-pass [[graft.functions.JaccardExpr]] whenever
  * both occurrences reference the same `a`/`b` (semantic equality) and
  * the element type is bigint or string. The builtin form materializes
  * an intersect array AND a union array per row pair; the native
  * expression computes both cardinalities in a single hash-set pass —
  * on the near-dup verify join (the one place a 100 TB dedup run
  * evaluates Jaccard millions of times) this is the difference between
  * three array allocations per pair and zero.
  *
  * Value-preserving by MODE-FAITHFUL construction (pinned by
  * PlanRulesSpec):
  *   - set semantics, null-ELEMENT counting, and 0/0 → NULL match the
  *     builtin composition directly;
  *   - a null ARRAY input: with `spark.sql.legacy.sizeOfNull=true`
  *     (Spark's default once ANSI is off — i.e. in every GraftSession)
  *     `size(NULL) = -1` makes the composition (-1)/(-1) = 1.0, so the
  *     rewrite wraps the native expression in
  *     `IF(isnull(a) OR isnull(b), 1.0, jaccard)`; with legacy size
  *     off both forms yield NULL and no wrapper is emitted;
  *   - an ANSI-mode Divide is left alone entirely — it must keep
  *     raising DIVIDE_BY_ZERO on empty unions (EvalMode.TRY's NULL
  *     matches ours and is accepted).
  * This is the (c) tier of the operator preference ladder: a
  * `Rule[LogicalPlan]` registered through
  * `SparkSessionExtensions.injectOptimizerRule`
  * ([[graft.GraftExtensions]]) and
  * `spark.experimental.extraOptimizations` (GraftSession.tuned, applied
  * where a session enters the library).
  */
object JaccardRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // Size's second field is its captured legacySizeOfNull; both Size
    // nodes in one composition always agree, but guard anyway
    case Divide(
        Cast(Size(ArrayIntersect(a1, b1), legacy1), DoubleType, _, _),
        Cast(Size(ArrayUnion(a2, b2), legacy2), DoubleType, _, _), evalContext)
        if evalContext.evalMode != EvalMode.ANSI && legacy1 == legacy2 &&
          JaccardExpr.supports(a1.dataType, b1.dataType) &&
          a1.semanticEquals(a2) && b1.semanticEquals(b2) =>
      val native = JaccardExpr(a1, b1)
      if (legacy1) If(Or(IsNull(a1), IsNull(b1)), Literal(1.0), native)
      else native
  }
}
