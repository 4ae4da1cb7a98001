package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: graft_cosine(x, x) → [[SelfCosine]](x).
  *
  * Demonstrates the engine's Rule[LogicalPlan] injection path (SURVEY §7
  * "custom Catalyst work"): a self-similarity call — which shows up when
  * generated pipelines join a table to itself — collapses from a fused
  * three-accumulator loop to a single-accumulator one.
  *
  * A pure optimization, not a semantics change: [[SelfCosine]] computes
  * the unrewritten expression's exact arithmetic, so null, zero-vector,
  * NaN/infinite and extreme-norm inputs answer bit for bit as before.
  * Every graft session runs this rule (graft.Sessions injects the
  * extensions). Only fires on semantically-equal deterministic children
  * (canonicalized).
  */
object CosineSelfSimilarityRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.canonicalized == b.canonicalized &&
          a.deterministic =>
        SelfCosine(a)
    }
}
