package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Coalesce, Expression, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule for the reference's J8 pattern (SURVEY §2.3): an inner
  * join whose condition is a top-level OR, e.g. the fraud-rule-1 predicate
  * `bl.passport = v.passport AND bl.entry_dt <= day OR v.valid_to < day`
  * (reference main.py:464-471). Catalyst cannot extract equi keys across
  * an OR, so it plans a nested-loop join — O(n·m) at scale.
  *
  * Rewrite: Join(c₁ OR c₂) → Union(Join(c₁), Join(c₁-is-not-true AND c₂)).
  * The branches are DISJOINT by construction, so no dedup is needed and
  * multiplicity is preserved exactly. Three-valued logic is honored: the
  * original keeps a pair iff c₁=true or c₂=true; branch 2's
  * `NOT coalesce(c₁, false)` is true precisely when c₁ is false OR null.
  * Each branch can now extract its own equi keys → hash join where the
  * original was a nested loop.
  *
  * Applied only when a branch contains an equality — otherwise the rewrite
  * doubles a scan that was going to nested-loop anyway — and only when both
  * disjuncts are deterministic: c₁ is evaluated in both branches, so a
  * non-deterministic c₁ (rand() etc.) could disagree across branches and
  * duplicate or drop rows relative to the original join.
  *
  * Installed by [[graft.plans.GraftExtensions]].
  */
object OrJoinDecomposition extends Rule[LogicalPlan] {

  private def hasEquality(e: Expression): Boolean = e.exists {
    case _: org.apache.spark.sql.catalyst.expressions.EqualTo => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(Or(c1, c2)), hint)
        if j.resolved && (hasEquality(c1) || hasEquality(c2)) &&
          c1.deterministic && c2.deterministic =>
      val b1 = Join(left, right, Inner, Some(c1), hint)
      val notC1 = Not(Coalesce(Seq(c1, Literal(false)))) // true iff c1 false/null
      val b2 = Join(left, right, Inner, Some(And(notC1, c2)), JoinHint.NONE)
      // both branches share children, so their outputs carry the same
      // attribute ids — the same shape as df.union(df), which Union accepts
      Union(Seq(b1, b2))
  }
}
