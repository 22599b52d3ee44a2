package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: band every Levenshtein comparison against an integer
  * literal.
  *
  * SQL users naturally write `WHERE levenshtein(a, b) <= 30` — the
  * unbanded form, an O(|a|·|b|) dynamic program per pair. Spark ships a
  * threshold variant (`levenshtein(a, b, k)`, Ukkonen's |i−j| ≤ k
  * diagonal band) that answers exactly the same predicate in O(max(|a|,
  * |b|)·k) by returning the true distance when it is ≤ k and −1
  * otherwise — but only when the caller asks for it explicitly. This
  * rule closes that gap the Catalyst way: a `Rule[LogicalPlan]` that
  * rewrites the comparison, wherever it appears (Filter, Join condition,
  * CASE arm), into the banded form. For the 30-char threshold on the
  * `documents` corpus the band is ~60× less DP work per pair; the
  * natural-SQL path (q91) then costs the same as the hand-banded
  * DataFrame program (q90).
  *
  * Soundness (the banded contract: result = dist if dist ≤ k else −1;
  * NULL in → NULL out on both forms, and every rewrite maps NULL → NULL
  * since the comparison against a non-null literal stays NULL):
  *   - `lev ≤ k`  ⟺ dist ≤ k   ⟺ `banded_k ≥ 0`
  *   - `lev < k`  ⟺ dist ≤ k−1 ⟺ `banded_{k−1} ≥ 0`   (k ≥ 1)
  *   - `lev > k`  ⟺ dist > k   ⟺ `banded_k < 0`
  *   - `lev ≥ k`  ⟺ dist > k−1 ⟺ `banded_{k−1} < 0`   (k ≥ 1)
  *   - `lev = k`  ⟺ `banded_k = k`                     (−1 ≠ k for k ≥ 0)
  * Comparisons with the literal on the left are normalized first; bounds
  * that make the predicate constant (k < 0, and k = 0 for ≥/<) are left
  * alone — `ConstantFolding` territory, not banding's.
  *
  * [[graft.Setup]] adds it to the session's user-provided optimizer
  * rules, so every `QueryDef.run` plans with it.
  *
  * Reference scope: the reference exposes no optimizer at all (its plan
  * is a replayed attribute chain, expr.py:259-435); this is extension-
  * tier [X], the SURVEY §4 "custom Rule only where built-ins can't
  * express it" path.
  */
object BandedLevenshtein extends Rule[LogicalPlan] {

  private object Bound {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  private def banded(l: Levenshtein, k: Int): Levenshtein =
    Levenshtein(l.left, l.right, Some(Literal(k)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LessThanOrEqual(l @ Levenshtein(_, _, None), Bound(k)) if k >= 0 =>
        GreaterThanOrEqual(banded(l, k), Literal(0))
      case GreaterThanOrEqual(Bound(k), l @ Levenshtein(_, _, None)) if k >= 0 =>
        GreaterThanOrEqual(banded(l, k), Literal(0))

      case LessThan(l @ Levenshtein(_, _, None), Bound(k)) if k >= 1 =>
        GreaterThanOrEqual(banded(l, k - 1), Literal(0))
      case GreaterThan(Bound(k), l @ Levenshtein(_, _, None)) if k >= 1 =>
        GreaterThanOrEqual(banded(l, k - 1), Literal(0))

      case GreaterThan(l @ Levenshtein(_, _, None), Bound(k)) if k >= 0 =>
        LessThan(banded(l, k), Literal(0))
      case LessThan(Bound(k), l @ Levenshtein(_, _, None)) if k >= 0 =>
        LessThan(banded(l, k), Literal(0))

      case GreaterThanOrEqual(l @ Levenshtein(_, _, None), Bound(k)) if k >= 1 =>
        LessThan(banded(l, k - 1), Literal(0))
      case LessThanOrEqual(Bound(k), l @ Levenshtein(_, _, None)) if k >= 1 =>
        LessThan(banded(l, k - 1), Literal(0))

      case EqualTo(l @ Levenshtein(_, _, None), Bound(k)) if k >= 0 =>
        EqualTo(banded(l, k), Literal(k))
      case EqualTo(Bound(k), l @ Levenshtein(_, _, None)) if k >= 0 =>
        EqualTo(banded(l, k), Literal(k))
    }
}
