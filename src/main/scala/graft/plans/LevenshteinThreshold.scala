package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: bound edit-distance comparisons get the banded DP.
  *
  * `levenshtein(a, b) <= k` evaluates the full O(|a|·|b|) dynamic
  * program and then throws the distance away; Spark's three-argument
  * `Levenshtein(a, b, threshold)` computes the same answer in
  * O(min(|a|,|b|)·k) with an early exit (returns -1 past the bound) —
  * but only if the caller knew to ask for it. This rule rewrites the
  * comparison shapes
  *
  *   lev(a,b) <= k   →  lev(a,b,k)   >= 0
  *   lev(a,b) <  k   →  lev(a,b,k-1) >= 0
  *   lev(a,b) == k   →  lev(a,b,k)   == k
  *
  * (and their mirrored forms, and the long-cast forms Scala's
  * `col("dist") <= 2` coercion produces) wherever they appear —
  * filters, join conditions, projections. Semantics are identical,
  * including null propagation: the banded form is null exactly when
  * either input is; non-negative `k` guards keep `d < 0`-style
  * always-false predicates untouched for constant folding to handle.
  *
  * At a fuzzy-join verify stage this is the difference between a DP
  * table per candidate pair and a thin k-band — the candidate
  * generation ([[graft.operators.FuzzyJoin]]) bounds HOW MANY pairs,
  * this bounds the cost of EACH (that operator writes the banded form
  * itself; the rule serves hand-written SQL and DataFrame code).
  * Installed by [[graft.expressions.GraftExtensions]]
  * (`spark.sql.extensions`).
  */
object LevenshteinThresholdRule extends Rule[LogicalPlan] {

  /** An unbounded Levenshtein, possibly under the int→long cast that
    * comparing against a Scala `Int` literal inserts.
    */
  private object UnboundedLev {
    def unapply(e: Expression): Option[Levenshtein] = e match {
      case l: Levenshtein if l.threshold.isEmpty => Some(l)
      case c: Cast => c.child match {
        case l: Levenshtein if l.threshold.isEmpty => Some(l)
        case _ => None
      }
      case _ => None
    }
  }

  private object Bound {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
      case _ => None
    }
  }

  private def banded(l: Levenshtein, k: Int): Levenshtein =
    Levenshtein(l.left, l.right, Some(Literal(k)))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(UnboundedLev(l), Bound(k)) if k >= 0 =>
      GreaterThanOrEqual(banded(l, k), Literal(0))
    case GreaterThanOrEqual(Bound(k), UnboundedLev(l)) if k >= 0 =>
      GreaterThanOrEqual(banded(l, k), Literal(0))
    case LessThan(UnboundedLev(l), Bound(k)) if k >= 1 =>
      GreaterThanOrEqual(banded(l, k - 1), Literal(0))
    case GreaterThan(Bound(k), UnboundedLev(l)) if k >= 1 =>
      GreaterThanOrEqual(banded(l, k - 1), Literal(0))
    case EqualTo(UnboundedLev(l), Bound(k)) if k >= 0 =>
      EqualTo(banded(l, k), Literal(k))
    case EqualTo(Bound(k), UnboundedLev(l)) if k >= 0 =>
      EqualTo(banded(l, k), Literal(k))
  }
}
