package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
  IntegerLiteral, LessThan, LessThanOrEqual, RowNumber,
  WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Optimizer rule: rewrite the universal top-k-per-group idiom
  *
  *   SELECT ... row_number() OVER (PARTITION BY g ORDER BY o) AS rn ...
  *   WHERE rn <= k
  *
  * into the bounded-heap [[TopKPerGroup]] operator (with native rank
  * emission when `rn` survives in the output), turning the full per-group
  * sort WindowExec plans into the partial-prune → exchange → final heap
  * pipeline. Users keep writing the standard SQL pattern; the engine
  * substitutes the physical strategy — the Catalyst-native way to ship an
  * operator upgrade (same posture as Spark's own
  * RewriteDistinctAggregates / OptimizeWindowFunctions).
  *
  * Scope guards: fires only on a Filter DIRECTLY above a Window whose
  * window list is a single plain row_number — rank/dense_rank/ntile,
  * multi-expression windows, and empty partition specs (global top-k is
  * TakeOrdered's job) are left alone. Tie semantics are unchanged: under
  * a non-total ORDER BY both row_number and the heap keep an unspecified
  * k-subset of the tied boundary rows — callers needing determinism pass
  * a total order, exactly as with the window formulation.
  *
  * Off by default; enabled per session/query with
  * `SET spark.graft.topkRewrite=true` — existing window-pattern queries
  * keep their plans unless a user opts in.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.topkRewrite"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "false").toBoolean

  /** cond ⇒ (k, remainingPredicates) when cond constrains `rn` to a
    * prefix 1..k (conjuncts not about rn are preserved). */
  private def extractK(cond: Expression, rn: Attribute): Option[(Int, Seq[Expression])] = {
    val conjuncts = splitConjuncts(cond)
    val (rnPreds, rest) = conjuncts.partition(_.references.contains(rn))
    if (rnPreds.isEmpty) return None
    val ks = rnPreds.map {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k - 1)
      case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
      case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k)
      case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rn) => Some(k - 1)
      case _ => None
    }
    if (ks.exists(_.isEmpty)) None // some rn-predicate we don't understand
    else {
      val k = ks.flatten.min
      if (k > 0) Some((k, rest)) else None
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ Filter(cond,
          Window(
            Seq(a @ Alias(WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)), _)),
            _, _, child, _)) if part.nonEmpty && order.nonEmpty =>
        extractK(cond, a.toAttribute) match {
          case Some((k, rest)) =>
            val topk = TopKPerGroup(part, order, k, child, Some(a.toAttribute))
            if (rest.isEmpty) topk
            else Filter(rest.reduce(And), topk)
          case None => f
        }
    }
  }
}
