package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite a `HAVING count(DISTINCT x) >= 2` threshold
  * into `NOT (min(x) <=> max(x))` — the q95 doctrine (STRESS_r11) made
  * automatic, so the natural TPC-DS spelling of "at least two distinct
  * suppliers/warehouses/stores per group" stops paying for an exact
  * distinct count it immediately collapses to a boolean.
  *
  * Why it matters at scale: a single distinct aggregate plans as the
  * two-level (group ∪ distinct-key) aggregation — the shuffle carries
  * one row per (group, DISTINCT VALUE) and every partial buffer hashes
  * the value set. `min`/`max` carry two fixed-width partials per group:
  * one row per group on the wire, plain map-side combine, no per-value
  * state. Semantics are exactly preserved, nulls included — and
  * boolean-total, so the equivalence holds in ANY enclosing expression
  * (e.g. under `NOT`): count(DISTINCT x) ignores nulls, and so do
  * min/max — a group of all nulls gives count=0 (so `>= 2` is FALSE)
  * and `NOT (NULL <=> NULL)` = NOT TRUE = FALSE, never NULL; one
  * distinct non-null value gives min = max ⇒ false. (A plain
  * `min <> max` would yield NULL on the all-null group — identical
  * under a bare Filter, but divergent under an enclosing NOT.)
  *
  * Matches `Project(Filter(Aggregate))` — the shape the analyzer emits
  * for a HAVING whose count is NOT selected — and only rewrites a
  * count-distinct alias that (a) the Project does not reference, and
  * (b) appears in the Filter condition ONLY as a threshold min/max can
  * answer: `c >= 2` / `c > 1` → `NOT (min <=> max)`, or the complementary
  * `c <= 1` / `c < 2` → the null-safe `min <=> max` (all-null group:
  * count 0 ≤ 1 and NULL <=> NULL agree), mirrored literal-first forms
  * included. Floating-point children are excluded (distinct-hashing and
  * ordering disagree on NaN/-0.0); `count(DISTINCT a, b)` and FILTERed
  * aggregates are left alone. The rewritten plan contains no distinct
  * aggregate, so the rule is idempotent under fixed-point.
  *
  * On in every session [[GraftExtensions]] builds: the rewrite preserves
  * results, so it needs no switch of its own. Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.DistinctThresholdRewrite`
  * turns it off, which is how the specs get the un-rewritten baseline.
  */
object DistinctThresholdRewrite extends Rule[LogicalPlan] {

  /** Types where "two distinct values exist" ⟺ "min <> max": total
    * order consistent with equality. Float/double excluded — distinct
    * canonicalizes NaN and -0.0 differently from binary comparison.
    */
  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
        StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The alias's count-distinct child, if this aggregate expression is a
    * rewritable `count(DISTINCT x)`. */
  private def countDistinctChild(ne: NamedExpression): Option[Expression] =
    ne match {
      case Alias(AggregateExpression(Count(Seq(x)), _, true, None, _), _)
          if supported(x.dataType) && x.deterministic =>
        Some(x)
      case _ => None
    }

  /** Classify a comparison on the count attribute: Some(true) for the
    * "at least two distinct" family (`c >= 2`, `c > 1`, mirrored) —
    * rewrites to `NOT (min <=> max)`; Some(false) for the complementary "at
    * most one distinct" family (`c <= 1`, `c < 2`, mirrored) — rewrites
    * to the null-safe `min <=> max` (an all-null group has count 0 ≤ 1
    * AND NULL <=> NULL, so the forms coincide there too); None for
    * anything else (no rewrite).
    */
  private def thresholdKind(cmp: Expression, c: Attribute): Option[Boolean] = {
    def is(a: Expression, v: Any, want: String): Boolean = a match {
      case attr: Attribute => attr.exprId == c.exprId &&
        v != null && v.toString == want
      case _ => false
    }
    cmp match {
      case GreaterThanOrEqual(a, Literal(v, _)) if is(a, v, "2") => Some(true)
      case GreaterThan(a, Literal(v, _)) if is(a, v, "1") => Some(true)
      case LessThanOrEqual(Literal(v, _), a) if is(a, v, "2") => Some(true)
      case LessThan(Literal(v, _), a) if is(a, v, "1") => Some(true)
      case LessThanOrEqual(a, Literal(v, _)) if is(a, v, "1") => Some(false)
      case LessThan(a, Literal(v, _)) if is(a, v, "2") => Some(false)
      case GreaterThanOrEqual(Literal(v, _), a) if is(a, v, "1") => Some(false)
      case GreaterThan(Literal(v, _), a) if is(a, v, "2") => Some(false)
      case _ => None
    }
  }

  private def isThresholdOf(cmp: Expression, c: Attribute): Boolean =
    thresholdKind(cmp, c).isDefined

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case p @ Project(projList,
          Filter(cond, agg @ Aggregate(group, aggExprs, child, hint))) =>
        // Candidates: count(DISTINCT x) aliases the Project drops.
        val projRefs = AttributeSet(projList.flatMap(_.references))
        val candidates = aggExprs.flatMap { ne =>
          countDistinctChild(ne) match {
            case Some(x) if !projRefs.contains(ne.toAttribute) =>
              Some(ne.toAttribute -> x)
            case _ => None
          }
        }.filter { case (c, _) =>
          // Every reference to c in the condition must be one of the
          // rewritable threshold comparisons — no other usage.
          val total = cond.collect {
            case a: Attribute if a.exprId == c.exprId => a
          }.size
          val inThresholds = cond.collect {
            case cmp if isThresholdOf(cmp, c) => cmp
          }.size
          total > 0 && total == inThresholds
        }
        if (candidates.isEmpty) p
        else {
          val byId = candidates.toMap
          val minMax: Map[ExprId, (NamedExpression, NamedExpression)] =
            candidates.map { case (c, x) =>
              c.exprId -> (
                Alias(Min(x).toAggregateExpression(), "_dt_min")(),
                Alias(Max(x).toAggregateExpression(), "_dt_max")())
            }.toMap
          val dropped = candidates.map(_._1.exprId).toSet
          val newAggExprs = aggExprs.filterNot(ne =>
            dropped.contains(ne.toAttribute.exprId)) ++
            minMax.values.flatMap { case (mn, mx) => Seq(mn, mx) }
          val newCond = cond.transform {
            case cmp: Expression if byId.keys.exists(c => isThresholdOf(cmp, c)) =>
              val c = byId.keys.find(a => isThresholdOf(cmp, a)).get
              val (mn, mx) = minMax(c.exprId)
              if (thresholdKind(cmp, c).get)
                Not(EqualNullSafe(mn.toAttribute, mx.toAttribute))
              else EqualNullSafe(mn.toAttribute, mx.toAttribute)
          }
          Project(projList,
            Filter(newCond, Aggregate(group, newAggExprs, child, hint)))
        }
    }
}
