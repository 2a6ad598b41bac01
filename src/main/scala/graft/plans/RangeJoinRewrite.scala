package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.RangeJoin

/** Optimizer rule: rewrite a pure point-in-interval inner join into the
  * bucketed equi-join shape of [[graft.operators.RangeJoin]] —
  * AUTOMATICALLY, so `points JOIN intervals ON p >= lo AND p <= hi`
  * written naively by a user (or emitted by a SQL frontend) stops
  * planning as a nested-loop/cartesian product.
  *
  * Matches an Inner join whose entire condition is
  * `p >= lo AND p <= hi` with `p` computed from the left side, `lo`/`hi`
  * from the right, all integral types. Rewrites to:
  *
  *   Project(original output)
  *     Join Inner, (_bucket_l = _bucket_r) AND original condition
  *       Project(left.*, bucket(p, B) AS _bucket_l)
  *       Generate(explode(sequence(bucket(lo,B), bucket(hi,B))),
  *                right.*) AS _bucket_r
  *
  * which the planner turns into a shuffled (or broadcast-hash) equi-join
  * with the BETWEEN as residual — linear shuffle instead of O(n·m)
  * comparisons, identical semantics (`bucket` is
  * [[graft.operators.RangeJoin.bucket]], exact floor division for every
  * long, negatives included; the residual predicate kills
  * bucket collisions; malformed lo > hi intervals yield an empty
  * sequence and so — correctly — no matches, exactly like the BETWEEN).
  *
  * Installed in every session by [[GraftExtensions]], and a no-op until
  * `spark.graft.rangeJoin.bucketSize` is set > 0: the width depends on
  * the data, and a fixed one would explode every integral BETWEEN join
  * (nanosecond intervals included). The rewritten condition no longer
  * matches the pattern, so the rule is idempotent under fixed-point.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  val BucketSizeKey = "spark.graft.rangeJoin.bucketSize"

  private def bucketSize: Long =
    SQLConf.get.getConfString(BucketSizeKey, "0").toLong

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val b = bucketSize
    if (b <= 0) plan
    else plan.transform {
      case j @ Join(left, right, Inner,
          Some(cond @ And(GreaterThanOrEqual(p, lo), LessThanOrEqual(p2, hi))), hint)
          if p.semanticEquals(p2) && p.deterministic &&
            lo.deterministic && hi.deterministic &&
            isIntegral(p) && isIntegral(lo) && isIntegral(hi) &&
            p.references.nonEmpty && p.references.subsetOf(left.outputSet) &&
            (lo.references ++ hi.references).nonEmpty &&
            (lo.references ++ hi.references).subsetOf(right.outputSet) =>
        val bucketL = Alias(RangeJoin.bucket(p, b), "_bucket_l")()
        val newLeft = Project(left.output :+ bucketL, left)
        val bucketR = AttributeReference("_bucket_r", LongType, nullable = true)()
        val gen = Generate(
          // Sequence is TimeZoneAware: without an explicit zone the new
          // expression stays unresolved post-analysis and plan
          // validation rejects the rewrite (integral sequences never
          // USE the zone, but resolution requires one).
          Explode(Sequence(RangeJoin.bucket(lo, b), RangeJoin.bucket(hi, b), Some(Literal(1L)),
            Some(SQLConf.get.sessionLocalTimeZone))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(bucketR), child = right)
        val newCond = And(EqualTo(bucketL.toAttribute, bucketR), cond)
        Project(j.output, Join(newLeft, gen, Inner, Some(newCond), hint))
    }
  }
}
