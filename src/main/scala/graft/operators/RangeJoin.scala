package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, If, IntegralDivide, LessThan, Literal, Remainder, Subtract}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Point-in-interval (range) join without the nested-loop trap.
  *
  * Spark has no native range-join strategy: `points JOIN intervals ON p
  * BETWEEN lo AND hi` with no equi-key plans as BroadcastNestedLoopJoin
  * (small right) or a cartesian product — O(|points|·|intervals|)
  * comparisons, which is exactly what dies at 100 TB.
  *
  * The bucketed rewrite turns it into an EQUI-join: pick a bucket width
  * `B`; each interval is exploded to the buckets it overlaps
  * (`floordiv(lo,B)..floordiv(hi,B)`), each point maps to its single
  * bucket, the join runs on the bucket id (hash shuffle, AQE-eligible,
  * codegen'd), and the exact BETWEEN predicate removes the
  * bucket-collision false positives. Cost: shuffle of
  * |points| + Σ(interval_len/B + 1) rows — linear, tunable by B. Choose
  * B near the median interval length: too small explodes the interval
  * side, too large degrades bucket selectivity toward the cartesian.
  * Same trick DuckDB/Trino apply internally for inequality joins (IEJoin
  * literature); here it is explicit dataframe algebra Catalyst fully
  * optimizes.
  *
  * All-integer bucket arithmetic ([[bucket]]), exact for any long
  * domain including negatives — no double rounding at nanosecond
  * magnitudes.
  */
object RangeJoin {

  /** The bucket of `x` for width `b > 0`: `Math.floorDiv(x, b)` as a
    * Catalyst expression over `x` cast to LONG. Integer `div` truncates
    * toward zero, so a negative `x` off a bucket edge steps down by one.
    * Nothing overflows, `Long.MinValue` included (`x - pmod(x, b)` does
    * within `b` of it). [[graft.plans.RangeJoinRewrite]] buckets with it
    * too. */
  private[graft] def bucket(x: Expression, b: Long): Expression = {
    val xl = Cast(x, LongType)
    Subtract(new IntegralDivide(xl, Literal(b)),
      If(LessThan(Remainder(xl, Literal(b)), Literal(0L)), Literal(1L), Literal(0L)))
  }

  private def floorDiv(c: Column, b: Long): Column =
    GraftSqlBridge.column(bucket(GraftSqlBridge.expression(c), b))

  /** Join each point row to every interval row whose `[loCol, hiCol]`
    * (inclusive) contains `pointCol`. `extraKeys` are equi-join keys
    * required to match as well (when present, they sharpen the bucket
    * key and the shuffle). Intervals with `lo > hi` are dropped as
    * malformed. Inner join; both frames' columns survive, so their
    * names must be disjoint. */
  def pointInInterval(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      bucketSize: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    val ivb = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn("_bucket",
        explode(sequence(floorDiv(col(loCol), bucketSize),
          floorDiv(col(hiCol), bucketSize))))
    val ptb = points.withColumn("_bucket", floorDiv(col(pointCol), bucketSize))
    val joinCond = ("_bucket" +: extraKeys)
      .map(k => ptb(k) === ivb(k))
      .reduce(_ && _) &&
      ptb(pointCol) >= ivb(loCol) && ptb(pointCol) <= ivb(hiCol)
    extraKeys.foldLeft(
      ptb.join(ivb, joinCond, "inner")
        .drop(ivb("_bucket")).drop(ptb("_bucket"))) { (df, k) => df.drop(ivb(k)) }
  }

  /** Interval-OVERLAP join: each left interval `[aLo, aHi]` to every
    * right interval `[bLo, bHi]` with `aLo <= bHi AND bLo <= aHi`
    * (inclusive overlap). Both sides explode onto their covered
    * buckets; a pair sharing several buckets would surface once per
    * shared bucket, so each pair is EMITTED exactly once — only in the
    * bucket containing `greatest(aLo, bLo)`, the overlap's left edge
    * (a bucket both sides provably cover). Same linearity as
    * [[pointInInterval]]; malformed intervals (lo > hi) drop. Column
    * names of the two frames must be disjoint. */
  def intervalOverlapJoin(left: DataFrame, leftLo: String, leftHi: String,
      right: DataFrame, rightLo: String, rightHi: String,
      bucketSize: Long): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    def explodeTo(df: DataFrame, lo: String, hi: String): DataFrame =
      df.filter(col(lo) <= col(hi))
        .withColumn("_bucket", explode(sequence(
          floorDiv(col(lo), bucketSize), floorDiv(col(hi), bucketSize))))
    val l = explodeTo(left, leftLo, leftHi)
    val r = explodeTo(right, rightLo, rightHi)
    l.join(r,
        l("_bucket") === r("_bucket") &&
          l(leftLo) <= r(rightHi) && r(rightLo) <= l(leftHi) &&
          // dedupe: emit only in the bucket of the overlap's left edge
          l("_bucket") === floorDiv(greatest(l(leftLo), r(rightLo)), bucketSize),
        "inner")
      .drop(l("_bucket")).drop(r("_bucket"))
  }
}
