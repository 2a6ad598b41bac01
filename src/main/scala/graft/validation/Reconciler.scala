package graft.validation

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.quality.SchemaValidator

/** Migration reconciliation harness — the reference's correctness oracle
  * and half its public API (SURVEY §2.11).
  *
  * Semantics: reference `migration_validation/reconciliation.py:39-180`
  * (compare_row_counts :39-56, compare_aggregates :58-92,
  * compare_distributions :94-130, compare_schemas :132-155,
  * generate_report :157-180).
  *
  * Scale divergence (intentional, SURVEY §7.6): the reference collects
  * both distributions to driver dicts (`reconciliation.py:104-108`) —
  * `compareDistributions` here is a full-outer JOIN diff that never
  * leaves the cluster; only the bounded mismatch sample is collected.
  * `compareAggregates` computes every column's SUM for a side in ONE
  * aggregate pass instead of one job per column.
  */
object Reconciler {

  final case class RowCountResult(check: String, sourceCount: Long, targetCount: Long,
      matched: Boolean, difference: Long)
  final case class AggregateResult(column: String, sourceSum: Double, targetSum: Double,
      relativeDiff: Double, withinTolerance: Boolean)
  final case class DistributionResult(column: String, matched: Boolean,
      valuesOnlyInSource: Long, valuesOnlyInTarget: Long, countMismatches: Long)
  final case class SchemaResult(matched: Boolean, onlyInSource: Seq[String],
      onlyInTarget: Seq[String])

  /** Exact row-count equality (`reconciliation.py:39-56`). */
  def compareRowCounts(source: DataFrame, target: DataFrame,
      check: String = "row_count"): RowCountResult = {
    val s = source.count(); val t = target.count()
    RowCountResult(check, s, t, s == t, math.abs(s - t))
  }

  /** Per-column SUM comparison within relative tolerance (default 1e-4,
    * `reconciliation.py:58-92`; acceptance gate `MIGRATION_PLAYBOOK.md:244`).
    * One aggregate pass per side for ALL columns; an empty side's NULL
    * sum reads 0.0. */
  def compareAggregates(source: DataFrame, target: DataFrame, columns: Seq[String],
      tolerance: Double = 1e-4): Seq[AggregateResult] = {
    def sums(df: DataFrame): Seq[Double] = {
      val aggs = columns.map(c => sum(col(c).cast("double")))
      val row: Row = df.agg(aggs.head, aggs.tail: _*).head()
      columns.indices.map(i => if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    }
    val s = sums(source); val t = sums(target)
    columns.indices.map { i =>
      val (a, b) = (s(i), t(i))
      val rel = if (a == 0.0 && b == 0.0) 0.0
        else math.abs(a - b) / math.max(math.abs(a), math.abs(b))
      AggregateResult(columns(i), a, b, rel, rel <= tolerance)
    }
  }

  /** The multiset-count core of [[distributionDiff]] and [[TableDiff.diff]]:
    * each side grouped by `key` and counted, the two count frames
    * full-outer joined NULL-safely (so the NULL group meets itself, as a
    * driver dict's `None` key does), a missing count read as 0. Columns
    * `key`, `left`, `right`; one row per key present on either side.
    *
    * The key is grouped inside a one-field struct: a struct is never
    * NULL and a NULL field equals a NULL field, so a plain equi-join is
    * NULL-safe and reuses the aggregates' hash partitioning. A `<=>` join
    * would shuffle both count frames again, on (coalesce(key), isnull(key)). */
  private[validation] def countDiff(left: DataFrame, right: DataFrame, key: Column): DataFrame = {
    def counts(df: DataFrame, k: String, n: String) =
      df.groupBy(struct(key.as("k")).as(k)).agg(count(lit(1)).as(n))
    counts(left, "lk", "ln").join(counts(right, "rk", "rn"), col("lk") === col("rk"), "full_outer")
      .select(coalesce(col("lk"), col("rk")).getField("k").as("key"),
        coalesce(col("ln"), lit(0L)).as("left"), coalesce(col("rn"), lit(0L)).as("right"))
  }

  /** One job over a [[countDiff]] frame: keys only on the left, only on
    * the right, and on both sides with different counts. */
  private[validation] def countTally(diff: DataFrame): (Long, Long, Long) = {
    val (l, r) = (col("left"), col("right"))
    val Row(onlyL: Long, onlyR: Long, both: Long) = diff.agg(
      count(when(r === 0, lit(1))), count(when(l === 0, lit(1))),
      count(when(l > 0 && r > 0 && l =!= r, lit(1)))).head()
    (onlyL, onlyR, both)
  }

  /** Categorical distribution diff as a DataFrame: the [[countDiff]] of
    * the column. Never collects the distributions; at 100 TB this is two
    * shuffles and a join, not a driver dict. Returns one row per value
    * (NULL included) with both counts and a match flag. */
  def distributionDiff(source: DataFrame, target: DataFrame, column: String): DataFrame =
    countDiff(source, target, col(column))
      .select(col("key").as("value"), col("left").as("source_count"),
        col("right").as("target_count"), (col("left") === col("right")).as("matched"))

  /** Distribution DRIFT via Pearson's chi-squared statistic: expected
    * target counts are the source proportions scaled to the target
    * total; the stat sums (observed − expected)²/expected over the
    * categories. Exact-match reconciliation ([[compareDistributions]])
    * answers "identical?"; this answers the production question
    * "did the MIX shift?" — robust to the two sides having different
    * sizes, which exact count equality is not. All counts are exact
    * longs; only the final few-category reduction is floating, so the
    * caller should round the stat for cross-engine comparison.
    * Categories absent from the source (expected 0) are excluded from
    * the sum and reported via `new_categories` instead (the stat is
    * undefined there; a new category IS drift, flagged separately). */
  def distributionDriftChi2(source: DataFrame, target: DataFrame,
      column: String): DataFrame = {
    val j = distributionDiff(source, target, column)
    val totals = j.agg(sum("source_count").as("s_tot"), sum("target_count").as("t_tot"))
    val expected = j.crossJoin(broadcast(totals))
      .select(col("value"), col("source_count"), col("target_count"),
        (col("t_tot").cast("double") * col("source_count") / col("s_tot"))
          .as("expected"))
    expected.agg(
      count(when(col("source_count") > 0, lit(1))).as("categories"),
      count(when(col("source_count") === 0 && col("target_count") > 0, lit(1)))
        .as("new_categories"),
      sum(when(col("expected") > 0,
        pow(col("target_count") - col("expected"), 2) / col("expected")))
        .as("chi2"))
  }

  /** Exact distribution equality verdict (`reconciliation.py:94-130`),
    * tallied from the count diff in one aggregate: every value whose
    * counts differ is a mismatch. */
  def compareDistributions(source: DataFrame, target: DataFrame, column: String): DistributionResult = {
    val (onlyS, onlyT, both) = countTally(countDiff(source, target, col(column)))
    val mism = onlyS + onlyT + both
    DistributionResult(column, mism == 0, onlyS, onlyT, mism)
  }

  /** Column-set compatibility ignoring `_`-prefixed metadata columns
    * (`reconciliation.py:132-155` deliberately ignores lineage columns):
    * the [[SchemaValidator.compareSchemas]] diff, judged on names only. */
  def compareSchemas(source: DataFrame, target: DataFrame): SchemaResult = {
    def fields(df: DataFrame) = StructType(df.schema.filterNot(_.name.startsWith("_")))
    val d = SchemaValidator.compareSchemas(fields(source), fields(target))
    SchemaResult(d.onlyInA.isEmpty && d.onlyInB.isEmpty, d.onlyInA, d.onlyInB)
  }

  /** Text report rollup (`reconciliation.py:157-180`). */
  def generateReport(tableName: String, rowCounts: RowCountResult,
      aggregates: Seq[AggregateResult], distributions: Seq[DistributionResult],
      schema: SchemaResult): String = {
    val sb = new StringBuilder
    sb.append(s"=== Reconciliation Report: $tableName ===\n")
    sb.append(f"Row counts: source=${rowCounts.sourceCount} target=${rowCounts.targetCount} " +
      s"${if (rowCounts.matched) "MATCH" else s"MISMATCH (diff=${rowCounts.difference})"}\n")
    aggregates.foreach { a =>
      sb.append(f"SUM(${a.column}): ${a.sourceSum}%.4f vs ${a.targetSum}%.4f " +
        f"(rel diff ${a.relativeDiff}%.6f) ${if (a.withinTolerance) "PASS" else "FAIL"}\n")
    }
    distributions.foreach { d =>
      sb.append(s"DIST(${d.column}): ${if (d.matched) "MATCH"
        else s"MISMATCH (${d.countMismatches} values differ)"}\n")
    }
    sb.append(s"Schema: ${if (schema.matched) "COMPATIBLE"
      else s"INCOMPATIBLE (source-only=${schema.onlyInSource.mkString(",")} " +
        s"target-only=${schema.onlyInTarget.mkString(",")})"}\n")
    val allPass = rowCounts.matched && aggregates.forall(_.withinTolerance) &&
      distributions.forall(_.matched) && schema.matched
    sb.append(s"OVERALL: ${if (allPass) "PASS" else "FAIL"}\n")
    sb.toString
  }
}
