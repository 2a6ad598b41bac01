package graft.quality

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Data-quality check framework.
  *
  * Semantics: reference `lakehouse_pipelines/silver/utils/data_quality_checks.py`
  * (dbt schema-test replacements: not_null / unique / accepted_values /
  * relationships / row_count_range / composite-key uniqueness). Each check
  * returns a structured result record.
  *
  * Scale note: the reference triggers 2-3 Spark jobs *per check* (a
  * `filter.count` plus `count` each — ≥12 jobs per table,
  * `clean_policies.py:122` + `data_quality_checks.py:16-17`). At 100 TB
  * that is 12 full scans. The per-check methods here keep the reference
  * API (each is a single fused aggregate where possible);
  * [[Checks.fusedProfile]] collapses every column-level counter into ONE
  * aggregate pass (single scan, map-side partial aggregation, no shuffle
  * beyond a 1-row result) and is the preferred path at scale.
  */
object Checks {

  sealed trait CheckResult {
    def check: String
    def passed: Boolean
  }
  final case class NotNullResult(check: String, column: String, passed: Boolean,
      nullCount: Long, totalCount: Long, nullPercentage: Double) extends CheckResult
  final case class UniqueResult(check: String, column: String, passed: Boolean,
      duplicateCount: Long, totalCount: Long, distinctCount: Long) extends CheckResult
  final case class AcceptedValuesResult(check: String, column: String, passed: Boolean,
      invalidCount: Long, totalCount: Long, accepted: Seq[String],
      sampleInvalidValues: Seq[String]) extends CheckResult
  final case class RelationshipsResult(check: String, column: String, refColumn: String,
      passed: Boolean, orphanCount: Long, totalCount: Long) extends CheckResult
  final case class RowCountRangeResult(check: String, passed: Boolean,
      actualCount: Long, expectedMin: Long, expectedMax: Long) extends CheckResult
  final case class CompositeKeyResult(check: String, columns: Seq[String], passed: Boolean,
      duplicateCount: Long, totalCount: Long) extends CheckResult

  /** The not_null rule, shared by [[checkNotNull]] and [[fusedProfile]]:
    * passes with no NULLs; the NULL share is a percentage rounded to two
    * places (0 on an empty frame). */
  private def notNullResult(column: String, nulls: Long, total: Long): NotNullResult =
    NotNullResult("not_null", column, nulls == 0, nulls, total,
      math.round(nulls.toDouble / math.max(total, 1L) * 10000.0) / 100.0)

  /** The unique rule, shared by [[checkUnique]] and [[fusedProfile]]:
    * count_distinct skips NULLs but the reference's
    * `select(col).distinct().count()` counts a NULL group, so a column
    * holding a NULL (`hasNull` 1) has one more distinct value. */
  private def uniqueResult(column: String, total: Long, distinct: Long,
      hasNull: Long): UniqueResult = {
    val d = distinct + hasNull
    UniqueResult("unique", column, total - d == 0, total - d, total, d)
  }

  /** dbt `not_null` test (`data_quality_checks.py:14-25`). */
  def checkNotNull(df: DataFrame, column: String): NotNullResult = {
    val Row(nulls: Long, total: Long) = df
      .agg(count(when(col(column).isNull, lit(1))).as("nulls"), count(lit(1)).as("total"))
      .head()
    notNullResult(column, nulls, total)
  }

  /** dbt `unique` test (`data_quality_checks.py:28-40`). One job: the
    * same aggregate counts distinct values and detects null presence. */
  def checkUnique(df: DataFrame, column: String): UniqueResult = {
    val Row(total: Long, distinct: Long, hasNull: Int) = df
      .agg(count(lit(1)).as("total"), count_distinct(col(column)).as("distinct"),
        coalesce(max(when(col(column).isNull, lit(1)).otherwise(0)), lit(0)).as("hasnull"))
      .head()
    uniqueResult(column, total, distinct, hasNull)
  }

  final case class ApproxDistinctResult(check: String, column: String, passed: Boolean,
      approxDistinct: Long, totalCount: Long, tolerance: Double,
      rsd: Double) extends CheckResult

  /** Approximate-distinct sanity check — the 100 TB path for uniqueness
    * profiling (SURVEY §2.4 note). `count_distinct` shuffles every
    * distinct value; HyperLogLog++ (`approx_count_distinct`) is a
    * constant-size sketch merged map-side, so the check costs one scan
    * and a few KB of shuffle at any scale. HLL register merges are
    * max-operations — commutative and associative — so the estimate is
    * deterministic for a given dataset regardless of partitioning.
    * Passes when the estimate is within `tolerance` of `expected`
    * (e.g. the row count when the column should be unique). */
  def checkApproxDistinct(df: DataFrame, column: String, expected: Long,
      tolerance: Double = 0.1, rsd: Double = 0.01): ApproxDistinctResult = {
    val Row(approx: Long, total: Long) = df.agg(
      approx_count_distinct(col(column), rsd).as("approx"),
      count(lit(1)).as("total")).head()
    val within = math.abs(approx - expected) <= tolerance * math.max(expected, 1L)
    ApproxDistinctResult("approx_distinct", column, within, approx, total, tolerance, rsd)
  }

  /** dbt `accepted_values` test with a 10-value sample of offenders
    * (`data_quality_checks.py:43-64`). */
  def checkAcceptedValues(df: DataFrame, column: String, accepted: Seq[String]): AcceptedValuesResult = {
    // invalid + total fused into one aggregate (the reference scans 3×;
    // SURVEY §7.6). The bounded 10-row offender sample is a second,
    // filtered job only when a failure is already known.
    val Row(invalidCount: Long, total: Long) = df.agg(
      count(when(!col(column).isin(accepted: _*), lit(1))).as("invalid"),
      count(lit(1)).as("total")).head()
    val sample =
      if (invalidCount > 0)
        df.filter(!col(column).isin(accepted: _*))
          .select(col(column).cast("string")).distinct().limit(10)
          .collect().map(_.getString(0)).toSeq
      else Seq.empty
    AcceptedValuesResult("accepted_values", column, invalidCount == 0,
      invalidCount, total, accepted, sample)
  }

  /** dbt `relationships` (referential-integrity) test via left_anti join
    * (`data_quality_checks.py:67-79`). */
  def checkRelationships(df: DataFrame, column: String, refDf: DataFrame, refColumn: String): RelationshipsResult = {
    // Single pass: left join against the distinct ref keys, count total and
    // unmatched rows in one aggregate (reference runs left_anti + count as
    // two jobs). NULL fk values count as orphans, same as left_anti.
    val refKeys = refDf.select(col(refColumn).as("__ref_key")).distinct()
    val Row(total: Long, orphans: Long) = df
      .join(refKeys, df(column) === col("__ref_key"), "left")
      .agg(count(lit(1)).as("total"),
        count(when(col("__ref_key").isNull, lit(1))).as("orphans")).head()
    RelationshipsResult("relationships", column, refColumn, orphans == 0, orphans, total)
  }

  /** Row-count bounds (`data_quality_checks.py:82-91`). */
  def checkRowCountRange(df: DataFrame, minRows: Long, maxRows: Long): RowCountRangeResult = {
    val c = df.count()
    RowCountRangeResult("row_count_range", minRows <= c && c <= maxRows, c, minRows, maxRows)
  }

  /** Composite-key uniqueness (`data_quality_checks.py:94-105`). */
  def checkCompositeKey(df: DataFrame, keyColumns: Seq[String]): CompositeKeyResult = {
    val total = df.count()
    val distinct = df.select(keyColumns.map(col): _*).distinct().count()
    CompositeKeyResult("composite_key_unique", keyColumns, total == distinct,
      total - distinct, total)
  }

  /** SCD2 invariant audit — the DQ twin of [[graft.operators.Scd2]]: a
    * healthy type-2 dimension has, per natural key, AT MOST one current
    * row, no non-current row left open (a closed version must carry its
    * end date), no current row carrying an end date, and version ranges
    * that neither overlap nor (usually) gap. Returns ONE summary row of
    * violation counts, fully distributed: one window pass per key
    * (ordered by start, current-flag tiebreak) feeds a per-key rollup,
    * then a global aggregate — the dimension shuffles once on the key
    * and nothing is collected. A NULL end date is treated as
    * open-until-infinity, so ANY row sorted after an open row counts as
    * an overlap. Gaps are reported, not judged: retention deletes
    * legitimately create them, which is why they get their own counter
    * instead of folding into `keys_overlapping`. */
  def scd2IntegrityReport(dim: DataFrame, keyCol: String,
      startCol: String = "effective_start_date",
      endCol: String = "effective_end_date",
      isCurCol: String = "is_current"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // final `e` tiebreak (r13 ADVICE): two rows sharing (key, start,
    // is_current) would otherwise make lag(e) nondeterministic and the
    // overlap/gap counters engine-dependent. asc_nulls_first is Spark's
    // asc default — the oracle must spell NULLS FIRST explicitly.
    val w = Window.partitionBy("k").orderBy(col("s"), col("c"), col("e").asc_nulls_first)
    val rows = dim.select(col(keyCol).as("k"), col(startCol).as("s"),
        col(endCol).as("e"), coalesce(col(isCurCol), lit(false)).as("c"))
      .withColumn("prev_e", lag(col("e"), 1).over(w))
      .withColumn("has_prev", lag(col("s"), 1).over(w).isNotNull)
    val perKey = rows.groupBy("k").agg(
      sum(when(col("c"), 1L).otherwise(0L)).as("n_cur"),
      sum(when(!col("c") && col("e").isNull, 1L).otherwise(0L)).as("n_open_noncur"),
      sum(when(col("c") && col("e").isNotNull, 1L).otherwise(0L)).as("n_cur_with_end"),
      sum(when(col("has_prev") &&
        (col("prev_e").isNull || col("prev_e") > col("s")), 1L).otherwise(0L)).as("n_overlap"),
      sum(when(col("has_prev") && col("prev_e").isNotNull &&
        col("prev_e") < col("s"), 1L).otherwise(0L)).as("n_gap"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("n_cur") > 1, 1L).otherwise(0L)).as("keys_multi_current"),
      sum(when(col("n_cur") === 0, 1L).otherwise(0L)).as("keys_no_current"),
      sum(col("n_open_noncur")).as("rows_open_noncurrent"),
      sum(col("n_cur_with_end")).as("rows_current_with_end"),
      sum(when(col("n_overlap") > 0, 1L).otherwise(0L)).as("keys_overlapping"),
      sum(when(col("n_gap") > 0, 1L).otherwise(0L)).as("keys_gapped"))
  }

  /** Pass/fail rollup (`data_quality_checks.py:108-122`), returned as a
    * string instead of logged. */
  def summarize(tableName: String, results: Map[String, CheckResult]): String = {
    val passed = results.values.count(_.passed)
    val failed = results.size - passed
    val lines = results.map { case (name, r) =>
      s"  ${if (r.passed) "PASS" else "FAIL"}: $name"
    }
    (s"Data Quality Results for $tableName: $passed/${results.size} passed, " +
      s"$failed/${results.size} failed") +: lines.toSeq
  }.mkString("\n")

  /** Column-level check spec for the fused single-pass profile. */
  final case class ColumnSpec(
      column: String,
      notNull: Boolean = false,
      unique: Boolean = false,
      acceptedValues: Option[Seq[String]] = None)

  /** One-pass DQ profile: every per-column counter (nulls, distinct,
    * invalid-value count) plus the table total computed in a SINGLE
    * aggregate over the data — the 100 TB replacement for the reference's
    * one-job-per-check pattern. Exact distinct counts shuffle by nature;
    * [[checkApproxDistinct]] is the HLL path when a small
    * uniqueness-error tolerance is acceptable at scale.
    */
  def fusedProfile(df: DataFrame, specs: Seq[ColumnSpec]): Map[String, CheckResult] = {
    val aggs = Seq(count(lit(1)).as("__total")) ++ specs.flatMap { s =>
      val c = col(s.column)
      val n = s.column
      Seq(
        if (s.notNull) Some(count(when(c.isNull, lit(1))).as(s"__nulls__$n")) else None,
        if (s.unique) Some(count_distinct(c).as(s"__distinct__$n")) else None,
        if (s.unique) Some(max(when(c.isNull, lit(1)).otherwise(lit(0))).as(s"__hasnull__$n")) else None,
        s.acceptedValues.map(vs =>
          count(when(!c.isin(vs: _*), lit(1))).as(s"__invalid__$n"))
      ).flatten
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def l(name: String): Long = row.getAs[Any](name) match {
      case x: Long => x; case x: Int => x.toLong; case _ => 0L
    }
    val total = l("__total")
    specs.flatMap { s =>
      val n = s.column
      val notNullRes =
        if (s.notNull) Some(s"not_null_$n" -> notNullResult(n, l(s"__nulls__$n"), total)) else None
      val uniqueRes = if (s.unique)
        Some(s"unique_$n" -> uniqueResult(n, total, l(s"__distinct__$n"), l(s"__hasnull__$n")))
      else None
      val acceptedRes = s.acceptedValues.map { vs =>
        val inv = l(s"__invalid__$n")
        s"accepted_values_$n" -> AcceptedValuesResult("accepted_values", n, inv == 0,
          inv, total, vs, Seq.empty)
      }
      Seq(notNullRes, uniqueRes, acceptedRes).flatten
    }.toMap
  }

  /** The reference's `validate_policies` suite (`clean_policies.py:83-98`),
    * expressed over the fused profile — one scan instead of ~12 jobs. */
  def validatePolicies(df: DataFrame): Map[String, CheckResult] =
    fusedProfile(df, Seq(
      ColumnSpec("policy_id", notNull = true, unique = true),
      ColumnSpec("effective_date", notNull = true),
      ColumnSpec("status", acceptedValues = Some(graft.operators.SilverTransforms.ValidStatuses)),
      ColumnSpec("channel", acceptedValues = Some(graft.operators.SilverTransforms.ValidChannels))))

  final case class TableSweepResult(table: String, exists: Boolean, rowCount: Long,
      nullKeyCount: Long, passed: Boolean)

  /** Post-pipeline DQ sweep (reference
    * `notebooks/run_data_quality_checks.py:49-132`): for each
    * (table, keyColumn), assert the table exists, is non-empty, and has
    * no NULL primary keys — one fused aggregate per table, machine-
    * readable results for a job-failing gate. */
  def sweepTables(spark: org.apache.spark.sql.SparkSession,
      tables: Seq[(String, String)]): Seq[TableSweepResult] =
    tables.map { case (table, keyCol) =>
      if (!spark.catalog.tableExists(table))
        TableSweepResult(table, exists = false, 0L, 0L, passed = false)
      else {
        val df = spark.read.table(table)
        val Row(total: Long, nullKeys: Long) = df.agg(
          count(lit(1)).as("total"),
          count(when(col(keyCol).isNull, lit(1))).as("null_keys")).head()
        TableSweepResult(table, exists = true, total, nullKeys,
          passed = total > 0 && nullKeys == 0)
      }
    }
}
