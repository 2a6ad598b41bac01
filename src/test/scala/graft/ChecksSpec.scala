package graft

import graft.quality.Checks
import graft.tools.Measure

/** Port of `tests/test_data_quality.py:16-69` plus the fused profile and
  * the checks the reference's suite missed (row-count range, composite
  * key). */
class ChecksSpec extends SparkTestBase {
  import spark.implicits._

  test("not_null passes when no nulls") {
    val r = Checks.checkNotNull(Seq(1, 2, 3).toDF("id"), "id")
    assert(r.passed && r.nullCount === 0)
  }

  test("not_null fails when nulls present") {
    val r = Checks.checkNotNull(Seq[Option[Int]](Some(1), None, Some(3)).toDF("id"), "id")
    assert(!r.passed && r.nullCount === 1)
  }

  test("unique passes when all unique") {
    assert(Checks.checkUnique(Seq(1, 2, 3).toDF("id"), "id").passed)
  }

  test("unique fails when duplicates exist") {
    val r = Checks.checkUnique(Seq(1, 1, 3).toDF("id"), "id")
    assert(!r.passed && r.duplicateCount === 1)
  }

  test("unique counts a NULL group like the reference's distinct().count()") {
    // reference counts NULL as one distinct group: 4 rows, distinct {1,2,null} = 3
    val r = Checks.checkUnique(Seq[Option[Int]](Some(1), Some(2), None, None).toDF("id"), "id")
    assert(r.distinctCount === 3 && r.duplicateCount === 1)
  }

  test("not_null on an empty frame and an all-NULL column: result and job count") {
    val (empty, emptyC) = Measure.counted(spark)(
      Checks.checkNotNull(Seq.empty[Option[Int]].toDF("id"), "id"))
    assert(empty === Checks.NotNullResult("not_null", "id", true, 0L, 0L, 0.0))
    val (allNull, allNullC) = Measure.counted(spark)(
      Checks.checkNotNull(Seq[Option[Int]](None, None, None).toDF("id"), "id"))
    assert(allNull === Checks.NotNullResult("not_null", "id", false, 3L, 3L, 100.0))
    assert((emptyC.jobs, allNullC.jobs) === ((1, 2)))
  }

  test("unique on an empty frame and an all-NULL column: result and job count") {
    val (empty, emptyC) = Measure.counted(spark)(
      Checks.checkUnique(Seq.empty[Option[Int]].toDF("id"), "id"))
    assert(empty === Checks.UniqueResult("unique", "id", true, 0L, 0L, 0L))
    // The NULL group counts as one distinct value, so two of three rows duplicate it.
    val (allNull, allNullC) = Measure.counted(spark)(
      Checks.checkUnique(Seq[Option[Int]](None, None, None).toDF("id"), "id"))
    assert(allNull === Checks.UniqueResult("unique", "id", false, 2L, 3L, 1L))
    assert((emptyC.jobs, allNullC.jobs) === ((1, 3)))
  }

  test("accepted_values passes when all valid") {
    val r = Checks.checkAcceptedValues(Seq("A", "B", "C").toDF("status"), "status",
      Seq("A", "B", "C"))
    assert(r.passed)
  }

  test("accepted_values fails with sample of offenders") {
    val r = Checks.checkAcceptedValues(Seq("A", "B", "X").toDF("status"), "status",
      Seq("A", "B", "C"))
    assert(!r.passed && r.invalidCount === 1 && r.sampleInvalidValues.contains("X"))
  }

  test("relationships passes with valid references") {
    val df = Seq("POL-1", "POL-2").toDF("policy_id")
    val ref = Seq("POL-1", "POL-2", "POL-3").toDF("policy_id")
    assert(Checks.checkRelationships(df, "policy_id", ref, "policy_id").passed)
  }

  test("relationships fails with orphan records") {
    val df = Seq("POL-1", "POL-999").toDF("policy_id")
    val ref = Seq("POL-1", "POL-2").toDF("policy_id")
    val r = Checks.checkRelationships(df, "policy_id", ref, "policy_id")
    assert(!r.passed && r.orphanCount === 1)
  }

  test("row_count_range bounds") {
    val df = Seq(1, 2, 3).toDF("id")
    assert(Checks.checkRowCountRange(df, 1, 5).passed)
    assert(!Checks.checkRowCountRange(df, 5, 10).passed)
  }

  test("composite key uniqueness") {
    val ok = Seq((1, "a"), (1, "b")).toDF("k1", "k2")
    val dup = Seq((1, "a"), (1, "a")).toDF("k1", "k2")
    assert(Checks.checkCompositeKey(ok, Seq("k1", "k2")).passed)
    val r = Checks.checkCompositeKey(dup, Seq("k1", "k2"))
    assert(!r.passed && r.duplicateCount === 1)
    // NULL-bearing keys count like distinct(): 4 distinct keys over 6 rows, in one aggregate.
    val nullKeys = Seq[(Option[Int], Option[String])]((Some(1), None), (Some(1), None),
      (Some(1), Some("a")), (None, None), (None, None), (Some(2), Some("b"))).toDF("k1", "k2")
    val (nk, nkC) = Measure.counted(spark)(Checks.checkCompositeKey(nullKeys, Seq("k1", "k2")))
    assert(nk === Checks.CompositeKeyResult("composite_key_unique", Seq("k1", "k2"), false, 2L, 6L))
    assert(nkC.jobs === 3)
  }

  test("fusedProfile matches the standalone checks in one pass") {
    val df = Seq(
      ("A", Some(1)), ("B", Some(1)), ("X", None), ("A", Some(2))
    ).toDF("status", "v")
    val results = Checks.fusedProfile(df, Seq(
      Checks.ColumnSpec("status", notNull = true, unique = true,
        acceptedValues = Some(Seq("A", "B"))),
      Checks.ColumnSpec("v", notNull = true)))
    assert(!results("unique_status").passed) // A duplicated
    assert(results("not_null_status").passed)
    val av = results("accepted_values_status").asInstanceOf[Checks.AcceptedValuesResult]
    assert(av.invalidCount === 1)
    val nn = results("not_null_v").asInstanceOf[Checks.NotNullResult]
    assert(nn.nullCount === 1)
  }

  test("fusedProfile's accepted_values carries the offender sample; a passing column runs no sample job") {
    val df = Seq("A", "B", "X", "Y", "X").toDF("status")
    def sorted(r: Checks.CheckResult) = r match {
      case a: Checks.AcceptedValuesResult => a.copy(sampleInvalidValues = a.sampleInvalidValues.sorted)
      case other => other
    }
    val (fused, fusedC) = Measure.counted(spark)(Checks.fusedProfile(df,
      Seq(Checks.ColumnSpec("status", acceptedValues = Some(Seq("A", "B"))))))
    val (alone, aloneC) = Measure.counted(spark)(Checks.checkAcceptedValues(df, "status", Seq("A", "B")))
    assert(sorted(fused("accepted_values_status")) === sorted(alone))
    assert(alone.invalidCount === 3 && alone.sampleInvalidValues.sorted === Seq("X", "Y"))
    val (passing, passC) = Measure.counted(spark)(
      Checks.checkAcceptedValues(df, "status", Seq("A", "B", "X", "Y")))
    assert(passing.passed && passing.sampleInvalidValues.isEmpty)
    assert((fusedC.jobs, aloneC.jobs, passC.jobs) === ((4, 4, 2)))
  }

  test("sweepTables flags missing, empty, and null-key tables") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_sweep")
    Seq((Some(1), "a"), (None, "b")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("graft_sweep.has_null_key")
    Seq((1, "a")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("graft_sweep.clean")
    Seq.empty[(Int, String)].toDF("id", "v")
      .write.mode("overwrite").saveAsTable("graft_sweep.empty")
    val results = Checks.sweepTables(spark, Seq(
      ("graft_sweep.clean", "id"),
      ("graft_sweep.empty", "id"),
      ("graft_sweep.has_null_key", "id"),
      ("graft_sweep.does_not_exist", "id"))).map(r => r.table -> r).toMap
    assert(results("graft_sweep.clean").passed)
    val nk = results("graft_sweep.has_null_key")
    assert(!nk.passed && nk.nullKeyCount === 1)
    assert(!results("graft_sweep.does_not_exist").exists)
    val empty = results("graft_sweep.empty")
    assert(empty.exists && empty.rowCount === 0 && !empty.passed)
  }

  test("validatePolicies green on clean silver policies") {
    val silver = graft.operators.SilverTransforms.transformPolicies(samplePolicies)
    val results = Checks.validatePolicies(silver)
    assert(results.values.forall(_.passed), Checks.summarize("policies", results))
  }

  test("scd2IntegrityReport counts each violation class exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampType
    // K1 healthy 2-version chain; K2 two current rows (overlap via the
    // open first row); K3 only a closed row (no current); K4 closed row
    // left open; K5 gapped history; K6 current row carrying an end.
    val dim = Seq(
      ("K1", "2024-01-01", Some("2024-06-01"), false),
      ("K1", "2024-06-01", None, true),
      ("K2", "2024-01-01", None, true),
      ("K2", "2024-03-01", None, true),
      ("K3", "2024-01-01", Some("2024-02-01"), false),
      ("K4", "2024-01-01", None, false),
      ("K4", "2024-02-01", None, true),
      ("K5", "2024-01-01", Some("2024-02-01"), false),
      ("K5", "2024-05-01", None, true),
      ("K6", "2024-01-01", Some("2024-09-01"), true))
      .toDF("k", "s0", "e0", "is_current")
      .select(col("k"),
        col("s0").cast(TimestampType).as("effective_start_date"),
        col("e0").cast(TimestampType).as("effective_end_date"),
        col("is_current"))
    val r = Checks.scd2IntegrityReport(dim, "k").collect()(0)
    assert(r.getAs[Long]("n_keys") === 6L)
    assert(r.getAs[Long]("keys_multi_current") === 1L) // K2
    assert(r.getAs[Long]("keys_no_current") === 1L)    // K3
    assert(r.getAs[Long]("rows_open_noncurrent") === 1L) // K4's first row
    assert(r.getAs[Long]("rows_current_with_end") === 1L) // K6
    assert(r.getAs[Long]("keys_overlapping") === 2L)   // K2 + K4 (open row precedes)
    assert(r.getAs[Long]("keys_gapped") === 1L)        // K5
  }

  test("madOutliers flags the planted outlier and nothing else") {
    import spark.implicits._
    val df = (Seq(10.0, 10.0, 11.0, 11.0, 12.0, 1000.0).map(("g1", _)) ++
      Seq(5.0, 5.0, 5.0, 5.0).map(("g2", _))).toDF("source", "x")
    val out = graft.operators.RobustStats.madOutliers(df, "source", "x")
      .collect().map(r => r.getString(0) -> r).toMap
    // g1: lower median 11, dev median (mad) 1 → only 1000 exceeds 4.4478*1
    assert(out("g1").getAs[Double]("med") == 11.0)
    assert(out("g1").getAs[Double]("mad") == 1.0)
    assert(out("g1").getAs[Long]("n_outliers") == 1L)
    // constant group: mad 0, nothing flagged (0 > 0 is false)
    assert(out("g2").getAs[Double]("mad") == 0.0)
    assert(out("g2").getAs[Long]("n_outliers") == 0L)
  }
}
