package graft

import org.apache.spark.sql.functions._

import graft.validation.Reconciler

/** MigrationReconciler semantics (`reconciliation.py:39-180`). */
class ReconcilerSpec extends SparkTestBase {
  import spark.implicits._

  test("compareRowCounts exact equality") {
    val a = Seq(1, 2, 3).toDF("v")
    assert(Reconciler.compareRowCounts(a, a).matched)
    val r = Reconciler.compareRowCounts(a, a.limit(2))
    assert(!r.matched && r.difference === 1)
  }

  test("compareAggregates within relative tolerance in one pass") {
    val a = Seq((100.0, 10.0), (200.0, 20.0)).toDF("x", "y")
    val b = Seq((100.0, 10.0), (200.005, 20.0)).toDF("x", "y") // x off by ~1.7e-5
    val results = Reconciler.compareAggregates(a, b, Seq("x", "y"), tolerance = 1e-4)
    assert(results.forall(_.withinTolerance))
    val strict = Reconciler.compareAggregates(a, b, Seq("x"), tolerance = 1e-6)
    assert(!strict.head.withinTolerance)
  }

  test("distributionDiff is a join-based diff with coalesced zeros") {
    val a = Seq("O", "O", "F").toDF("st")
    val b = Seq("O", "P").toDF("st")
    val diff = Reconciler.distributionDiff(a, b, "st").orderBy("value").collect()
    assert(diff.map(_.getAs[String]("value")).toSeq === Seq("F", "O", "P"))
    val f = diff(0)
    assert(f.getAs[Long]("source_count") === 1 && f.getAs[Long]("target_count") === 0)
    assert(!f.getAs[Boolean]("matched"))
  }

  test("compareDistributions verdict counts") {
    val a = Seq("O", "O", "F").toDF("st")
    val b = Seq("O", "P").toDF("st")
    val r = Reconciler.compareDistributions(a, b, "st")
    assert(!r.matched && r.valuesOnlyInSource === 1 && r.valuesOnlyInTarget === 1
      && r.countMismatches === 3)
    assert(Reconciler.compareDistributions(a, a, "st").matched)
  }

  test("a column holding NULLs matches itself: the NULL group is one value") {
    val a = Seq(Some("O"), None, None).toDF("st")
    assert(Reconciler.compareDistributions(a, a, "st") ===
      Reconciler.DistributionResult("st", true, 0L, 0L, 0L))
    val nulls = Reconciler.distributionDiff(a, a, "st").filter(col("value").isNull).collect()
    assert(nulls.map(r => (r.getAs[Long]("source_count"), r.getAs[Long]("target_count"),
      r.getAs[Boolean]("matched"))).toSeq === Seq((2L, 2L, true)))
    val chi = Reconciler.distributionDriftChi2(a, a, "st").head()
    assert(chi.getAs[Double]("chi2") === 0.0 && chi.getAs[Long]("new_categories") === 0L)
  }

  test("empty inputs: zero sums, matched distributions, an equal table diff") {
    import graft.validation.TableDiff
    val e = Seq.empty[(Option[Double], Option[String])].toDF("x", "st")
    assert(Reconciler.compareAggregates(e, e, Seq("x")) ===
      Seq(Reconciler.AggregateResult("x", 0.0, 0.0, 0.0, true)))
    assert(Reconciler.compareDistributions(e, e, "st") ===
      Reconciler.DistributionResult("st", true, 0L, 0L, 0L))
    assert(TableDiff.summarize(e, e, Seq("x", "st")) === TableDiff.DiffSummary(true, 0L, 0L, 0L))
  }

  test("compareSchemas ignores _-prefixed metadata columns") {
    val a = Seq((1, "x")).toDF("id", "v").withColumn("_batch_id", lit(1L))
    val b = Seq((1, "x")).toDF("id", "v").withColumn("_cleaned_timestamp", lit("t"))
    assert(Reconciler.compareSchemas(a, b).matched)
    val r = Reconciler.compareSchemas(a.drop("v"), b)
    assert(!r.matched && r.onlyInTarget === Seq("v"))
  }

  test("distributionDriftChi2: zero for proportional mixes, hand-value for drift") {
    // Proportional shrink (same mix, half the size) → chi2 == 0.
    val src = (Seq.fill(40)("a") ++ Seq.fill(60)("b")).toDF("v")
    val half = (Seq.fill(20)("a") ++ Seq.fill(30)("b")).toDF("v")
    val zero = Reconciler.distributionDriftChi2(src, half, "v").head()
    assert(zero.getAs[Double]("chi2") === 0.0)
    assert(zero.getAs[Long]("categories") === 2L)
    // Drifted mix: target (30 a, 20 b) vs expected (20 a, 30 b):
    // chi2 = 100/20 + 100/30 = 8.3333...; 'c' is new → counted, not summed.
    val drifted = (Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(5)("c")).toDF("v")
    val d = Reconciler.distributionDriftChi2(src, drifted, "v").head()
    assert(d.getAs[Long]("new_categories") === 1L)
    // Expected counts scale to the FULL target total (55): e_a = 22, e_b = 33.
    val eA = 55.0 * 40 / 100; val eB = 55.0 * 60 / 100
    val expect = math.pow(30 - eA, 2) / eA + math.pow(20 - eB, 2) / eB
    assert(math.abs(d.getAs[Double]("chi2") - expect) < 1e-9)
  }

  test("tableDiff: equal multisets diff empty, each drift class surfaces") {
    import graft.validation.TableDiff
    val cols = Seq("id", "v")
    val base = Seq((1, "a"), (2, "b"), (3, "c"), (3, "c"), (4, "d")).toDF("id", "v")
    // Identical (incl. duplicate rows with equal multiplicity) → empty.
    assert(TableDiff.diff(base, base, cols).count() === 0)
    assert(TableDiff.summarize(base, base, cols).equal)
    // Drop id=1, duplicate id=2, modify id=4 → three distinct classes.
    val right = Seq((2, "b"), (2, "b"), (3, "c"), (3, "c"), (4, "DIFF")).toDF("id", "v")
    val sum = TableDiff.summarize(base, right, cols)
    assert(!sum.equal)
    assert(sum.onlyLeft === 2)        // (1,a) dropped and (4,d) replaced
    assert(sum.onlyRight === 1)       // (4,DIFF) appeared
    assert(sum.countMismatches === 1) // (2,b) multiplicity 1 vs 2
    // Offending-row recovery round-trips through the hash.
    val d = TableDiff.diff(base, right, cols)
    val offL = TableDiff.offendingRows(base, cols, d)
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(offL === Set((1, "a"), (2, "b"), (4, "d")))
  }

  test("tableDiff: NULL cells hash via the sentinel, not as errors") {
    import graft.validation.TableDiff
    val a = Seq((Some(1), Option.empty[String]), (Some(2), Some("x"))).toDF("id", "v")
    assert(TableDiff.diff(a, a, Seq("id", "v")).count() === 0)
    val b = Seq((Some(1), Some("_null_")), (Some(2), Some("x"))).toDF("id", "v")
    // Documented collision caveat: NULL and the literal sentinel hash
    // equal — the diff treats them as the same row.
    assert(TableDiff.diff(a, b, Seq("id", "v")).count() === 0)
  }

  test("generateReport rolls up pass/fail") {
    val a = Seq(1, 2).toDF("v")
    val report = Reconciler.generateReport("dim_policy",
      Reconciler.compareRowCounts(a, a),
      Reconciler.compareAggregates(a, a, Seq("v")),
      Seq(Reconciler.compareDistributions(a, a, "v")),
      Reconciler.compareSchemas(a, a))
    assert(report.contains("OVERALL: PASS"))
    val bad = Reconciler.generateReport("dim_policy",
      Reconciler.compareRowCounts(a, a.limit(1)), Nil, Nil,
      Reconciler.compareSchemas(a, a))
    assert(bad.contains("OVERALL: FAIL") && bad.contains("MISMATCH"))
  }

  test("sampledCompare: same sample every run, drift classes surface (O4)") {
    import graft.validation.TableDiff
    val cols = Seq("id", "v")
    val source = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "v")
    // Drop id=7, modify id=9; both must mismatch IF sampled.
    val target = source.filter(col("id") =!= 7)
      .withColumn("v", when(col("id") === 9, lit("CHANGED")).otherwise(col("v")))
    val out = TableDiff.sampledCompare(source, target, "id", cols, n = 500)
    assert(out.count() === 500)
    val byId = out.collect().map(r => r.getLong(0) ->
      (Option(r.getString(1)), Option(r.getString(2)), r.getBoolean(3))).toMap
    assert(byId(7L)._2.isEmpty && !byId(7L)._3)      // dropped: no target hash
    assert(byId(9L)._2.isDefined && !byId(9L)._3)    // modified: hashes differ
    assert(byId(8L)._3)                              // untouched: match
    // Determinism: a 50-key sample picks the same keys regardless of layout.
    val s1 = TableDiff.sampledCompare(source, target, "id", cols, n = 50)
    val s2 = TableDiff.sampledCompare(
      source.repartition(11), target.repartition(3), "id", cols, n = 50)
    assert(s1.orderBy("id").collect().toSeq === s2.orderBy("id").collect().toSeq)
  }
}
