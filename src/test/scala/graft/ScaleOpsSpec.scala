package graft

import org.apache.spark.sql.functions._

import graft.governance.Audit
import graft.operators.Skew
import graft.sources.{SampleDataGen, Tables}

/** Scale utilities (salted join, bucketed tables), the governance/audit
  * surface, and the synthetic data generator (S12) incl. an end-to-end
  * medallion run over generated data. */
class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin produces exactly the rows of the plain equi-join") {
    // skewed large side: key 'hot' dominates
    val large = (Seq.fill(500)("hot") ++ Seq("a", "b", "c")).zipWithIndex
      .toDF("k", "payload")
    val small = Seq(("hot", 1), ("a", 2), ("z", 9)).toDF("k", "dim")
    val plain = large.join(small, Seq("k")).orderBy("k", "payload", "dim")
    val salted = Skew.saltedJoin(large, small, "k").orderBy("k", "payload", "dim")
    assert(salted.count() === plain.count())
    assert(salted.collect().toSeq === plain.collect().toSeq)
  }

  test("bloom prune keeps every true match and drops most non-matches") {
    import graft.operators.BloomPrune
    val fact = (1L to 20000L).map(i => (i, i % 7)).toDF("fk", "payload")
    val dim = (1L to 20000L by 100).map(i => (i, s"d$i")).toDF("dk", "attr") // 200 keys
    val bf = BloomPrune.buildFilter(dim, "dk", expectedItems = 1000L, fpp = 0.01)
    val pruned = BloomPrune.prune(fact, "fk", bf)
    // Zero false negatives: every true join partner survives the prune.
    val trueMatches = fact.join(dim, col("fk") === col("dk"), "left_semi")
    assert(trueMatches.join(pruned, Seq("fk", "payload"), "left_anti").count() === 0)
    // Real pruning: ~1% fpp on 19800 non-matching keys leaves the pruned
    // frame far below the fact size (generous bound: < 5% of non-matches).
    val prunedCount = pruned.count()
    assert(prunedCount >= 200 && prunedCount < 200 + 19800 / 20,
      s"pruned=$prunedCount")
  }

  test("prunedEquiJoin equals the plain equi-join exactly (false positives die)") {
    import graft.operators.BloomPrune
    val fact = (1L to 5000L).map(i => (i, i * 2)).toDF("fk", "v")
    val dim = (1L to 5000L by 50).map(i => (i, s"d$i")).toDF("dk", "attr")
    val plain = fact.join(dim, col("fk") === col("dk")).orderBy("fk")
    val viaBloom = BloomPrune.prunedEquiJoin(fact, "fk", dim, "dk",
      expectedItems = 500L).orderBy("fk")
    assert(viaBloom.collect().toSeq === plain.collect().toSeq)
  }

  test("prunedEquiJoin with an empty dim equals the plain join: no rows") {
    import graft.operators.BloomPrune
    val fact = (1L to 500L).map(i => (i, i * 2)).toDF("fk", "v")
    val dim = Seq.empty[(Long, String)].toDF("dk", "attr")
    val plain = fact.join(dim, col("fk") === col("dk"))
    val viaBloom = BloomPrune.prunedEquiJoin(fact, "fk", dim, "dk", expectedItems = 500L)
    assert(viaBloom.schema === plain.schema)
    assert(viaBloom.collect().isEmpty && plain.collect().isEmpty)
  }

  test("j10_bloom_prune_join: job count on driver data, and no rows on an empty dim") {
    import graft.tools.Measure
    val j10 = SparkEntry.queries("j10_bloom_prune_join")
    val (rows, c) = Measure.counted(spark)(j10(spark, "/root/testdata/sf0.001").count())
    assert(rows > 0 && c.jobs === 8, s"j10 ran ${c.jobs} jobs")
    withTempDir("graft_j10_empty") { dir =>
      for (t <- Seq("orders", "lineitem")) {
        val full = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        full.limit(0).write.parquet(s"$dir/$t.parquet")
      }
      assert(j10(spark, dir).count() === 0L)
    }
  }

  test("bloom prune supports string keys and rejects unsupported types") {
    import graft.operators.BloomPrune
    val fact = Seq("a", "b", "c", "zz").toDF("k")
    val dim = Seq("a", "zz").toDF("k")
    val bf = BloomPrune.buildFilter(dim, "k", 100L)
    val kept = BloomPrune.prune(fact, "k", bf).collect().map(_.getString(0)).toSet
    assert(Set("a", "zz").subsetOf(kept))
    val bad = Seq(1.5, 2.5).toDF("k")
    intercept[IllegalArgumentException] {
      BloomPrune.prune(bad, "k", bf)
    }
  }

  test("range-join bucket is Math.floorDiv for every long, the extremes included") {
    import graft.operators.RangeJoin
    import org.apache.spark.sql.GraftSqlBridge
    val r = new scala.util.Random(41)
    for (b <- Seq(1L, 7L, 1000L, 1L << 40)) {
      val xs = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue, Long.MaxValue - 1,
        -1L, 0L, 1L, -b, b, -3 * b, 5 * b, -3 * b + 1, 5 * b - 1,
        -6080983959558420776L) ++ Seq.fill(2000)(r.nextLong())
      val got = xs.toDF("x")
        .select(col("x"), GraftSqlBridge.column(
          RangeJoin.bucket(GraftSqlBridge.expression(col("x")), b)).as("bucket"))
        .collect().map(row => row.getLong(0) -> row.getLong(1))
      val wrong = got.filter { case (x, k) => k != Math.floorDiv(x, b) }
      assert(got.length === xs.size && wrong.isEmpty,
        s"b=$b: ${wrong.take(5).mkString(", ")}")
    }
  }

  test("bucketed range join matches the naive theta-join on random data") {
    import graft.operators.RangeJoin
    val r = new scala.util.Random(7)
    // Points and intervals straddle negative values on purpose — the
    // floordiv bucketing must stay exact there (truncating div would
    // mis-bucket). Interval lengths vary 0..60 around bucketSize 16.
    val points = (1 to 2000).map(i => (i.toLong, r.nextLong(4000) - 2000L))
      .toDF("pid", "p")
    val intervals = (1 to 60).map { i =>
      val lo = r.nextLong(4000) - 2000L
      (i.toLong, lo, lo + r.nextLong(61))
    }.toDF("iid", "lo", "hi")
    val naive = points.join(intervals,
      col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").orderBy("pid", "iid")
    val bucketed = RangeJoin.pointInInterval(points, "p", intervals,
      "lo", "hi", bucketSize = 16L)
      .select("pid", "iid").orderBy("pid", "iid")
    assert(bucketed.collect().toSeq === naive.collect().toSeq)
  }

  test("bucketed range join plans an equi-join, never a nested loop") {
    import graft.operators.RangeJoin
    val points = (1L to 1000L).map(i => (i, i % 500)).toDF("pid", "p")
    val intervals = (1L to 50L).map(i => (i, i * 9, i * 9 + 30)).toDF("iid", "lo", "hi")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 16L)
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"range join fell back to a quadratic strategy:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on the bucket id:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("intervalOverlapJoin matches the naive overlap theta-join, each pair once") {
    import graft.operators.RangeJoin
    val r = new scala.util.Random(11)
    // Long intervals versus bucketSize so pairs share MANY buckets —
    // the left-edge dedup must still emit each pair exactly once.
    val a = (1 to 120).map { i =>
      val lo = r.nextLong(2000) - 700L; (i.toLong, lo, lo + r.nextLong(300))
    }.toDF("aid", "a_lo", "a_hi")
    val b = (1 to 80).map { i =>
      val lo = r.nextLong(2000) - 700L; (i.toLong, lo, lo + r.nextLong(300))
    }.toDF("bid", "b_lo", "b_hi")
    val naive = a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").orderBy("aid", "bid")
    val bucketed = RangeJoin.intervalOverlapJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
      bucketSize = 32L).select("aid", "bid").orderBy("aid", "bid")
    assert(bucketed.collect().toSeq === naive.collect().toSeq)
  }

  test("range join honors extra equi-keys alongside the interval predicate") {
    import graft.operators.RangeJoin
    val points = Seq((1L, "u1", 10L), (2L, "u2", 10L)).toDF("pid", "user", "p")
    val intervals = Seq(("u1", 0L, 20L, "a"), ("u2", 15L, 30L, "b"))
      .toDF("user", "lo", "hi", "tag")
    val out = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi",
      bucketSize = 8L, extraKeys = Seq("user"))
      .select("pid", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // u1's point 10 is inside u1's [0,20]; u2's point 10 is OUTSIDE
    // u2's [15,30] and must not match u1's interval either.
    assert(out === Set((1L, "a")))
  }

  test("mortonCode matches a plain-Scala bit interleave on random inputs") {
    import graft.operators.ZOrder
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).sum
    val r = new scala.util.Random(21)
    val rows = (1 to 500).map(_ => (r.nextLong(1 << 12), r.nextLong(1 << 12)))
    val got = ZOrder.mortonCode(col("a"), col("b"), 12)
    val out = rows.toDF("a", "b").select(col("a"), col("b"), got.as("z")).collect()
    out.foreach(x =>
      assert(x.getLong(2) === ref(x.getLong(0), x.getLong(1), 12),
        s"(${x.getLong(0)}, ${x.getLong(1)})"))
  }

  test("zorderBy yields rectangular partitions: both dims prune, not just one") {
    import graft.operators.ZOrder
    // Full 64x64 grid into 16 partitions (256 cells each). A contiguous
    // z-range of 256 codes covers a bounding box of side O(sqrt(256));
    // a single-column sort leaves the OTHER dim spanning the whole 0..63.
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val z = ZOrder.zorderBy(grid, "a", "b", bits = 6, numPartitions = 16)
    assert(z.count() === 64L * 64L) // no rows lost
    val spans = z.withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("a") - min("a")).as("spanA"), (max("b") - min("b")).as("spanB"))
      .collect()
    spans.foreach { p =>
      assert(p.getAs[Long]("spanA") <= 48 && p.getAs[Long]("spanB") <= 48,
        s"partition ${p.getInt(0)} spans (${p.getAs[Long]("spanA")}, ${p.getAs[Long]("spanB")})")
    }
    // Contrast: linear sort on `a` leaves b unclustered (full span).
    val linear = grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").agg((max("b") - min("b")).as("spanB")).collect()
    assert(linear.forall(_.getAs[Long]("spanB") === 63L))
  }

  test("keySkewProfile surfaces the hot key's share") {
    val df = (Seq.fill(90)("hot") ++ Seq.fill(10)("cold")).toDF("k")
    val top = Skew.keySkewProfile(df, "k", 1).head()
    assert(top.getAs[String]("k") === "hot")
    assert(math.abs(top.getAs[Double]("share") - 0.9) < 1e-9)
  }

  test("adaptiveJoin picks the doctrine branch and always equals the plain join") {
    val large = ((1 to 50).map(_ => 1) ++ (1 to 50).map(i => 1 + i % 10))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "payload")
    val small = (1 to 11).map(k => (k, s"dim$k")).toDF("k", "dim")
    val plain = large.join(small, Seq("k"))
      .orderBy("k", "payload").collect().toSeq
    def run(maxB: Long, thresh: Double) =
      Skew.adaptiveJoin(large, small, "k",
        maxBroadcastRows = maxB, hotShareThreshold = thresh)
    // Dim fits → broadcast, regardless of skew.
    val b = run(100L, 0.10)
    assert(b.select("join_strategy").distinct().head().getString(0) === "broadcast")
    assert(b.drop("join_strategy").orderBy("k", "payload").collect().toSeq === plain)
    // Broadcast forbidden + head key at ~55% share → salted.
    val sj = run(0L, 0.10)
    assert(sj.select("join_strategy").distinct().head().getString(0) === "salted")
    assert(sj.drop("join_strategy").orderBy("k", "payload").collect().toSeq === plain)
    // Broadcast forbidden + threshold above the head share → plain.
    val p = run(0L, 0.99)
    assert(p.select("join_strategy").distinct().head().getString(0) === "plain")
    assert(p.drop("join_strategy").orderBy("k", "payload").collect().toSeq === plain)
    // Empty large side: no head key — plain, and no NPE from the profile.
    val empty = Skew.adaptiveJoin(large.limit(0), small, "k",
      maxBroadcastRows = 0L)
    assert(empty.count() === 0L)
  }

  test("bucketed tables join without a shuffle exchange") {
    Tables.ensureDatabase(spark, "graft_test")
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Tables.overwriteBucketed(a, "graft_test.bkt_a", "k", numBuckets = 4)
    Tables.overwriteBucketed(b, "graft_test.bkt_b", "k", numBuckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val joined = spark.read.table("graft_test.bkt_a")
        .join(spark.read.table("graft_test.bkt_b"), "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("audit: bulk-access anomalies apply window and HAVING threshold") {
    val log = Seq(
      ("2024-01-05 10:00:00", "a@x.io", "t1", "commandSubmit", 200),
      ("2024-01-05 11:00:00", "a@x.io", "t2", "commandSubmit", 200),
      ("2024-01-05 12:00:00", "a@x.io", "t1", "commandSubmit", 200),
      ("2024-01-05 12:30:00", "b@x.io", "t1", "commandSubmit", 200),
      ("2023-12-01 10:00:00", "a@x.io", "t1", "commandSubmit", 200)) // outside window
      .toDF("event_time", "user_email", "table_accessed", "action_name", "status_code")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    val out = Audit.bulkAccessAnomalies(log, threshold = 2,
      asOf = to_timestamp(lit("2024-01-08 00:00:00"))).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("user_email") === "a@x.io")
    assert(out(0).getAs[Long]("query_count") === 3)
    assert(out(0).getAs[Long]("distinct_tables") === 2)
  }

  test("audit: PII access window filters by prefix, action, and 7-day window") {
    val log = Seq(
      ("2024-01-06 10:00:00", "a@x.io", "cat.gold.dim_policy_v1", "getTable", 200),
      ("2024-01-06 11:00:00", "a@x.io", "cat.gold.fact_claims", "getTable", 200),
      ("2024-01-06 12:00:00", "a@x.io", "cat.gold.dim_policy_v1", "deleteTable", 200),
      ("2023-11-01 10:00:00", "a@x.io", "cat.gold.dim_policy_v1", "getTable", 200))
      .toDF("event_time", "user_email", "table_accessed", "action_name", "status_code")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    val out = Audit.piiAccessLast7Days(log, "cat.gold.dim_policy",
      asOf = to_timestamp(lit("2024-01-08 00:00:00")))
    assert(out.count() === 1)
  }

  test("eraseSubjects partitions the frame: retained + erased = input, no overlap") {
    import graft.governance.AccessControls
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "v")
    val subjects = Seq(1L, 3L, 99L).toDF("s") // 99 matches nothing
    val (retained, tally) = AccessControls.eraseSubjects(df, "k", subjects, "s")
    assert(retained.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((2L, "c")))
    val t = tally.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(t === Map(1L -> 2L, 3L -> 1L)) // no phantom row for 99
    assert(retained.count() + t.values.sum === df.count())
  }

  test("pseudonymizeKey: stable across tables, injective, salt-sensitive") {
    import graft.governance.AccessControls
    val a = Seq(1L, 2L, 3L).toDF("k")
      .select(AccessControls.pseudonymizeKey(col("k"), "s1").as("t"), col("k"))
    val b = Seq(2L, 3L, 4L).toDF("k")
      .select(AccessControls.pseudonymizeKey(col("k"), "s1").as("t"), col("k"))
    // same (salt, key) → same surrogate in both frames: the join on the
    // token recovers exactly the clear-key intersection
    val joined = a.join(b.select(col("t")), "t")
      .collect().map(_.getAs[Long]("k")).sorted
    assert(joined.toSeq === Seq(2L, 3L))
    // injective over the keys, and rotating the salt re-keys everything
    assert(a.select("t").distinct().count() === 3)
    val rotated = Seq(1L, 2L, 3L).toDF("k")
      .select(AccessControls.pseudonymizeKey(col("k"), "s2").as("t"))
    assert(a.select("t").join(rotated, "t").count() === 0)
  }

  test("k-anonymity: classes flag below-k; suppression nulls exactly those rows") {
    import graft.governance.AccessControls
    // Classes under (g, x): (A,1)×5 ok, (A,2)×2, (B,1)×1, (C,null)×2 —
    // the null quasi value is its OWN class and must be suppressed via
    // the null-safe join, not silently skipped.
    val rows = (
      (1 to 5).map(i => (i.toLong, Some("A"), Some(1), s"p$i")) ++
        Seq((6L, Some("A"), Some(2), "p6"), (7L, Some("A"), Some(2), "p7"),
          (8L, Some("B"), Some(1), "p8"),
          (9L, Some("C"), None, "p9"), (10L, Some("C"), None, "p10"))
      ).toDF("id", "g", "x", "payload")
    val cls = AccessControls.kAnonymityClasses(rows, Seq("g", "x"), 3)
      .collect()
      .map(r => (r.getAs[String]("g"), Option(r.getAs[Any]("x"))) ->
        ((r.getAs[Long]("class_size"), r.getAs[Boolean]("violates_k")))).toMap
    assert(cls.size === 4)
    assert(cls(("A", Some(1))) === ((5L, false)))
    assert(cls(("A", Some(2))) === ((2L, true)))
    assert(cls(("B", Some(1))) === ((1L, true)))
    assert(cls(("C", None)) === ((2L, true)))

    val rep = AccessControls.suppressBelowK(rows, Seq("g", "x"), 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[String]("g")), Option(r.getAs[Any]("x")),
          r.getAs[String]("payload")))).toMap
    assert(rep.size === 10, "row count preserved")
    (1L to 5L).foreach(i => assert(rep(i) === ((Some("A"), Some(1), s"p$i"))))
    (6L to 10L).foreach { i =>
      assert(rep(i)._1.isEmpty && rep(i)._2.isEmpty, s"id $i not suppressed")
      assert(rep(i)._3 === s"p$i", "non-quasi column must pass through")
    }
  }

  test("access controls: masked frame and secure view gate PII by role") {
    import graft.governance.AccessControls
    val dim = graft.operators.GoldDims.buildDimPolicy(
      graft.operators.SilverTransforms.transformPolicies(samplePolicies),
      graft.operators.GoldDims.buildPremiumSummary(
        Seq.empty[(String, java.sql.Date, java.sql.Date, Double, String)]
          .toDF("policy_id", "payment_date", "due_date", "amount", "payment_status")
          .select(col("policy_id"), col("payment_date"), col("due_date"),
            col("amount").cast("decimal(12,2)").as("amount"), col("payment_status"))),
      asOf = lit("2024-06-01").cast("date"))
    val masked = AccessControls.maskedPolicyFrame(dim, piiAuthorized = false)
      .filter(col("policy_id") === "POL-001").head()
    assert(masked.getAs[String]("policyholder_first_name") === "J***")
    assert(masked.getAs[String]("policyholder_email") === "jo***@***.***")
    val authorized = AccessControls.maskedPolicyFrame(dim, piiAuthorized = true)
      .filter(col("policy_id") === "POL-001").head()
    assert(authorized.getAs[String]("policyholder_first_name") === "John")

    Tables.ensureDatabase(spark, "graft_test")
    dim.write.mode("overwrite").saveAsTable("graft_test.dim_policy_ac")
    AccessControls.createMaskedPolicyView(spark, "graft_test.dim_policy_ac",
      "v_dim_policy_masked")
    val viaView = spark.table("v_dim_policy_masked")
      .filter(col("policy_id") === "POL-001").head()
    assert(viaView.getAs[String]("policyholder_last_name") === "S****")
    assert(viaView.getAs[String]("policyholder_email") === "jo***@***.***")
    // non-PII untouched
    assert(viaView.getAs[String]("status") === "ACTIVE")
  }

  test("generator: deterministic, reference-shaped, and pipeline-green end-to-end") {
    val dir1 = graft.tools.Measure.tempDir("gen1")
    val dir2 = graft.tools.Measure.tempDir("gen2")
    val counts1 = SampleDataGen.generate(dir1, nPolicies = 200, seed = 42L)
    val counts2 = SampleDataGen.generate(dir2, nPolicies = 200, seed = 42L)
    assert(counts1 === counts2) // same seed → same counts
    // same seed → byte-identical files (determinism)
    val f1 = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir1/raw_policies.csv"))
    val f2 = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir2/raw_policies.csv"))
    assert(f1 === f2)
    assert(counts1("policies") === 200)
    assert(counts1("properties") === 160) // 0.8 ratio like the reference
    // claims density ~15% of policies, 1-3 each
    assert(counts1("claims") >= 10 && counts1("claims") <= 120)
    // payments: between 1 and 12 per policy
    assert(counts1("premiums") >= 200 && counts1("premiums") <= 2400)

    // the generated CSVs drive the full medallion DAG to a green DQ gate
    val db = "graft_gen_e2e"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val results = graft.pipeline.Runner.run(spark,
      graft.pipeline.Runner.medallionStages(dir1, db))
    val failed = results.filter(!_.ok)
    assert(failed.isEmpty, failed.map(r => s"${r.name}: ${r.error}").mkString("; "))
    assert(spark.read.table(s"$db.dim_policy").count() === 200)
    val fact = spark.read.table(s"$db.fact_claims")
    assert(fact.count() === counts1("claims"))
  }

  test("compactTable collapses a many-file table without changing content") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_sc")
    val data = (1L to 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
    data.repartition(24).write.mode("overwrite")
      .format("parquet").saveAsTable("graft_sc.cmp")
    def fileCount = spark.read.table("graft_sc.cmp")
      .select(input_file_name()).distinct().count()
    assert(fileCount === 24)
    Tables.compactTable(spark, "graft_sc.cmp", targetPartitions = 2)
    assert(fileCount === 2)
    val back = spark.read.table("graft_sc.cmp").orderBy("id").collect()
    assert(back.length === 5000 && back.head.getLong(0) === 1L)
  }

  test("connectedComponents scale probe: 10k-node clique forest + a long path") {
    import graft.llm.Dedup
    // 2000 disjoint 5-cliques (the near-dup shape: converges in O(1)
    // rounds regardless of graph size) plus one 30-node path (the
    // adversarial diameter case maxIter must bound).
    val cliqueEdges = (0L until 2000L).flatMap { c =>
      val base = c * 5
      for (i <- 0 until 5; j <- i + 1 until 5) yield (base + i, base + j)
    }
    val pathEdges = (100000L until 100029L).map(i => (i, i + 1))
    val pairs = (cliqueEdges ++ pathEdges).toDF("id_a", "id_b")
      .repartition(16)
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 10030)
    assert(comps.forall { case (id, c) =>
      if (id >= 100000L) c === 100000L else c === (id / 5) * 5 })
  }
}
