package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.plans.CosineSimilarity
import graft.streaming.StreamingMedallion

/** The custom codegen expression and the streaming bronze→silver→SCD2
  * chain. */
class PlansStreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("fused CosineSimilarity is bit-identical to the HOF formulation") {
    val r = new scala.util.Random(7)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(r.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val v = vecs.select(col("vec_id"), Similarity.asDoubleVec(col("embedding")).as("v"))
    val pairs = v.alias("a").join(v.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        CosineSimilarity(col("a.v"), col("b.v")).as("fused"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
    val diff = pairs.filter(col("fused") =!= col("hof")).count()
    assert(diff === 0) // exact double equality, not approximate
  }

  test("fused EuclideanDistance is bit-identical to the HOF formulation") {
    val r = new scala.util.Random(13)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(r.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val v = vecs.select(col("vec_id"), Similarity.asDoubleVec(col("embedding")).as("v"))
    val pairs = v.alias("a").join(v.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.plans.EuclideanDistance(col("a.v"), col("b.v")).as("fused"),
        Similarity.l2DistHof(col("a.v"), col("b.v")).as("hof"))
    assert(pairs.filter(col("fused") =!= col("hof")).count() === 0)
    // Identity: distance to self is exactly 0.
    val self = v.select(graft.plans.EuclideanDistance(col("v"), col("v")).as("d"))
    assert(self.filter(col("d") =!= 0.0).count() === 0)
    // Documented divergence outside the supported domain: on UNEQUAL
    // lengths the fused loop folds the common prefix while the HOF
    // zip_with null-pads and returns NULL (see EuclideanDistance doc).
    val uneven = Seq(
      (Array(3.0, 4.0), Array(0.0, 0.0, 9.0))).toDF("a", "b")
      .select(
        graft.plans.EuclideanDistance(col("a"), col("b")).as("fused"),
        Similarity.l2DistHof(col("a"), col("b")).as("hof"))
      .head()
    assert(uneven.getDouble(0) === 5.0) // common-prefix fold
    assert(uneven.isNullAt(1))          // HOF null-pads → NULL
  }

  test("fused DotProduct is bit-identical to the HOF fold; unit-dot equals cosine to ~1e-15") {
    val r = new scala.util.Random(7)
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.fill(64)(r.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val v = vecs.select(col("vec_id"), Similarity.asDoubleVec(col("embedding")).as("v"))
    val pairs = v.alias("a").join(v.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.plans.DotProduct(col("a.v"), col("b.v")).as("fused"),
        expr("""aggregate(zip_with(a.v, b.v, (x, y) -> x * y),
               |0d, (acc, p) -> acc + p)""".stripMargin).as("hof"))
    assert(pairs.filter(col("fused") =!= col("hof")).count() === 0)
    // The pre-normalized path (nearDupPairs): dot of unit vectors must
    // match cosine(x, y) to float-rounding distance — not bitwise (the
    // op order differs by design), which is why BOTH engines compute
    // the SAME unit-vector shape rather than mixing formulations.
    val u = v.withColumn("nrm",
        sqrt(graft.plans.DotProduct(col("v"), col("v"))))
      .select(col("vec_id"), expr("transform(v, e -> e / nrm)").as("uv"), col("v"))
    val both = u.alias("a").join(u.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        graft.plans.DotProduct(col("a.uv"), col("b.uv")).as("unit_dot"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("cos"))
    assert(both.filter(abs(col("unit_dot") - col("cos")) > 1e-12).count() === 0)
  }

  test("fused SortedJaccard equals the built-in intersect/union composition") {
    val r = new scala.util.Random(11)
    val words = (0 until 40).map(i => s"w$i")
    val docs = (0 until 60).map { i =>
      (i.toLong, r.shuffle(words).take(5 + r.nextInt(20)).toArray)
    }.toDF("id", "raw")
    val sets = docs.select(col("id"),
      sort_array(array_distinct(col("raw"))).as("sh"))
    val pairs = sets.alias("a").join(sets.alias("b"), col("a.id") < col("b.id"))
      .select(
        graft.plans.SortedJaccard(col("a.sh"), col("b.sh")).as("fused"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("composed"))
    assert(pairs.filter(col("fused") =!= col("composed")).count() === 0)
  }

  test("SortedJaccard matches a Scala Set reference on 300 random set pairs") {
    val r = new scala.util.Random(17)
    val pool = (0 until 60).map(i => f"tok$i%02d")
    val cases = (0 until 300).map { i =>
      val a = r.shuffle(pool).take(r.nextInt(pool.size)).toSet
      val b = r.shuffle(pool).take(r.nextInt(pool.size)).toSet
      (i.toLong, a.toArray.sorted, b.toArray.sorted,
        if ((a ++ b).isEmpty) 0.0 else (a & b).size.toDouble / (a ++ b).size)
    }
    val df = cases.map(c => (c._1, c._2, c._3)).toDF("id", "a", "b")
    val got = df.select(col("id"),
      graft.plans.SortedJaccard(col("a"), col("b")).as("j"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    cases.foreach { case (id, _, _, want) => assert(got(id) === want, s"case $id") }
  }

  test("jaccard_sorted registers as a SQL function, disjoint and identical cases") {
    val same = spark.sql(
      "SELECT jaccard_sorted(array('a','b'), array('a','b')) AS j").head().getDouble(0)
    assert(same === 1.0)
    val disjoint = spark.sql(
      "SELECT jaccard_sorted(array('a'), array('b')) AS j").head().getDouble(0)
    assert(disjoint === 0.0)
    val half = spark.sql(
      "SELECT jaccard_sorted(array('a','b'), array('b','c')) AS j").head().getDouble(0)
    assert(half === 1.0 / 3.0)
    val empty = spark.sql(
      """SELECT jaccard_sorted(CAST(array() AS ARRAY<STRING>),
        |CAST(array() AS ARRAY<STRING>)) AS j""".stripMargin).head().getDouble(0)
    assert(empty === 0.0)
  }

  test("cosine_similarity registers as a SQL function") {
    val sim = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s").head().getDouble(0)
    assert(sim === 1.0)
    val ortho = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS s").head().getDouble(0)
    assert(ortho === 0.0)
  }

  test("GraftExtensions injects cosine_similarity via SparkSessionExtensions") {
    // The shared session is built by Measure.session, which installs
    // GraftExtensions: all eight graft SQL names resolve with no
    // per-session registration.
    val r = spark.sql(
      """SELECT cosine_similarity(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS cos,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |  euclidean_distance(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS l2,
        |  jaccard_sorted(array('a', 'b'), array('b', 'c')) AS jac,
        |  mask_email('john.doe@corp.com') AS email,
        |  mask_name('Smith') AS name""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(r.getDouble(1) === 11.0 && r.getDouble(2) === 5.0 && r.getDouble(3) === 1.0 / 3.0)
    assert(r.getString(4) === "jo***@***.***" && r.getString(5) === "S****")
    val agg = spark.sql(
      """SELECT kmv_distinct(id % 7, 64) AS kmv,
        |  topk_by_score(CAST(id AS DOUBLE), id, 2) AS top FROM range(20)""".stripMargin)
      .selectExpr("kmv", "transform(top, t -> t.id) AS ids").head()
    assert(agg.getLong(0) === 7L)
    assert(agg.getSeq[Long](1) === Seq(19L, 18L))
  }

  test("RangeJoinRewrite turns a BETWEEN nested-loop join into a bucketed equi-join") {
    import graft.plans.RangeJoinRewrite
    val r = new scala.util.Random(33)
    val points = (1 to 1500).map(i => (i.toLong, r.nextLong(2000) - 500L)).toDF("pid", "p")
    val intervals = (1 to 40).map { i =>
      val lo = r.nextLong(2000) - 500L
      (i.toLong, lo, lo + r.nextLong(80))
    }.toDF("iid", "lo", "hi")
    def theta = points.join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").orderBy("pid", "iid")
    val expected = theta.collect().toSeq // rule OFF: nested-loop baseline
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(RangeJoinRewrite.BucketSizeKey, "32")
    try {
      val rewritten = theta
      assert(rewritten.collect().toSeq === expected)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"rewrite did not fire:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected an equi-join on the bucket:\n$plan")
    } finally {
      spark.conf.unset(RangeJoinRewrite.BucketSizeKey)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("RangeJoinRewrite leaves non-matching joins and disabled sessions alone") {
    import graft.plans.RangeJoinRewrite
    val a = Seq((1L, 5L)).toDF("pid", "p")
    val b = Seq((1L, 0L, 9L)).toDF("iid", "lo", "hi")
    try {
      // Conf unset → rule is a no-op even when installed.
      val off = a.join(b, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(!off.queryExecution.optimizedPlan.toString.contains("_bucket_l"))
      // Equi-key joins and one-sided ranges must not match the pattern.
      spark.conf.set(RangeJoinRewrite.BucketSizeKey, "8")
      val oneSided = a.join(b, col("p") >= col("lo"))
      assert(!oneSided.queryExecution.optimizedPlan.toString.contains("_bucket_l"))
      val matched = a.join(b, col("p") >= col("lo") && col("p") <= col("hi"))
      assert(matched.queryExecution.optimizedPlan.toString.contains("_bucket_l"))
      assert(matched.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq === Seq((1L, 1L)))
    } finally spark.conf.unset(RangeJoinRewrite.BucketSizeKey)
  }

  test("CosineSimilarity rejects non-array-double inputs at analysis") {
    val bad = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(CosineSimilarity(col("a"), col("b"))).collect()
    }
    assert(bad.getMessage.toLowerCase.contains("array"))
  }

  private val policyHeader = "policy_id,policyholder_first_name,policyholder_last_name," +
    "policyholder_email,property_id,coverage_type_code,effective_date," +
    "expiration_date,status,annual_premium,deductible,coverage_limit," +
    "agent_id,channel,created_at,updated_at"
  private def policyRow(id: String, status: String, updated: String) =
    s"$id,Jo,Smith,j@t.co,PROP-1,HO3,2024-01-01,2025-01-01,$status," +
      s"1200.50,1000,300000,AGT-001,ONLINE,2023-12-15T00:00:00,$updated"

  test("streaming medallion: bronze→silver→SCD2 upsert across two file batches") {
    withTempDir("graft_smed") { base =>
      val landing = s"$base/landing"; val chk = s"$base/chk"
      Files.createDirectories(Paths.get(landing))
      val db = "graft_smed"
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")

      Files.writeString(Paths.get(s"$landing/b1.csv"),
        Seq(policyHeader, policyRow("POL-001", "ACTIVE", "2024-01-01T00:00:00"),
          policyRow("POL-002", "ACTIVE", "2024-01-01T00:00:00")).mkString("\n"))
      StreamingMedallion.runPoliciesStream(spark, landing, chk, db, batchId = 1L)
      assert(spark.read.table(s"$db.dim_policy").count() === 2)

      // batch 2: POL-001 cancelled (tracked change), POL-003 brand new
      Files.writeString(Paths.get(s"$landing/b2.csv"),
        Seq(policyHeader, policyRow("POL-001", "CANCELLED", "2024-06-01T00:00:00"),
          policyRow("POL-003", "ACTIVE", "2024-06-01T00:00:00")).mkString("\n"))
      StreamingMedallion.runPoliciesStream(spark, landing, chk, db, batchId = 2L)

      val dim = spark.read.table(s"$db.dim_policy").cache()
      // POL-001 closed + new version, POL-002 untouched, POL-003 inserted
      assert(dim.count() === 4)
      val p1 = dim.filter(col("policy_id") === "POL-001").orderBy("is_current").collect()
      assert(p1.length === 2)
      assert(!p1(0).getAs[Boolean]("is_current") && p1(0).getAs[String]("status") === "ACTIVE")
      assert(p1(1).getAs[Boolean]("is_current") && p1(1).getAs[String]("status") === "CANCELLED")
      // exactly-once: bronze has 2 + 2 rows, not reprocessed
      assert(spark.read.table(s"$db.bronze_policies").count() === 4)
    }
  }

  test("streaming medallion: an empty landing dir creates no tables and does not fail") {
    withTempDir("graft_smed_empty") { base =>
      Files.createDirectories(Paths.get(s"$base/landing"))
      val db = "graft_smed_empty"
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      StreamingMedallion.runPoliciesStream(spark, s"$base/landing", s"$base/chk", db, batchId = 1L)
      assert(!spark.catalog.tableExists(s"$db.dim_policy"))
    }
  }

  test("streaming medallion: a drop's writes run as jobs of the calling session") {
    withTempDir("graft_smed_session") { base =>
      val landing = s"$base/landing"
      Files.createDirectories(Paths.get(landing))
      val db = "graft_smed_session"
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      Files.writeString(Paths.get(s"$landing/b1.csv"),
        Seq(policyHeader, policyRow("POL-001", "ACTIVE", "2024-01-01T00:00:00")).mkString("\n"))
      val own = Set(sessionTag)
      val drop = jobTags(
        StreamingMedallion.runPoliciesStream(spark, landing, s"$base/chk", db, batchId = 1L))
      // bronze append, silver append and the dim_policy first load
      assert(drop.count(_.intersect(own).nonEmpty) >= 3, drop.mkString("\n"))
      assert(spark.read.table(s"$db.dim_policy").count() === 1)
    }
  }

  test("streaming medallion: a failing write fails the drop only after the other writes commit") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    withTempDir("graft_smed_fail") { base =>
      val landing = s"$base/landing"
      Files.createDirectories(Paths.get(landing))
      val db = "graft_smed_fail"
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db")
      // silver_policies.policy_id is an INT: the silver append cannot store
      // the CSV's string ids and fails.
      spark.sql(s"CREATE TABLE $db.silver_policies (policy_id INT) USING parquet")
      Files.writeString(Paths.get(s"$landing/b1.csv"),
        Seq(policyHeader, policyRow("POL-001", "ACTIVE", "2024-01-01T00:00:00")).mkString("\n"))
      intercept[StreamingQueryException] {
        StreamingMedallion.runPoliciesStream(spark, landing, s"$base/chk", db, batchId = 1L)
      }
      assert(spark.read.table(s"$db.silver_policies").count() === 0)
      assert(spark.read.table(s"$db.bronze_policies").count() === 1)
      assert(spark.read.table(s"$db.dim_policy").count() === 1)
    }
  }

  test("streaming dim build: the empty premium side plans no aggregate and no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import graft.operators.SilverTransforms
    val dim = StreamingMedallion.dimPolicy(SilverTransforms.transformPolicies(samplePolicies))
    val plan = dim.queryExecution.optimizedPlan
    assert(plan.collect { case a: Aggregate => a; case j: Join => j }.isEmpty, plan.treeString)
    val rows = dim.select("policy_id", "total_premium_payments").as[(String, Long)].collect()
    assert(rows.toSeq.sorted === Seq(("POL-001", 0L), ("POL-002", 0L)))
  }
}
