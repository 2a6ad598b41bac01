package graft

import org.apache.spark.sql.functions._

import graft.plans.KmvDistinct

/** KMV bottom-k distinct sketch — the TypedImperativeAggregate path
  * (plans/KmvDistinct): exactness below k, bounded error above it,
  * partition/order invariance (the merge-correctness property that
  * makes the partial-aggregation shuffle shape legal), and the SQL
  * registration.
  */
class KmvDistinctSpec extends SparkTestBase {

  private def hashed(n: Int, partitions: Int) = {
    import spark.implicits._
    (1 to n).map(i => s"tok_$i").toDF("tok")
      .repartition(partitions)
      .select(conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long").as("hv"))
  }

  test("exact count when distinct values stay below k") {
    val est = hashed(40, 3).agg(KmvDistinct.kmv(col("hv"), 64)).head().getLong(0)
    assert(est === 40L)
  }

  test("duplicates do not inflate the sketch") {
    import spark.implicits._
    val df = (1 to 30).flatMap(i => Seq.fill(7)(s"tok_$i")).toDF("tok")
      .select(conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long").as("hv"))
    assert(df.agg(KmvDistinct.kmv(col("hv"), 64)).head().getLong(0) === 30L)
  }

  test("estimate lands within the bottom-k error bound above k") {
    val n = 20000
    val est = hashed(n, 8).agg(KmvDistinct.kmv(col("hv"), 256)).head().getLong(0)
    // KMV relative standard error ~ 1/sqrt(k-2) ≈ 6.3% at k=256; 5 sigma.
    assert(math.abs(est - n) < n * 0.32, s"est=$est exact=$n")
  }

  test("result is invariant to partitioning and input order") {
    val base = hashed(5000, 1).agg(KmvDistinct.kmv(col("hv"), 128)).head().getLong(0)
    for (p <- Seq(2, 13, 32)) {
      val est = hashed(5000, p).orderBy(rand(seed = p))
        .agg(KmvDistinct.kmv(col("hv"), 128)).head().getLong(0)
      assert(est === base, s"partitions=$p")
    }
  }

  test("grouped sketches aggregate independently per key") {
    import spark.implicits._
    val df = (1 to 900).map(i => (s"g${i % 3}", s"tok_${i % (50 * (i % 3 + 1))}"))
      .toDF("g", "tok")
      .select(col("g"), conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast("long").as("hv"))
    val got = df.groupBy("g")
      .agg(KmvDistinct.kmv(col("hv"), 64).as("est"),
        countDistinct(col("hv")).as("exact"))
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("est"), r.getAs[Long]("exact"))).toMap
    got.foreach { case (g, (est, exact)) =>
      if (exact < 64) assert(est === exact, s"group $g below k must be exact")
      else assert(math.abs(est - exact) < exact * 0.5, s"group $g est=$est")
    }
  }

  test("out-of-range hashes fail loudly instead of corrupting the estimate") {
    import spark.implicits._
    // The estimator assumes [0, 2^32): full-range xxhash64-style input
    // (negative longs) must throw at update time, not produce a negative
    // estimate or divide by zero (r11 advice).
    val neg = Seq(-1L, 5L).toDF("hv")
    val err = intercept[Exception] {
      neg.agg(KmvDistinct.kmv(col("hv"), 8)).collect()
    }
    assert(err.getMessage != null &&
      (err.getMessage.contains("[0, 2^32)") ||
        Option(err.getCause).exists(_.getMessage.contains("[0, 2^32)"))),
      s"unexpected error: ${err.getMessage}")
    val big = Seq(1L << 32, 5L).toDF("hv")
    val err2 = intercept[Exception] {
      big.agg(KmvDistinct.kmv(col("hv"), 8)).collect()
    }
    assert(err2.getMessage != null)
  }

  test("SQL registration: kmv_distinct(hash, k) resolves and aggregates") {
    hashed(40, 2).createOrReplaceTempView("kmv_in")
    val est = spark.sql("SELECT kmv_distinct(hv, 64) FROM kmv_in").head().getLong(0)
    assert(est === 40L)
  }
}
