package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Registry
import graft.tools.Overlap

class RegistrySpec extends SparkTestBase {
  import spark.implicits._

  test("decimalsToDouble rewrites top-level and NESTED decimal columns") {
    val df = Seq((1, BigDecimal("12.34"), BigDecimal("5.60"), Seq(BigDecimal("1.10"))))
      .toDF("id", "flat", "inner", "arr")
      .select(col("id"), col("flat"),
        struct(col("inner").as("amount"), lit("x").as("tag")).as("s"),
        col("arr"))
    val out = Registry.decimalsToDouble(df)
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType  => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType   => hasDecimal(a.elementType)
      case m: MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _              => false
    }
    assert(!out.schema.fields.exists(f => hasDecimal(f.dataType)),
      s"decimal survived: ${out.schema.treeString}")
    // Values preserved (not just types rewritten).
    val row = out.head()
    assert(row.getAs[Double]("flat") === 12.34)
    assert(row.getAs[org.apache.spark.sql.Row]("s").getAs[Double]("amount") === 5.6)
    assert(row.getAs[Seq[Double]]("arr") === Seq(1.1))
    // Non-decimal columns pass through untouched.
    assert(out.schema("id").dataType === IntegerType)
  }

  test("T normalizes events.ts to nanos BIGINT for all on-disk flavors") {
    // The driver's events.ts flavor has changed across testdata
    // generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); the stress
    // corpus writes raw BIGINT. Gates do integer nanos arithmetic, so T
    // must hand back the identical long whatever the file carries.
    val dir = graft.tools.Measure.tempDir("graft_ts_norm")
    val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    // Micros-timestamp flavor (what the r9 driver data carries).
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$dir/tsdir/events.parquet")
    val fromTs = Registry.T(spark, s"$dir/tsdir", "events")
    assert(fromTs.schema("ts").dataType === LongType)
    assert(fromTs.select("ts").head().getLong(0) === micros * 1000L)
    // TIMESTAMP_NTZ flavor (isAdjustedToUTC=false — the EXACT parquet
    // shape the r9+ driver writes via pyarrow timestamp[us]; a Spark
    // LTZ round-trip reads back as TIMESTAMP, so without this fixture
    // the NTZ branch — the one sensitive to session timezone — would be
    // the only flavor untested; r9 advice).
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$dir/ntzdir/events.parquet")
    val ntzOnDisk = spark.read.parquet(s"$dir/ntzdir/events.parquet")
    assert(ntzOnDisk.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType,
      "fixture must actually land as TIMESTAMP_NTZ on disk")
    val fromNtz = Registry.T(spark, s"$dir/ntzdir", "events")
    assert(fromNtz.schema("ts").dataType === LongType)
    assert(fromNtz.select("ts").head().getLong(0) === micros * 1000L)
    // Raw BIGINT flavor (stress corpus) passes through untouched.
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/longdir/events.parquet")
    val fromLong = Registry.T(spark, s"$dir/longdir", "events")
    assert(fromLong.schema("ts").dataType === LongType)
    assert(fromLong.select("ts").head().getLong(0) === micros * 1000L)
    // Non-events tables are never rewritten even with a ts column.
    Seq((1L, micros)).toDF("id", "ts")
      .select(col("id"), timestamp_micros(col("ts")).as("ts"))
      .write.parquet(s"$dir/longdir/other.parquet")
    assert(Registry.T(spark, s"$dir/longdir", "other")
      .schema("ts").dataType !== LongType)
  }

  test("spread derives its partition count from input size, clamped, values intact") {
    val dir = graft.tools.Measure.tempDir("graft_spread")
    // Tiny input: the 64 KB-per-partition target must clamp UP to 1,
    // never 0, and must not lose or duplicate rows.
    spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(s"$dir/tiny.parquet")
    val tiny = Registry.spread(Registry.T(spark, dir, "tiny"))
    assert(tiny.rdd.getNumPartitions === 1)
    assert(tiny.agg(count(lit(1)), sum(col("id"))).head() ===
      org.apache.spark.sql.Row(100L, 4950L))
    // Large-estimate input: the target must clamp at 2x defaultParallelism
    // (the old constant), never beyond — production scans degrade to the
    // r13 behavior exactly.
    spark.range(200000)
      .selectExpr("id", "repeat(CAST(id AS STRING), 40) AS s")
      .write.parquet(s"$dir/big.parquet")
    val big = Registry.spread(Registry.T(spark, dir, "big"))
    val cap = spark.sparkContext.defaultParallelism * 2
    val n = big.rdd.getNumPartitions
    assert(n > 1 && n <= cap, s"expected (1, $cap] partitions, got $n")
    assert(big.count() === 200000L)
  }

  test("inParallel runs every thunk with the caller's job properties, in order") {
    val sc = spark.sparkContext
    val key = "graft.test.inParallel"
    try {
      // Two calls with different values: a thunk on a recycled thread
      // must not see the earlier caller's value.
      for (v <- Seq("first", "second")) {
        sc.setLocalProperty(key, v)
        sc.setJobGroup(s"group-$v", "inParallel spec")
        val seen = Overlap.all(
          (1 to 4).map(i => () => (i, sc.getLocalProperty(key),
            sc.getLocalProperty("spark.jobGroup.id"))))
        assert(seen === (1 to 4).map(i => (i, v, s"group-$v")))
      }
      // A thunk's own property changes stay on its thread.
      Overlap.all(Seq(() => sc.setLocalProperty(key, "thunk")))
      assert(sc.getLocalProperty(key) === "second")
    } finally {
      sc.setLocalProperty(key, null)
      sc.clearJobGroup()
    }
  }

  test("inParallel nests: inner calls finish and see the outer caller's properties") {
    val sc = spark.sparkContext
    val key = "graft.test.inParallel.nested"
    sc.setLocalProperty(key, "outer")
    try {
      val out = Overlap.all((1 to 3).map(i => () =>
        Overlap.all((1 to 3).map(j => () =>
          (i * 10 + j, sc.getLocalProperty(key))))))
      assert(out.flatten === (for (i <- 1 to 3; j <- 1 to 3) yield (i * 10 + j, "outer")))
      // Jobs run from nested thunks complete and return their values.
      assert(Overlap.all(Seq(() =>
        Overlap.all(Seq(() => spark.range(7).count())).head)) === IndexedSeq(7L))
    } finally sc.setLocalProperty(key, null)
  }
}
