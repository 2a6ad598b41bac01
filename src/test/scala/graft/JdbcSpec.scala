package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Jdbc

/** Embedded-Derby JDBC source (SURVEY §2.1 S4): type-fidelity roundtrip,
  * range-partitioned parallel scan shape, and remote filter pushdown.
  */
class JdbcSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDb(): String =
    graft.tools.Measure.tempDir("graft_jdbc_spec") + "/db"

  test("roundtrip preserves ints, longs, doubles, decimals, dates, bools, strings, nulls") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("big", LongType),
      StructField("amt", DoubleType), StructField("dec", DecimalType(12, 2)),
      StructField("d", DateType), StructField("flag", BooleanType),
      StructField("name", StringType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1, 10000000000L, 1.5, BigDecimal("1234567890.12").bigDecimal,
        Date.valueOf("2024-06-15"), true, "alpha"),
      org.apache.spark.sql.Row(2, -7L, -0.25, BigDecimal("0.01").bigDecimal,
        Date.valueOf("1999-12-31"), false, "beta"),
      org.apache.spark.sql.Row(3, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows.asJava, schema)
    val db = freshDb()
    Jdbc.loadTable(db, "t_mixed", df)
    val back = Jdbc.read(spark, db, "t_mixed")
    assert(back.columns.toSeq === Seq("id", "big", "amt", "dec", "d", "flag", "name"))
    val got = back.orderBy("id").collect()
    assert(got.length === 3)
    assert(got(0).getInt(0) === 1 && got(0).getLong(1) === 10000000000L &&
      got(0).getDouble(2) === 1.5 &&
      got(0).getDecimal(3) === BigDecimal("1234567890.12").bigDecimal &&
      got(0).getDate(4) === Date.valueOf("2024-06-15") &&
      got(0).getBoolean(5) && got(0).getString(6) === "alpha")
    assert((1 until 7).forall(got(2).isNullAt), "null row must stay null in every column")
  }

  test("readPartitioned splits the scan into numPartitions bounded tasks, no rows lost") {
    val df = (1L to 97L).map(i => (i, s"row$i")).toDF("k", "v")
    val db = freshDb()
    Jdbc.loadTable(db, "t_part", df)
    val back = Jdbc.readPartitioned(spark, db, "t_part", "k", 1L, 98L, numPartitions = 4)
    assert(back.rdd.getNumPartitions === 4,
      "range partitioning must yield one task per requested partition")
    assert(back.count() === 97L, "range predicates must tile [lb, ub) exactly")
    assert(back.agg(sum("k")).head().getLong(0) === (1L to 97L).sum)
  }

  test("filters push into the remote JDBC query") {
    val df = (1L to 50L).map(i => (i, i % 5)).toDF("k", "grp")
    val db = freshDb()
    Jdbc.loadTable(db, "t_push", df)
    val q = Jdbc.read(spark, db, "t_push").filter(col("grp") === 3L)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("grp"),
      s"filter must reach the JDBC scan node, plan:\n$plan")
    assert(q.count() === 10L)
  }
}
