package graft

import org.apache.spark.sql.functions._

import graft.operators.Reduce
import graft.tools.Measure

/** Observed reductions ([[graft.operators.Reduce.observed]]): the row
  * equals the grand aggregate's, costs no job beyond the action's, reads
  * NULL for a SUM over no rows, and a failing action surfaces its own
  * exception instead of waiting for metrics that never come. */
class ReduceSpec extends SparkTestBase {

  private def frame = spark.range(0, 1000, 1, 4).select(
    col("id"), (col("id") * 0.37 - 100.0).as("x"))

  private def aggs = Seq(
    count(lit(1)).as("n"),
    sum(floor(col("x") * lit(1.0e12)).cast("decimal(38,0)")).as("fx"),
    max(col("x")).as("mx"))

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("observed row equals agg().first(), field for field and bit for bit") {
    val want = frame.agg(aggs.head, aggs.tail: _*).first()
    val (res, got) = Reduce.observed(frame, aggs: _*)(_.count())
    assert(res === 1000L)
    assert(got.schema.fieldNames.toSeq === Seq("n", "fx", "mx"))
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getDecimal(1) === want.getDecimal(1))
    assert(java.lang.Double.doubleToLongBits(got.getDouble(2)) ===
      java.lang.Double.doubleToLongBits(want.getDouble(2)))
  }

  test("observing adds no job to the action") {
    def jobs(body: => Unit): Int = Measure.counted(spark)(body)._2.jobs
    val plain = jobs(noop(frame))
    val observed = jobs(Reduce.observed(frame, aggs: _*)(noop))
    assert(plain === 1, s"a noop write is one job, got $plain")
    assert(observed === plain)
  }

  test("over no rows a COUNT reads 0 and a SUM reads NULL") {
    val (_, row) = Reduce.observed(frame.filter(lit(false)), aggs: _*)(noop)
    assert(row.getLong(0) === 0L)
    assert(row.isNullAt(1) && row.isNullAt(2))
  }

  test("an action that throws surfaces its own exception without waiting") {
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Reduce.observed(frame, aggs: _*)(df => { df.count(); throw new IllegalStateException("boom") })
    }
    assert(ex.getMessage === "boom")
    val failed = intercept[Exception] {
      Reduce.observed(frame.select(assert_true(col("id") < 10).as("ok")), count(lit(1)))(noop)
    }
    assert(!failed.isInstanceOf[java.util.concurrent.TimeoutException], failed.toString)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60, s"took $secs s")
  }
}
