package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.operators.Scd2
import graft.streaming.AvailableNow

/** Checkpoint RECOVERY for the stateful streaming pipelines (r13 verdict
  * item 3): the st13–st21 gates each run one clean AvailableNow pass per
  * increment, which proves incremental pickup but not the property the
  * design claims — that a stream KILLED MID-RUN resumes from its
  * checkpoint, re-executes only the planned-but-uncommitted batch, and
  * converges to the same result. Reference contract:
  * `ingest_policies.py:122-127` (checkpointLocation = exactly-once).
  *
  * The kill is injected deterministically: `maxFilesPerTrigger=1` splits
  * the staged files into one micro-batch each, and foreachBatch throws on
  * its second invocation BEFORE any side effect — so batch 0 is committed,
  * batch 1 is planned in the offset log but uncommitted, exactly the
  * crash window a real failure leaves behind. The restart must re-execute
  * batch 1 (same offsets) and must NOT re-execute batch 0; an applied-
  * batch log appended inside foreachBatch makes re-execution visible even
  * where the merge itself is idempotent.
  */
class StreamingRecoverySpec extends SparkTestBase {

  private val dimTbl = "graft_test.recover_dim"
  private val logTbl = "graft_test.recover_log"

  private def shape(keys: org.apache.spark.sql.Dataset[java.lang.Long],
      status: String, startDate: String): DataFrame =
    keys.select(
      col("id").cast("string").as("k"),
      lit(status).as("status"),
      lit(startDate).cast("timestamp").as("effective_start_date"),
      lit(null).cast("timestamp").as("effective_end_date"),
      lit(true).as("is_current"))

  test("SCD2 stream killed between micro-batches resumes from the checkpoint " +
      "and converges to the sequential batch reference (exactly-once)") {
    withTempDir("graft_recover")(recover)
  }

  private def recover(base: String): Unit = {
    val src = s"$base/in"; val chk = s"$base/chk"
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    spark.sql(s"DROP TABLE IF EXISTS $dimTbl")
    spark.sql(s"DROP TABLE IF EXISTS $logTbl")

    val seed = shape(spark.range(1, 81), "A", "2024-01-01")
    seed.write.mode("overwrite").saveAsTable(dimTbl)
    val incA = shape(spark.range(1, 41), "X", "2024-01-02")
    val incB = shape(spark.range(1, 61), "Y", "2024-01-03")

    // Stage BOTH increments before the stream starts; distinct mtimes pin
    // the oldest-first batch order (A = batch 0, B = batch 1).
    incA.coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(100)
    incB.coalesce(1).write.mode("append").parquet(src)

    var crashArmed = true
    def runOnce(): Unit =
      AvailableNow.eachBatch(spark.readStream
          .schema("k STRING, status STRING, effective_start_date TIMESTAMP, " +
            "effective_end_date TIMESTAMP, is_current BOOLEAN")
          .option("maxFilesPerTrigger", "1")
          .parquet(src), chk) { (batch, batchId) =>
        // Injected crash: batch 1's first attempt dies BEFORE any side
        // effect — committed batch 0 + planned-uncommitted batch 1 is
        // the window a real mid-run failure leaves.
        if (crashArmed && batchId == 1) {
          crashArmed = false
          throw new RuntimeException("injected crash before batch 1")
        }
        val merged = Scd2.merge(spark.read.table(dimTbl), batch,
          Seq("k"), Seq("status")).localCheckpoint(true)
        merged.write.mode("overwrite").saveAsTable(dimTbl)
        import spark.implicits._
        Seq((batchId, batch.count())).toDF("batch_id", "n")
          .write.mode("append").saveAsTable(logTbl)
      }

    // First run dies mid-stream on the injected fault.
    val ex = intercept[StreamingQueryException](runOnce())
    assert(ex.getMessage.contains("injected crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected crash")))

    // Crash-point state: increment A applied (40 X-current rows, their A
    // versions closed), increment B absent — i.e. the kill really landed
    // BETWEEN the two micro-batches, not before or after both.
    val mid = spark.read.table(dimTbl)
    assert(mid.filter(col("status") === "X" && col("is_current")).count() === 40)
    assert(mid.filter(col("status") === "Y").count() === 0)
    assert(spark.read.table(logTbl).as[(Long, Long)](
      org.apache.spark.sql.Encoders.product[(Long, Long)]).collect().toSeq
      === Seq((0L, 40L)))

    // Restart under the SAME checkpoint: batch 1 re-executes from its
    // planned offsets, batch 0 must not. (The batch body writes through
    // this session, which invalidates its own file listing; the refreshes
    // keep the reads below from depending on that.)
    runOnce()
    spark.catalog.refreshTable(logTbl)
    spark.catalog.refreshTable(dimTbl)
    val log = spark.read.table(logTbl).orderBy("batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(log === Seq((0L, 40L), (1L, 60L)),
      s"batch log after recovery: $log — batch 0 re-executed or batch 1 lost")

    // Converged dimension == the sequential BATCH reference (same merges,
    // no streaming, no crash).
    val ref = Scd2.merge(Scd2.merge(seed, incA, Seq("k"), Seq("status")),
      incB, Seq("k"), Seq("status")).localCheckpoint(true)
    val got = spark.read.table(dimTbl)
    assert(got.count() === ref.count())
    assert(got.exceptAll(ref).count() === 0 && ref.exceptAll(got).count() === 0)
    // Three-version chains survive the crash: keys 1..40 hold A-closed,
    // X-closed, Y-current.
    assert(got.filter(col("k").cast("long") <= 40).count() === 120)

    // A further restart with NO new data is a no-op: nothing re-executes,
    // the dimension is untouched.
    runOnce()
    spark.catalog.refreshTable(logTbl)
    spark.catalog.refreshTable(dimTbl)
    assert(spark.read.table(logTbl).count() === 2)
    assert(spark.read.table(dimTbl).exceptAll(ref).count() === 0)
  }
}
