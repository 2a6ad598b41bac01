package graft.streaming

import java.util.concurrent.TimeoutException

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.tools.Overlap

/** The one bounded streaming harness: every stream in the engine is a
  * file source drained once under `Trigger.AvailableNow`, the OSS shape of
  * Auto Loader's bounded ingestion (`ingest_policies.py:100-130`). This is
  * the only place that starts such a query or waits on one, so the
  * trigger, the bounded wait and the cleanup exist once.
  */
object AvailableNow {

  /** Start `writer` once under AvailableNow, into `table` when given and
    * with `start()` otherwise, and return when it has processed the
    * current backlog. The wait is bounded by [[Overlap.MaxWait]]; a query
    * still running then fails the call with a TimeoutException naming
    * the query and its checkpoint. A query failure is rethrown as Spark's
    * own StreamingQueryException. The query is stopped on every path. */
  def run(writer: DataStreamWriter[Row], table: Option[String] = None): Unit =
    run(writer, table, Overlap.MaxWait)

  private[streaming] def run(writer: DataStreamWriter[Row], table: Option[String],
      maxWait: FiniteDuration): Unit = {
    val w = writer.trigger(Trigger.AvailableNow())
    val q = table.fold(w.start())(w.toTable)
    try {
      if (!q.awaitTermination(maxWait.toMillis))
        throw new TimeoutException(s"streaming query ${describe(q)} still running after $maxWait")
    } finally if (q.isActive) q.stop()
  }

  /** Run `fn` on each non-empty micro-batch of `source` under
    * `checkpoint`, exactly once per checkpoint, with [[run]]'s bound.
    *
    * Each micro-batch is `localCheckpoint`ed once, so `fn` reads the
    * source files a single time however many jobs it runs, and is handed
    * to `fn` re-homed into `source`'s session, the session that called
    * this, not the query's cloned session: the caller's next read sees
    * the tables `fn` rewrote without a refresh, and the code Spark
    * generates for one micro-batch is reused by the next (its
    * compiled-code cache is keyed by class loader, and each query's clone
    * has its own). The checkpoint is released when `fn` returns or
    * throws. */
  def eachBatch(source: DataFrame, checkpoint: String)(fn: (DataFrame, Long) => Unit): Unit = {
    val caller = source.sparkSession
    run(source.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parsed = batch.localCheckpoint(true)
        try {
          val own = GraftSqlBridge.inSession(caller, parsed)
          if (!own.isEmpty) fn(own, batchId)
        } finally GraftSqlBridge.releaseCheckpoint(parsed)
      })
  }

  private def describe(q: StreamingQuery): String = {
    val checkpoint = q match {
      case w: StreamingQueryWrapper => w.streamingQuery.resolvedCheckpointRoot
      case _ => "unknown"
    }
    s"${Option(q.name).getOrElse("(unnamed)")} [id ${q.id}, checkpoint $checkpoint]"
  }
}
