package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkTestBase
import graft.queries.StreamingQueries

/** The one bounded AvailableNow harness: failures surface as Spark's own
  * exception, the wait is bounded, every query is stopped, empty
  * micro-batches never reach the body, and the body runs in the caller's
  * session. */
class AvailableNowSpec extends SparkTestBase {
  import spark.implicits._

  private def ids(dir: String) = spark.readStream.schema("id BIGINT").parquet(dir)

  test("a throwing batch body surfaces a StreamingQueryException and leaves no active query") {
    withTempDir("graft_an_throw") { base =>
      spark.range(3).write.parquet(s"$base/in")
      val e = intercept[StreamingQueryException] {
        AvailableNow.eachBatch(ids(s"$base/in"), s"$base/chk") { (_, _) =>
          throw new IllegalStateException("boom in the batch body")
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("boom in the batch body"))), e)
      assert(spark.streams.active.isEmpty)
    }
  }

  test("a query still running at the bound fails with a TimeoutException and is stopped") {
    withTempDir("graft_an_bound") { base =>
      spark.range(3).write.parquet(s"$base/in")
      val chk = s"$base/chk"
      val release = new CountDownLatch(1)
      val writer = ids(s"$base/in").writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (_: DataFrame, _: Long) => release.await() }
      try {
        val e = intercept[TimeoutException](AvailableNow.run(writer, None, 3.seconds))
        assert(e.getMessage.contains(chk), e.getMessage)
        assert(spark.streams.active.isEmpty)
      } finally release.countDown()
    }
  }

  test("an empty backlog never calls the batch body") {
    withTempDir("graft_an_empty") { base =>
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val calls = new AtomicInteger
      AvailableNow.eachBatch(ids(in), s"$base/chk")((_, _) => calls.incrementAndGet())
      // A landed file with no rows makes a micro-batch with no rows.
      spark.range(0).write.mode("append").parquet(in)
      AvailableNow.eachBatch(ids(in), s"$base/chk")((_, _) => calls.incrementAndGet())
      assert(new java.io.File(s"$base/chk/commits").list().nonEmpty, "no micro-batch ran")
      assert(calls.get === 0)
      assert(spark.streams.active.isEmpty)
    }
  }

  test("a thread job tag set before eachBatch reaches every micro-batch job") {
    withTempDir("graft_an_tag") { base =>
      spark.range(3).write.parquet(s"$base/in")
      val sc = spark.sparkContext
      val tag = s"graft-an-tag-${java.util.UUID.randomUUID()}"
      sc.addJobTag(tag)
      val jobs = try jobProperties {
        AvailableNow.eachBatch(ids(s"$base/in"), s"$base/chk")((batch, _) => batch.count())
      } finally sc.removeJobTag(tag)
      // Jobs started on a stream's thread carry its query id.
      val streamJobs = jobs.filter(_.getProperty("sql.streaming.queryId") != null).map(tagsOf)
      assert(streamJobs.nonEmpty)
      assert(streamJobs.forall(_.contains(tag)), streamJobs.mkString("\n"))
    }
  }

  test("a ported gate's micro-batch jobs run in the caller's session") {
    withTempDir("graft_an_gate") { dir =>
      Seq((1L, 10L, 1700000000000000000L), (2L, 11L, 1700000100000000000L))
        .toDF("event_id", "user_id", "ts").write.parquet(s"$dir/events.parquet")
      val st7 = StreamingQueries.defs.toMap.apply("st7_foreachbatch_upsert")
      val own = sessionTag
      var rows = Seq.empty[(Long, Long)]
      val jobs = jobProperties {
        rows = st7.fn(spark, dir).select("user_id", "latest_event_id").as[(Long, Long)]
          .collect().toSeq
      }
      assert(rows === Seq((10L, 1000001L), (11L, 2L)))
      // Jobs started on a stream's thread carry its query id.
      val streamJobs = jobs.filter(_.getProperty("sql.streaming.queryId") != null).map(tagsOf)
      // Each of the two increments merges and overwrites the target.
      assert(streamJobs.count(_.contains(own)) >= 2, streamJobs.mkString("\n"))
    }
  }
}
