package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}

import scala.concurrent.duration._

import graft.SparkTestBase

/** The one overlap primitive's failure policy: every thunk runs to
  * completion, the first failure in thunk order is rethrown with the
  * rest suppressed, and only the bound interrupts. Results in order and
  * the caller's job properties are pinned in RegistrySpec. */
class OverlapSpec extends SparkTestBase {

  test("a failing thunk is rethrown only after its sibling's job and write have finished") {
    withTempDir("graft_overlap") { dir =>
      val session = spark // built here, not on a thunk's thread
      val marker = Paths.get(dir, "marker")
      val failed = new CountDownLatch(1)
      val boom = new IllegalStateException("boom")
      val e = intercept[IllegalStateException](Overlap.all(Seq(
        () => { failed.countDown(); throw boom },
        () => {
          require(failed.await(30, TimeUnit.SECONDS), "the failing thunk never ran")
          Files.writeString(marker, session.range(1000).count().toString)
        })))
      assert(e eq boom)
      assert(Files.exists(marker) && Files.readString(marker) === "1000")
    }
  }

  test("the first failure in thunk order is rethrown, later ones attached as suppressed") {
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val e = intercept[IllegalStateException](Overlap.all(Seq(
      () => { Thread.sleep(200); throw first },
      () => 1,
      () => throw second)))
    assert(e eq first)
    assert(e.getSuppressed.toSeq === Seq(second))
  }

  test("a thunk still running at the bound is interrupted and the call throws a TimeoutException") {
    val interrupted = new CountDownLatch(1)
    val e = intercept[TimeoutException](Overlap.all(Seq(
      () => try Thread.sleep(60000) catch { case _: InterruptedException => interrupted.countDown() }),
      1.second))
    assert(e.getMessage.contains("1 second"), e.getMessage)
    assert(interrupted.await(10, TimeUnit.SECONDS), "the running thunk was not interrupted")
  }
}
