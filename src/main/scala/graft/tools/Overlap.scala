package graft.tools

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbus.LocalProperties
import org.apache.spark.sql.SparkSession

/** Overlap independent Spark work submitted from one call. Spark's
  * scheduler runs several jobs of one application at once and shares out
  * the task slots between them; the caller only has to submit them from
  * different threads. Independent gate chains, `pipeline.Runner`
  * (independent medallion stages) and `streaming.StreamingMedallion` (a
  * micro-batch's three table writes) all go through [[all]], so the
  * per-call pool, the copy of the caller's job properties, the bounded
  * wait and the failure policy exist once.
  */
object Overlap {

  /** Upper bound on one [[all]] call, and on one AvailableNow query
    * (`streaming.AvailableNow`). The work it bounds takes
    * seconds at bench scale and minutes at stress or reference scale;
    * work still running after an hour is wedged, and failing with a
    * TimeoutException beats hanging a bench, Verify or pipeline run
    * forever. */
  val MaxWait: FiniteDuration = 1.hour

  /** Run every thunk on its own thread of a pool owned by this call and
    * return their results in order, waiting at most [[MaxWait]].
    *
    * Every thunk runs to completion, whatever its siblings do: a failure
    * never interrupts a sibling mid-write. When all have finished, the
    * first failure in thunk order is rethrown with the later ones
    * attached as suppressed. Only a call still running at the bound
    * interrupts the thunks left, and fails with a TimeoutException.
    *
    * Every thunk first installs a private copy of the caller's job
    * properties (group, description, tags, scheduler pool), which are
    * thread-local, and may change its own copy freely. Because the pool
    * belongs to the call, a thunk may itself call `all`. */
  def all[A](thunks: Seq[() => A]): IndexedSeq[A] = all(thunks, MaxWait)

  private[tools] def all[A](thunks: Seq[() => A], maxWait: FiniteDuration): IndexedSeq[A] = {
    val caller = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(s => s.sparkContext -> copy(LocalProperties.get(s.sparkContext)))
    val pool = Executors.newFixedThreadPool(math.max(1, thunks.size))
    try {
      val tasks = pool.invokeAll(thunks.map[Callable[A]](t => () => {
        caller.foreach { case (sc, props) => LocalProperties.set(sc, copy(props)) }
        t()
      }).asJava, maxWait.toMillis, TimeUnit.MILLISECONDS).asScala.toIndexedSeq
      // invokeAll cancels, interrupting, every task still running at the bound.
      if (tasks.exists(_.isCancelled))
        throw new TimeoutException(s"overlapped work still running after $maxWait")
      val outcomes = tasks.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      val failures = outcomes.collect { case Left(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
      outcomes.collect { case Right(a) => a }
    } finally pool.shutdownNow()
  }

  private def copy(p: java.util.Properties): java.util.Properties = {
    val c = new java.util.Properties()
    p.stringPropertyNames.forEach(k => c.setProperty(k, p.getProperty(k)))
    c
  }
}
