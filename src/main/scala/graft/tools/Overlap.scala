package graft.tools

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.graftbus.LocalProperties
import org.apache.spark.sql.SparkSession

/** Overlap independent Spark work submitted from one call. Spark's
  * scheduler runs several jobs of one application at once and shares out
  * the task slots between them; the caller only has to submit them from
  * different threads. `Registry.inParallel` (independent gate chains),
  * `pipeline.Runner` (independent medallion stages) and
  * `streaming.StreamingMedallion` (a micro-batch's three table writes) all
  * go through [[await]], so the per-call pool, the copy of the caller's
  * job properties and the bounded wait exist once.
  */
object Overlap {

  /** Upper bound on one [[await]] call, and on one AvailableNow query
    * (`streaming.AvailableNow`). The work it bounds takes
    * seconds at bench scale and minutes at stress or reference scale;
    * work still running after an hour is wedged, and failing with a
    * TimeoutException beats hanging a bench, Verify or pipeline run
    * forever. */
  val MaxWait: FiniteDuration = 1.hour

  /** Run the futures `body` builds on a pool of `threads` threads owned by
    * this call, and return the result of the future it returns, waiting
    * at most [[MaxWait]]. The pool is shut down, interrupting any task
    * still running, when the call returns or throws.
    *
    * Every task the pool runs first installs a private copy of the
    * caller's job properties (group, description, scheduler pool): they
    * are thread-local, and a recycled pool thread would otherwise label
    * the task's jobs with whatever its previous user left behind. A task
    * may change its own copy freely.
    * Because the pool belongs to the call, a task may itself call
    * `await` without starving a shared pool. */
  def await[A](threads: Int)(body: ExecutionContext => Future[A]): A = {
    val caller = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(s => s.sparkContext -> copy(LocalProperties.get(s.sparkContext)))
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    val ec = new ExecutionContext {
      def execute(task: Runnable): Unit = pool.execute { () =>
        caller.foreach { case (sc, props) => LocalProperties.set(sc, copy(props)) }
        task.run()
      }
      def reportFailure(t: Throwable): Unit = ExecutionContext.defaultReporter(t)
    }
    try Await.result(body(ec), MaxWait)
    finally pool.shutdownNow()
  }

  private def copy(p: java.util.Properties): java.util.Properties = {
    val c = new java.util.Properties()
    p.stringPropertyNames.forEach(k => c.setProperty(k, p.getProperty(k)))
    c
  }
}
