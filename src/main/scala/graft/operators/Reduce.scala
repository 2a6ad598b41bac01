package graft.operators

import scala.concurrent.Await

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

import graft.tools.Overlap

/** Global reductions observed on an action that already runs, instead of
  * paid for with a job chain of their own.
  *
  * A driver-bound loop needs a few scalars per iteration: a gradient, a
  * class count, a rank mass. Read with `agg(...).first()`, each costs a
  * partial aggregate, an exchange, a final aggregate and a driver fetch,
  * on top of whatever action the iteration runs anyway. `Dataset.observe`
  * computes the same named aggregates inside that action, per task, and
  * merges them on the driver when the action ends: zero extra jobs.
  *
  * Observed metrics cannot hold DISTINCT aggregates, and an observed SUM
  * over no rows is NULL, like any SUM.
  */
object Reduce {

  /** Attach the global aggregates `aggs` to `df`, run `action` on the
    * observed frame and return its result with the aggregates' row, in
    * the order given. `action` must execute the observed frame's plan
    * (a `write`, a `localCheckpoint`, a `collect`); the row is read after
    * a wait on the observation bounded by [[Overlap.MaxWait]], because
    * the metrics reach the driver on the listener bus. An `action` that
    * throws surfaces its own exception and nothing is waited for. */
  def observed[A](df: DataFrame, aggs: Column*)(action: DataFrame => A): (A, Row) = {
    val obs = Observation()
    val result = action(df.observe(obs, aggs.head, aggs.tail: _*))
    (result, Await.result(obs.future, Overlap.MaxWait))
  }
}
