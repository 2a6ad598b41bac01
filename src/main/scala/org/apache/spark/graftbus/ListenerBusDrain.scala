package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Compile-checked access to the `private[spark]` listener bus: the
  * measurement core (`graft.tools.Measure.counted`) must drain queued
  * task-end events before reading its counters, and
  * `LiveListenerBus.waitUntilEmpty` is the API Spark's own test harness
  * uses for exactly that. A fixed `Thread.sleep` is a race — under load,
  * late events are lost and the task/shuffle/CPU counters undercount
  * (r14 ADVICE item). This shim lives under `org.apache.spark` solely to
  * reach the package-private member; it contains no other logic.
  */
object ListenerBusDrain {
  /** Block until every queued listener event has been delivered. Bounded
    * so a wedged bus cannot hang the caller: when the timeout passes it
    * throws `java.util.concurrent.TimeoutException`. */
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}

/** Compile-checked access to the `protected[spark]` thread-local job
  * properties (job group, description, scheduler pool): a thread that
  * runs jobs on behalf of another must carry the caller's properties,
  * and only `SparkContext` can copy the whole set. Same shim rule as
  * [[ListenerBusDrain]]: no other logic. */
object LocalProperties {
  def get(sc: SparkContext): java.util.Properties = sc.getLocalProperties
  def set(sc: SparkContext, props: java.util.Properties): Unit = sc.setLocalProperties(props)
}
