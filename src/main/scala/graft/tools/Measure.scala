package graft.tools

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one place every entry point's cross-cutting run policy lives:
  * how a local session is built, how a series of timings is summarized,
  * how the host epoch is calibrated, and how Spark's own execution
  * counters are read for a timed unit. `Bench`, `Verify`, `Main`, the
  * tools and the test harness all go through here, so a policy change
  * (time zone, parquet nanos, UI, warehouse) is made once.
  */
object Measure {

  /** Log level of every session this module builds. */
  val LogLevel = "WARN"

  /** Local worker threads (also the shuffle partition count):
    * `SPARK_GRAFT_CPUS`, else the entry point's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** A `local[cpus]` session with the engine's fixed policy:
    *   - UTC session time zone (`Registry.T` requires it);
    *   - TIMESTAMP(NANOS) parquet read as nanos-since-epoch longs;
    *   - no web UI;
    *   - shuffle partitions = cores.
    *
    * With `tempWarehouse` (the default) the catalog lives in a fresh
    * temp directory removed at JVM exit: gates that create managed
    * tables would otherwise meet a persistent `./spark-warehouse` left by
    * an earlier JVM and fail with LOCATION_ALREADY_EXISTS under the new
    * in-memory catalog. `Main` passes `false` — its tables are its output
    * and belong in Spark's default `spark-warehouse`.
    */
  def session(cpus: Int, tempWarehouse: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (tempWarehouse) b.config("spark.sql.warehouse.dir", freshWarehouse().toString)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(LogLevel)
    spark
  }

  private def freshWarehouse(): Path = {
    val dir = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(deleteTree(dir))
    dir
  }

  private def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: java.io.IOException => }

  /** True median: the mean of the two middle elements for even n. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Host-epoch calibration probe: constant CPU-bound work with ZERO
    * dependence on the corpus (a codegen'd hash+sum over a generated
    * range), timed like a query. Both r10 and r11 bench adjudications
    * hinged on distinguishing "uniform host slowdown" from "plan
    * regression" across sessions — the probe settles it in-artifact:
    * if total/probe is stable across epochs the engine didn't regress,
    * whatever the wall-clock says. Callers time it at session start AND
    * end so within-run drift is visible too.
    */
  def timeProbe(spark: SparkSession, iters: Int): Seq[Double] =
    (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      // collect() the sum VALUE: a count() over the 1-row aggregate
      // lets Catalyst drop the sum itself (measured: 4x the rows,
      // same wall time), which would calibrate nothing.
      spark.range(1L << 29).selectExpr("xxhash64(id) % 1024 AS h")
        .selectExpr("sum(h) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }

  /** Spark's execution counters for one measured unit. Scheduler counts
    * and shuffle volumes are properties of the PLAN, not the host epoch,
    * and executor CPU excludes steal time — the noise-robust evidence a
    * contended host's wall-clock alone cannot give. `incomplete` means
    * the listener bus did not drain in time, so late task-end events
    * may be missing from the sums. */
  final case class Counters(
      jobs: Int, stages: Int, tasks: Int,
      cpuNs: Long, runMs: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      incomplete: Boolean) {
    def json: String =
      f""""jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        f""""cpu_sec":${cpuNs / 1e9}%.3f,"run_sec":${runMs / 1e3}%.3f,""" +
        f""""shuf_w_mb":${shuffleWriteBytes / 1e6}%.3f,"shuf_w_rec":$shuffleWriteRecords,""" +
        f""""shuf_r_mb":${shuffleReadBytes / 1e6}%.3f,"shuf_r_rec":$shuffleReadRecords,""" +
        s""""incomplete":$incomplete"""
  }

  private final class CounterListener extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val cpuNs, runMs, shufWB, shufWRec, shufRB, shufRRec = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        shufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufWRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        shufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufRRec.addAndGet(m.shuffleReadMetrics.recordsRead)
      }
    }
    def snapshot(incomplete: Boolean): Counters = Counters(
      jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get,
      shufWB.get, shufWRec.get, shufRB.get, shufRRec.get, incomplete)
  }

  /** Run `body` with a counting listener attached and return its result
    * with the counters of every job it ran. The listener bus is async,
    * so the counters are read only after the bus drains (a fixed sleep
    * was a race: under load, late task-end events were lost). The drain
    * is bounded by `drainMillis`; a timeout marks the counters
    * `incomplete` rather than failing the measurement. The listener is
    * removed on every path, including a throwing `body`. */
  def counted[A](spark: SparkSession, drainMillis: Long = 30000L)(body: => A): (A, Counters) = {
    val sc = spark.sparkContext
    val listener = new CounterListener
    sc.addSparkListener(listener)
    try {
      val result = body
      val drained =
        try { ListenerBusDrain.drain(sc, drainMillis); true }
        catch { case _: TimeoutException => false }
      (result, listener.snapshot(incomplete = !drained))
    } finally sc.removeSparkListener(listener)
  }
}
