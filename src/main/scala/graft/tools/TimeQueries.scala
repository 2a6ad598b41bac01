package graft.tools

import org.apache.spark.sql.SparkSession

/** Time and count arbitrary registry gates: `runMain
  * graft.tools.TimeQueries <sfDir> <iters> <name>...`. [[measure]] is the
  * one gate timer; `graft.Bench` times its headline list through it too.
  *
  * Each gate gets one untimed warm-up ([[warm]]), then `iters` timed runs
  * under `count()` (Catalyst elides the verify-only terminal sort under
  * count, so this times the operator, not the harness ordering). Every
  * timed run carries Spark's counters ([[Measure.counted]]); the gate
  * reports the median wall time and the counters of its median run. The
  * calibration probe brackets the list, so a subset timing on a drifting
  * host epoch can be normalized against another session's probe before a
  * per-query ratio is read.
  *
  * Prints ONE JSON object: a key per gate plus the underscore-prefixed
  * probe readings, which cannot collide with a gate name.
  */
object TimeQueries {

  /** One gate's median wall time, every run's time, and the counters of
    * the median run. */
  final case class Timed(name: String, wall: Double, runs: Seq[Double],
      counters: Measure.Counters)

  /** One untimed run of a gate. The first execution pays one-off codegen
    * compilation and JIT of the gate's own operators (measured 3-4× the
    * steady-state time on HOF-heavy gates), which is not the per-run cost
    * a timing models. Nothing is cached, so the timed runs still do all
    * I/O and compute. A failure here is left for the timed runs to
    * report. */
  def warm(spark: SparkSession, sfDir: String, name: String): Unit =
    try graft.SparkEntry.queries(name)(spark, sfDir).count() catch { case _: Throwable => }

  /** `iters` timed `count()` runs of a gate. A run that throws is logged
    * to stderr with the gate's name and reads −1; a gate with any failed
    * run reports `wall` −1, so a broken gate never reads as a fast one,
    * and no exception escapes. A failed gate carries the counters of its
    * first failed run: the jobs it got through before it threw. */
  def measure(spark: SparkSession, sfDir: String, name: String, iters: Int): Timed = {
    val fn = graft.SparkEntry.queries(name)
    // The clock stops before the counters' bus drain.
    val runs = (1 to iters).map(_ => Measure.counted(spark) {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[measure] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        -1.0
      }
    })
    val times = runs.map(_._1)
    runs.find(_._1 < 0) match {
      case Some((_, failed)) => Timed(name, -1.0, times, failed)
      case None =>
        Timed(name, Measure.median(times), times, runs.sortBy(_._1).apply((runs.size - 1) / 2)._2)
    }
  }

  /** The output object, built from one fragment list so that any number
    * of gates, zero included, yields valid JSON. */
  def render(gates: Seq[Timed], probeStart: Double, probeEnd: Double): String = {
    val perGate = gates.map { g =>
      f""""${g.name}":{"wall":${g.wall}%.3f,""" +
        s""""runs":${g.runs.map(t => f"$t%.3f").mkString("[", ",", "]")},""" +
        g.counters.json + "}"
    }
    (perGate ++ Seq(f""""_probe_start":$probeStart%.3f""", f""""_probe_end":$probeEnd%.3f"""))
      .mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQueries <sfDir> <iters> <name>...")
    val sfDir = args(0)
    val iters = args(1).toInt
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val names = graft.SparkEntry.knownGates(args.drop(2).toSeq, graft.SparkEntry.queries.keys)
    val spark = Measure.session(Measure.cpus(32))
    try spark.range(1000).count() catch { case _: Throwable => }
    def probe(): Double =
      try Measure.median(Measure.timeProbe(spark, 3)) catch { case _: Throwable => -1.0 }
    val probeStart = probe()
    val gates = names.map { n => warm(spark, sfDir, n); measure(spark, sfDir, n, iters) }
    val probeEnd = probe()
    println(render(gates, probeStart, probeEnd))
    spark.stop()
  }
}
