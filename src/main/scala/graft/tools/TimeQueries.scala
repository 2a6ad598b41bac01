package graft.tools

import org.apache.spark.sql.SparkSession

/** Time and count arbitrary registry gates (Bench times only the
  * headline `benchQueries` list): `runMain graft.tools.TimeQueries
  * <sfDir> <iters> <name>...`.
  *
  * Each gate gets one untimed warm-up, then `iters` timed runs under
  * `count()` (same measurement convention as Bench — Catalyst elides the
  * verify-only terminal sort under count, so this times the operator,
  * not the harness ordering). Every timed run carries Spark's counters
  * ([[Measure.counted]]); the gate reports the median wall time and the
  * counters of its median run. The calibration probe brackets the list,
  * so a subset timing on a drifting host epoch can be normalized against
  * another session's probe before a per-query ratio is read.
  *
  * Prints ONE JSON object: a key per gate plus the underscore-prefixed
  * probe readings, which cannot collide with a gate name.
  */
object TimeQueries {

  /** One gate's median wall time, every run's time, and the counters of
    * the median run. */
  final case class Timed(name: String, wall: Double, runs: Seq[Double],
      counters: Measure.Counters)

  def measure(spark: SparkSession, sfDir: String, name: String, iters: Int): Timed = {
    val fn = graft.SparkEntry.queries(name)
    try fn(spark, sfDir).count() catch { case _: Throwable => } // warm-up
    // The clock stops before the counters' bus drain.
    val runs = (1 to iters).map(_ => Measure.counted(spark) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    })
    val medianRun = runs.sortBy(_._1).apply((runs.size - 1) / 2)
    Timed(name, Measure.median(runs.map(_._1)), runs.map(_._1), medianRun._2)
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
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val spark = Measure.session(Measure.cpus(32))
    try spark.range(1000).count() catch { case _: Throwable => }
    def probe(): Double =
      try Measure.median(Measure.timeProbe(spark, 3)) catch { case _: Throwable => -1.0 }
    val probeStart = probe()
    val gates = names.map(measure(spark, sfDir, _, iters))
    val probeEnd = probe()
    println(render(gates, probeStart, probeEnd))
    spark.stop()
  }
}
