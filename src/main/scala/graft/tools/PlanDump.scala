package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Batch plan dump for the optimization rounds: `runMain
  * graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>...` writes each
  * registry gate's executed plan (`explain("formatted")` content, after
  * running the query so AQE's final plan is what prints) to
  * `<outDir>/<name>_<suffix>.txt`, one Spark session for the whole
  * list.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <name>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = Measure.session(Measure.cpus(32))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count() // force AQE's final plan
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (formatted + "\n\n=== executedPlan (AQE final) ===\n" + executed)
          .getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
