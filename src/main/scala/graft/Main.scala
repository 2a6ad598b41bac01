package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.Runner
import graft.sources.Tables
import graft.tools.Measure

/** CLI entry point (SURVEY §7.2 item 8 — the stand-in for the
  * reference's per-module argparse mains and its smoke-test notebook).
  *
  * Usage:
  *   runMain graft.Main pipeline <rawCsvDir> <database>   run the full
  *     medallion DAG (bronze → silver → gold → DQ gate); non-zero exit
  *     on any stage failure.
  *   runMain graft.Main generate <outDir> <nPolicies> [seed]   write the
  *     four raw sample CSVs (seeded, deterministic).
  *   runMain graft.Main smoke <database>   per-layer access smoke test
  *     (`tests/smoke/verify_layer_access.py`): write a 1-row table to
  *     each layer schema, read it back, drop it.
  */
object Main {

  def main(args: Array[String]): Unit = {
    // Spark's default ./spark-warehouse: the pipeline's tables are its output.
    val spark = Measure.session(Measure.cpus(32), tempWarehouse = false)
    try {
      val rc = args.toList match {
        case "pipeline" :: rawDir :: db :: Nil => pipeline(spark, rawDir, db)
        case "generate" :: outDir :: n :: rest =>
          val seed = rest.headOption.map(_.toLong).getOrElse(42L)
          val counts = graft.sources.SampleDataGen.generate(outDir, n.toInt, seed)
          println(counts.toSeq.sortBy(_._1)
            .map { case (t, c) => s"$t=$c" }.mkString("generated: ", " ", ""))
          0
        case "smoke" :: db :: Nil => smoke(spark, db)
        case other =>
          System.err.println(s"unknown arguments: ${other.mkString(" ")}\n" +
            "usage: pipeline <rawCsvDir> <db> | generate <outDir> <nPolicies> [seed] | smoke <db>")
          2
      }
      spark.stop()
      if (rc != 0) sys.exit(rc)
    } catch { case e: Throwable => spark.stop(); throw e }
  }

  private def pipeline(spark: SparkSession, rawDir: String, db: String): Int = {
    val results = Runner.run(spark, Runner.medallionStages(rawDir, db))
    results.foreach { r =>
      println(f"${if (r.ok) "OK  " else "FAIL"} ${r.name}%-22s ${r.seconds}%6.2fs" +
        r.error.map(e => s"  $e").getOrElse(""))
    }
    if (results.forall(_.ok)) { println("PIPELINE: PASS"); 0 }
    else { println("PIPELINE: FAIL"); 1 }
  }

  /** `tests/smoke/verify_layer_access.py:21-87`: per layer, write a
    * 1-row table, read it back, assert count, drop. */
  private def smoke(spark: SparkSession, db: String): Int = {
    import spark.implicits._
    Tables.ensureDatabase(spark, db)
    val layers = Seq("bronze", "silver", "gold")
    val failures = layers.flatMap { layer =>
      val table = s"$db.__smoke_$layer"
      try {
        Tables.dropTable(spark, table)
        Seq((layer, 1)).toDF("layer", "v").write.saveAsTable(table)
        val n = spark.read.table(table).count()
        Tables.dropTable(spark, table)
        if (n == 1) { println(s"OK   $layer"); None }
        else { println(s"FAIL $layer: expected 1 row, got $n"); Some(layer) }
      } catch { case e: Throwable =>
        println(s"FAIL $layer: ${e.getMessage}"); Some(layer)
      }
    }
    if (failures.isEmpty) { println("SMOKE: PASS"); 0 } else { println("SMOKE: FAIL"); 1 }
  }
}
