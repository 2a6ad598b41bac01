package graft
import java.nio.file.{Files, Paths}

import graft.tools.Measure

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The gates named by `SPARK_GRAFT_ONLY`'s comma-separated value (a
    * filter for fast local iteration); None runs every gate. */
  private[graft] def only(list: Option[String]): Option[Set[String]] =
    list.map(v => SparkEntry.knownGates(v.split(",").toSeq, SparkEntry.queries.keys).toSet)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val only = Verify.only(sys.env.get("SPARK_GRAFT_ONLY"))
    // events.parquet may carry TIMESTAMP(NANOS), which the session reads
    // as nanos-since-epoch longs (Measure.session).
    val spark = Measure.session(Measure.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
