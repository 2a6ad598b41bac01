package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.model.Schemas
import graft.pipeline.Runner
import graft.sources.SampleDataGen
import graft.validation.Reconciler

/** Day-1 full load: all `Runner` medallion stages over the seeded sample
  * CSVs into an empty database, then the reference's reconciliation
  * go/no-go checks. */
final class MedallionBatch(ctx: Ctx) extends Workload {
  import MedallionBatch._
  private val spark = ctx.spark
  private val raw = ctx.work.resolve("raw")
  private var generated = Map.empty[String, Int]
  private val stageSeconds = scala.collection.mutable.Map.empty[String, Seq[Double]]
    .withDefaultValue(Nil)
  private val reconS, criticalS, selfS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var stageDeps = Map.empty[String, Seq[String]]

  def prepare(rep: Int): Unit =
    generated = SampleDataGen.generate(raw.toString, Policies, ctx.seed)

  def op(warmup: Boolean): Double = {
    spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    val t0 = System.nanoTime()
    val stages = Runner.medallionStages(raw.toString, Db).map(s =>
      s.copy(run = sp => ctx.tracer.span(s"pipeline.stage.${s.name}")(s.run(sp))))
    stageDeps = stages.map(s => s.name -> s.deps).toMap
    val r0 = System.nanoTime()
    val results = ctx.attempt("Runner.run")(ctx.tracer.span("pipeline.runner")(
      Runner.run(spark, stages))).getOrElse(Nil)
    val runner = (System.nanoTime() - r0) / 1e9
    val recon = Main.timed(ctx.tracer.span("validation.recon")(reconcile(results)))
    val wall = (System.nanoTime() - t0) / 1e9
    if (!warmup) {
      results.foreach(r => stageSeconds(r.name) = stageSeconds(r.name) :+ r.seconds)
      reconS += recon
      selfS += runner - results.map(_.seconds).sum
      criticalS += criticalPath(results.map(r => r.name -> r.seconds).toMap)
    }
    wall
  }

  /** Longest dependency chain of stage times: the pass time a runner that
    * overlaps independent stages could reach. */
  private def criticalPath(secs: Map[String, Double]): Double = {
    val memo = scala.collection.mutable.Map.empty[String, Double]
    def finish(n: String): Double = memo.getOrElseUpdate(n,
      secs.getOrElse(n, 0.0) + stageDeps.getOrElse(n, Nil).map(finish).maxOption.getOrElse(0.0))
    secs.keys.map(finish).maxOption.getOrElse(0.0)
  }

  private def rawTable(t: String): DataFrame =
    spark.read.option("header", "true").schema(RawSchemas(t)).csv(raw.resolve(s"raw_$t.csv").toString)

  /** Go/no-go: every stage ok (the DQ gate is one), exact row counts
    * against the generator, SUM agreement within 1e-4, compatible schemas
    * and a complete first-load dimension. */
  private def reconcile(results: Seq[Runner.StageResult]): Unit = {
    ctx.check(results.size == 15, s"expected 15 stage results, got ${results.size}")
    results.filterNot(_.ok).foreach(r => ctx.check(ok = false, s"stage ${r.name}: ${r.error.getOrElse("")}"))
    if (results.size == 15 && results.forall(_.ok)) ctx.attempt("reconcile") {
      SumColumns.foreach { case (t, sumCol) =>
        val bronze = spark.read.table(s"$Db.bronze_$t")
        val rc = Reconciler.compareRowCounts(rawTable(t), bronze, s"bronze_$t")
        ctx.check(rc.matched && rc.targetCount == generated(t),
          s"bronze_$t rows ${rc.targetCount}, raw ${rc.sourceCount}, generated ${generated(t)}")
        Reconciler.compareAggregates(rawTable(t), bronze, Seq(sumCol)).foreach(ag =>
          ctx.check(ag.withinTolerance, s"bronze_$t SUM(${ag.column}) rel diff ${ag.relativeDiff}"))
        val sc = Reconciler.compareSchemas(rawTable(t), bronze)
        ctx.check(sc.matched, s"bronze_$t schema: only raw ${sc.onlyInSource}, only bronze ${sc.onlyInTarget}")
      }
      val dim = Reconciler.compareRowCounts(spark.read.table(s"$Db.silver_policies"),
        spark.read.table(s"$Db.dim_policy"), "dim_policy")
      ctx.check(dim.matched && dim.targetCount == generated("policies"),
        s"dim_policy rows ${dim.targetCount}, silver ${dim.sourceCount}, generated ${generated("policies")}")
    }
  }

  private def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def finish(opSeconds: Seq[Double], runSeconds: Double): Unit = {
    val m = ctx.metrics
    m("pipeline_s") = Main.median(opSeconds)
    if (!ctx.tracer.enabled) return
    stageSeconds.foreach { case (n, xs) => m(s"pipeline.stage.${n}_s") = Main.median(xs) }
    m("pipeline.critical_path_s") = Main.median(criticalS.toSeq)
    m("pipeline.runner_self_s") = Main.median(selfS.toSeq)
    m("quality.dq_gate_s") = Main.median(stageSeconds("dq_gate"))
    m("validation.recon_s") = Main.median(reconS.toSeq)
    // The last pass's tables are still in place.
    m("sources.ingest_rows") = SumColumns.keys.map(t => spark.read.table(s"$Db.bronze_$t").count()).sum
    val wh = ctx.work.resolve("warehouse").resolve(s"$Db.db")
    val bronzeBytes = SumColumns.keys.map(t => bytesUnder(wh.resolve(s"bronze_$t"))).sum
    m("sources.bronze_bytes_written") = bronzeBytes
    m("sources.warehouse_bytes_per_raw_byte") = bytesUnder(wh).toDouble / bytesUnder(raw)
  }
}

object MedallionBatch {
  /** Sample-data scale: policies, with 0.8 properties, ~0.2 claims and
    * ~4.75 premiums per policy. */
  val Policies = 10000
  val Db = "perfbench_medallion"
  private val RawSchemas = Map("policies" -> Schemas.rawPolicies, "claims" -> Schemas.rawClaims,
    "premiums" -> Schemas.rawPremiums, "properties" -> Schemas.rawProperties)
  /** The money column of each source table whose SUM must reconcile. */
  private val SumColumns = Map("policies" -> "annual_premium", "claims" -> "claim_amount",
    "premiums" -> "amount", "properties" -> "property_value")
}
