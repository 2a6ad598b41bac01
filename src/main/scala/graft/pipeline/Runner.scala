package graft.pipeline

import scala.collection.mutable
import scala.concurrent.{Await, Promise}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{GoldDims, GoldFacts, SilverTransforms}
import graft.quality.Checks
import graft.sources.{Ingest, Tables}
import graft.tools.Overlap

/** Overlapping stage runner — the in-process equivalent of the reference's
  * Databricks Workflows DAG (`databricks.yml:69-205`: 4 bronze → 4 silver
  * → gold → DQ gate), with tables as the only handoff between stages
  * (SURVEY §3.4). Like Workflows, it starts each stage as soon as all of
  * its dependencies have finished, so independent stages overlap.
  */
object Runner {

  final case class Stage(name: String, deps: Seq[String], run: SparkSession => Unit)
  final case class StageResult(name: String, ok: Boolean, seconds: Double, error: Option[String])

  /** Run every stage once all of its dependencies have finished; results
    * come back in declaration order. A failed stage skips its descendants
    * without running them (fail-fast per subtree, like Workflows) while
    * independent branches continue.
    *
    * Each stage is one thunk of one [[graft.tools.Overlap.all]] call: it
    * waits for its dependencies' results, then runs or skips. The threads
    * mostly block on Spark jobs, and Spark's scheduler shares out the
    * task slots. A stage thread carries a copy of the caller's job
    * properties, so the caller's job group stays visible, and labels its
    * jobs with the stage name as the job description. A dependency cycle
    * fails before any stage runs, naming the cycle; a run longer than
    * [[graft.tools.Overlap.MaxWait]] fails with a TimeoutException. */
  def run(spark: SparkSession, stages: Seq[Stage]): Seq[StageResult] = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size, "duplicate stage names")
    stages.foreach(s => s.deps.foreach(d =>
      require(byName.contains(d), s"stage ${s.name} depends on unknown stage $d")))
    requireAcyclic(stages, byName)
    val done = stages.map(s => s.name -> Promise[StageResult]()).toMap
    Overlap.all(stages.map(st => () => {
      val deps = st.deps.map(d => Await.result(done(d).future, Overlap.MaxWait))
      val result =
        if (deps.exists(!_.ok)) StageResult(st.name, ok = false, 0.0, Some("skipped: upstream failure"))
        else exec(spark, st)
      done(st.name).success(result)
      result
    }))
  }

  private def exec(spark: SparkSession, st: Stage): StageResult = {
    spark.sparkContext.setJobDescription(st.name)
    val t0 = System.nanoTime()
    try { st.run(spark); StageResult(st.name, ok = true, (System.nanoTime() - t0) / 1e9, None) }
    catch { case e: Throwable =>
      StageResult(st.name, ok = false, (System.nanoTime() - t0) / 1e9,
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** Fail, naming the cycle, if the dependencies form one. */
  private def requireAcyclic(stages: Seq[Stage], byName: Map[String, Stage]): Unit = {
    val visited = mutable.Set.empty[String]
    def visit(name: String, path: List[String]): Unit = if (!visited.contains(name)) {
      require(!path.contains(name), "stage dependency cycle: " +
        (name :: path.takeWhile(_ != name) ::: List(name)).reverse.mkString(" -> "))
      byName(name).deps.foreach(visit(_, name :: path))
      visited += name
    }
    stages.foreach(s => visit(s.name, Nil))
  }

  /** The full medallion pipeline over a directory of raw CSVs
    * (`raw_{policies,claims,premiums,properties}.csv`), mirroring the
    * reference job DAG task-for-task. */
  def medallionStages(rawDir: String, db: String): Seq[Stage] = {
    // Every stage that writes into `db` creates it first: stages with no
    // dependencies (bronze, gold_dim_date) start together, and any of
    // them may be the first to write.
    def writes(name: String, deps: Seq[String])(body: SparkSession => Unit) =
      Stage(name, deps, s => { Tables.ensureDatabase(s, db); body(s) })
    def bronze(name: String, schema: org.apache.spark.sql.types.StructType) =
      writes(s"bronze_$name", Nil) { s =>
        Tables.dropTable(s, s"$db.bronze_$name")
        Ingest.ingestBatch(s, s"$rawDir/raw_$name.csv", schema, s"$db.bronze_$name")
      }
    def silver(name: String, transform: DataFrame => DataFrame) =
      writes(s"silver_$name", Seq(s"bronze_$name")) { s =>
        Tables.overwrite(transform(s.read.table(s"$db.bronze_$name")), s"$db.silver_$name")
      }
    Seq(
      bronze("policies", Schemas.rawPolicies),
      bronze("claims", Schemas.rawClaims),
      bronze("premiums", Schemas.rawPremiums),
      bronze("properties", Schemas.rawProperties),
      silver("policies", df => SilverTransforms.transformPolicies(df)),
      silver("claims", df => SilverTransforms.transformClaims(df)),
      silver("premiums", df => SilverTransforms.transformPremiums(df)),
      silver("properties", df => SilverTransforms.transformProperties(df)),
      writes("gold_dim_policy", Seq("silver_policies", "silver_premiums")) { s =>
        val summary = GoldDims.buildPremiumSummary(s.read.table(s"$db.silver_premiums"))
        val dim = GoldDims.buildDimPolicy(s.read.table(s"$db.silver_policies"), summary)
        Tables.scd2Apply(s, s"$db.dim_policy", dim, Seq("policy_id"), Scd2TrackedCols)
      },
      writes("gold_dim_property", Seq("silver_properties")) { s =>
        Tables.overwrite(GoldDims.buildDimProperty(s.read.table(s"$db.silver_properties")),
          s"$db.dim_property")
      },
      writes("gold_dim_coverage", Seq("silver_policies")) { s =>
        Tables.overwrite(GoldDims.buildDimCoverage(s.read.table(s"$db.silver_policies")),
          s"$db.dim_coverage")
      },
      writes("gold_dim_date", Nil) { s =>
        Tables.overwrite(GoldDims.buildDimDate(s), s"$db.dim_date")
      },
      writes("gold_fact_claims", Seq("silver_claims", "silver_policies", "silver_properties")) { s =>
        Tables.overwritePartitioned(
          GoldFacts.buildFactClaims(s.read.table(s"$db.silver_claims"),
            s.read.table(s"$db.silver_policies"), s.read.table(s"$db.silver_properties")),
          s"$db.fact_claims", Seq("property_state"))
      },
      writes("gold_fact_premiums", Seq("silver_premiums", "silver_policies")) { s =>
        Tables.overwrite(GoldFacts.buildFactPremiums(s.read.table(s"$db.silver_premiums"),
          s.read.table(s"$db.silver_policies")), s"$db.fact_premiums")
      },
      Stage("dq_gate",
        Seq("gold_dim_policy", "gold_fact_claims", "gold_fact_premiums"), s => {
          val results = Checks.validatePolicies(s.read.table(s"$db.silver_policies"))
          val failed = results.filter(!_._2.passed)
          require(failed.isEmpty, s"DQ gate failed: ${failed.keys.mkString(", ")}")
        }))
  }

  private val Scd2TrackedCols = graft.operators.Scd2.policyTrackedCols
}
