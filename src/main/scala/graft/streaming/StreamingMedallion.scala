package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.operators.{GoldDims, Scd2, SilverTransforms}
import graft.sources.{Ingest, Tables}
import graft.tools.Overlap

/** Streaming medallion: incremental bronze pickup chained through the
  * silver transform into an SCD2 dimension upsert per micro-batch.
  *
  * The reference streams only into bronze (`ingest_autoloader`); this
  * extends the same exactly-once file pipeline through silver and gold
  * with `foreachBatch` — each micro-batch is cleaned with the SAME
  * batch transform (one code path for batch and streaming) and merged
  * into the dimension with the partition-aware SCD2 apply, so history
  * accumulates correctly across restarts (checkpoint + AvailableNow).
  *
  * The stream runs on [[AvailableNow.eachBatch]]: each micro-batch's CSV
  * is parsed once, into a local checkpoint, and handed over in the
  * session that called [[runPoliciesStream]]. Its three writes (bronze
  * append, silver append, SCD2 apply) read that checkpoint and run at the
  * same time, so the caller's next read sees the rewritten tables without
  * a refresh.
  */
object StreamingMedallion {

  /** Empty premium frame with the columns buildPremiumSummary needs —
    * streaming policy upserts carry no payment aggregates (they arrive on
    * the premiums feed); COALESCE defaults fill zeros, as in the batch
    * dim builder. A local relation, so the optimizer sees it is empty and
    * plans neither the premium aggregate nor the join. */
  private def emptyPremiums(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(
        StructField("policy_id", StringType),
        StructField("amount", DecimalType(12, 2)),
        StructField("payment_status", StringType),
        StructField("payment_date", DateType),
        StructField("due_date", DateType))))

  /** The dim_policy rows of one micro-batch's silver policies. */
  private[graft] def dimPolicy(silver: DataFrame): DataFrame =
    GoldDims.buildDimPolicy(silver,
      GoldDims.buildPremiumSummary(emptyPremiums(silver.sparkSession)))

  /** Stream raw policy CSVs from `landingDir` into `db`: bronze append,
    * silver append, SCD2 upsert of dim_policy. Processes the current
    * backlog (AvailableNow) exactly once per checkpoint and returns. */
  def runPoliciesStream(spark: SparkSession, landingDir: String, checkpointDir: String,
      db: String, batchId: Long): Unit = {
    Tables.ensureDatabase(spark, db)
    val raw = spark.readStream
      .schema(Schemas.rawPolicies)
      .option("header", "true")
      .csv(landingDir)
    val withMeta = Ingest.addMetadataColumns(raw, lit(batchId))
    AvailableNow.eachBatch(withMeta, checkpointDir)((bronze, _) => writeBatch(bronze, db))
  }

  /** The three writes of one parsed micro-batch, overlapped
    * ([[Overlap.all]]): all of them finish before the first failure is
    * rethrown, so none is interrupted mid-commit. */
  private def writeBatch(bronze: DataFrame, db: String): Unit = {
    val silver = SilverTransforms.transformPolicies(bronze)
    Overlap.all(Seq(
      () => Tables.append(bronze, s"$db.bronze_policies"),
      () => Tables.append(silver, s"$db.silver_policies"),
      () => Tables.scd2Apply(bronze.sparkSession, s"$db.dim_policy",
        dimPolicy(silver), Seq("policy_id"), Scd2.policyTrackedCols)))
  }
}
