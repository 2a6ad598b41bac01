package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.operators.{GoldDims, Scd2, SilverTransforms}
import graft.sources.{Ingest, Tables}

/** Streaming medallion: incremental bronze pickup chained through the
  * silver transform into an SCD2 dimension upsert per micro-batch.
  *
  * The reference streams only into bronze (`ingest_autoloader`); this
  * extends the same exactly-once file pipeline through silver and gold
  * with `foreachBatch` — each micro-batch is cleaned with the SAME
  * batch transform (one code path for batch and streaming) and merged
  * into the dimension with the partition-aware SCD2 apply, so history
  * accumulates correctly across restarts (checkpoint + AvailableNow).
  */
object StreamingMedallion {

  /** Empty premium frame with the columns buildPremiumSummary needs —
    * streaming policy upserts carry no payment aggregates (they arrive on
    * the premiums feed); COALESCE defaults fill zeros, as in the batch
    * dim builder. */
  private def emptyPremiums(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("policy_id", StringType),
        StructField("amount", DecimalType(12, 2)),
        StructField("payment_status", StringType),
        StructField("payment_date", DateType),
        StructField("due_date", DateType))))

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
    val q = withMeta.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Tables.append(batch, s"$db.bronze_policies")
          val silver = SilverTransforms.transformPolicies(batch)
          Tables.append(silver, s"$db.silver_policies")
          val dim = GoldDims.buildDimPolicy(silver, GoldDims.buildPremiumSummary(
            emptyPremiums(batch.sparkSession)))
          Tables.scd2Apply(batch.sparkSession, s"$db.dim_policy",
            dim, Seq("policy_id"), Scd2.policyTrackedCols)
        }
      }
      .start()
    q.awaitTermination()
    // foreachBatch ran in a cloned session, so its refreshes cleared only
    // the clone's relation cache; re-list the rewritten tables here so
    // the caller's next read does not hit files the merge replaced. A run
    // whose every batch was empty created none of them.
    Seq("bronze_policies", "silver_policies", "dim_policy").map(t => s"$db.$t")
      .filter(spark.catalog.tableExists).foreach(spark.catalog.refreshTable)
  }
}
