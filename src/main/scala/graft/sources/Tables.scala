package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.Scd2

/** Write/table paths: overwrite, append, partitioned writes, catalog DDL,
  * and the crash-aware SCD2 table apply.
  *
  * Semantics: reference `clean_policies.py:137-142` (overwrite),
  * `ingest_policies.py:89-94` (append), `fact_claims.py:99-104`
  * (partitionBy for pruning), `scripts/setup_catalog.sql:9-29` (DDL;
  * catalog level flattened to database — no Unity Catalog in OSS).
  */
object Tables {

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")

  def dropTable(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")

  /** Full-refresh overwrite (`clean_policies.py:137-142`). */
  def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** Append-only landing (`ingest_policies.py:89-94`), with the
    * reference's `mergeSchema=true` additive schema evolution
    * (`ingest_policies.py:92`): a frame carrying columns the table lacks
    * ALTERs them onto the table first (old files read NULL for them —
    * parquet's missing-column semantics), then appends with the frame
    * aligned to the table's column set. Cost is O(new data) + one
    * metadata op — the table is never rewritten. Columns the table has
    * but the frame lacks are filled with NULL, as Delta does. Type
    * changes are NOT evolved (same as `mergeSchema`, which only adds). */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      df.write.mode("append").format("parquet").saveAsTable(table)
      return
    }
    val existing = spark.read.table(table).schema
    val target = addColumns(spark, table, existing, df.schema.fields.toSeq.filterNot(f =>
      existing.fieldNames.exists(_.equalsIgnoreCase(f.name))))
    val aligned = df.select(target.fields.map { f =>
      if (df.schema.fieldNames.exists(_.equalsIgnoreCase(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    aligned.write.mode("append").format("parquet").saveAsTable(table)
  }

  /** Additive schema evolution, the one widen step: `ALTER TABLE … ADD
    * COLUMNS` for `newFields` (metadata only; old files read NULL for
    * them), then the table's schema re-read. With no new fields the
    * table is untouched and `existing` is returned as it is. */
  private[sources] def addColumns(spark: SparkSession, table: String,
      existing: StructType, newFields: Seq[StructField]): StructType =
    if (newFields.isEmpty) existing else {
      val colsDdl = newFields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($colsDdl)")
      spark.read.table(table).schema
    }

  /** Partitioned overwrite for partition-pruned reads
    * (`fact_claims.py:99-104`: `partitionBy("property_state")`). */
  def overwritePartitioned(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*).saveAsTable(table)

  /** SCD2 apply with a first-load path (reference handles the missing
    * target at `dim_policy.py:108-112`) and a partition-aware rewrite.
    * The one SCD2 table commit in the library: `Runner`'s dimension
    * stage, `StreamingMedallion`'s drops and the st11/st20/st22 streaming
    * gates all write through it.
    *
    * The table is partitioned by `is_current`. A merge reads the
    * `is_current=true` partition, merges `source` into it, and reads the
    * closed-out history only to leave out closed rows it already holds.
    * It writes two things, in this order: the newly closed rows, appended
    * to the history partition (existing history files are never
    * rewritten), then the `is_current=true` partition, replaced by a
    * static-partition `INSERT OVERWRITE`. At 100 TB the ever-growing
    * history is never copied, and other partitions (a row with a NULL
    * `is_current` included) are never touched.
    *
    * Crash window (documented, same non-atomicity class as the
    * reference's non-Delta paths): history-append commits before the
    * current-partition overwrite; a crash between them leaves a closed
    * copy in history while the old current row still exists — re-running
    * the merge is idempotent-by-key for the current partition, and the
    * closed copy is not appended twice: the re-run leaves out every
    * closed row whose (key, effective_end_date) history already holds. */
  def scd2Apply(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], trackedCols: Seq[String]): Unit = {
    if (!spark.catalog.tableExists(table)) {
      source.write.mode("overwrite").format("parquet")
        .partitionBy("is_current").saveAsTable(table)
      return
    }
    val target = spark.read.table(table)
    val isCur = coalesce(col("is_current"), lit(false))
    // localCheckpoint truncates lineage: the merged plan no longer
    // references the target table, so Spark permits rewriting it
    // (UNSUPPORTED_OVERWRITE is an analysis-time plan check that caching
    // alone does not satisfy).
    val merged = Scd2.merge(target.filter(isCur), source, keyCols, trackedCols)
      .localCheckpoint(true)
    val view = s"graft_scd2_current_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    try {
      val h = merged.filter(!isCur).alias("h")
      val e = target.filter(!isCur).alias("e")
      h.join(e,
        keyCols.map(k => col(s"h.$k") === col(s"e.$k")).reduce(_ && _) &&
          (col("h.effective_end_date") <=> col("e.effective_end_date")),
        "left_anti")
        .write.mode("append").format("parquet")
        .partitionBy("is_current").saveAsTable(table)
      // A static partition spec replaces exactly that partition, whatever
      // the session's partitionOverwriteMode. INSERT is positional: select
      // the table's data columns in catalog order.
      merged.filter(isCur).createOrReplaceTempView(view)
      val dataCols = target.columns.filterNot(_ == "is_current").map(c => s"`$c`")
      spark.sql(s"INSERT OVERWRITE TABLE $table PARTITION (is_current = true) " +
        s"SELECT ${dataCols.mkString(", ")} FROM $view")
      // Drop this session's cached file listing so its later reads re-list
      // after the rewrite.
      spark.catalog.refreshTable(table)
    } finally {
      spark.catalog.dropTempView(view)
      GraftSqlBridge.releaseCheckpoint(merged)
    }
  }

  /** Small-file compaction — the OSS mapping of Delta's
    * optimizeWrite/autoCompact (`databricks.yml:219-220`,
    * `setup_catalog.sql:46-49`; SURVEY §4 "write optimization" row).
    * Rewrites the table into `targetPartitions` files (per partition
    * directory if the table is partitioned, via one hash repartition).
    * Run after many small appends (e.g. streaming micro-batches). */
  def compactTable(spark: SparkSession, table: String, targetPartitions: Int = 1): Unit = {
    val df = spark.read.table(table)
    val partitionCols = spark.catalog.listColumns(table)
      .collect().filter(_.isPartition).map(_.name).toSeq
    val compacted = df.repartition(targetPartitions).localCheckpoint(true)
    if (partitionCols.isEmpty)
      compacted.write.mode("overwrite").format("parquet").saveAsTable(table)
    else
      compacted.write.mode("overwrite").format("parquet")
        .partitionBy(partitionCols: _*).saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  /** Bucketed + sorted write: pre-shuffles the table into `numBuckets` by
    * `bucketCol` so repeated joins/aggregations on that key read
    * co-located data with NO exchange at query time — the standing
    * replacement for Redshift distkey/sortkey (SURVEY §4 "dbt-level
    * optimization" row). Both sides of a join bucketed the same way join
    * shuffle-free. */
  def overwriteBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int = 32): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
