package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    val newFields = df.schema.fields.filterNot(f =>
      existing.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    if (newFields.nonEmpty) {
      val colsDdl = newFields
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD COLUMNS ($colsDdl)")
    }
    val target = spark.read.table(table).schema
    val aligned = df.select(target.fields.map { f =>
      if (df.schema.fieldNames.exists(_.equalsIgnoreCase(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    aligned.write.mode("append").format("parquet").saveAsTable(table)
  }

  /** Partitioned overwrite for partition-pruned reads
    * (`fact_claims.py:99-104`: `partitionBy("property_state")`). */
  def overwritePartitioned(df: DataFrame, table: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").format("parquet")
      .partitionBy(partitionCols: _*).saveAsTable(table)

  /** SCD2 apply with a first-load path (reference handles the missing
    * target at `dim_policy.py:108-112`) and a partition-aware rewrite.
    *
    * The table is partitioned by `is_current`, so the closed-out history
    * partition is APPEND-only (closed rows are added, existing history
    * files are never rewritten) and only the small `is_current=true`
    * partition is rewritten per merge — at 100 TB the ever-growing
    * history never gets copied. Uses dynamic partition overwrite so the
    * history partition is untouched by the current-partition rewrite.
    *
    * Crash window (documented, same non-atomicity class as the
    * reference's non-Delta paths): history-append commits before the
    * current-partition overwrite; a crash between them leaves a closed
    * copy in history while the old current row still exists — re-running
    * the merge is idempotent-by-key for the current partition, and the
    * duplicate closed row is detectable via (key, effective_end_date). */
  def scd2Apply(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], trackedCols: Seq[String]): Unit = {
    if (!spark.catalog.tableExists(table)) {
      source.write.mode("overwrite").format("parquet")
        .partitionBy("is_current").saveAsTable(table)
      return
    }
    val target = spark.read.table(table)
    // localCheckpoint truncates lineage: the merged plan no longer
    // references the target table, so Spark permits rewriting it
    // (UNSUPPORTED_OVERWRITE is an analysis-time plan check that caching
    // alone does not satisfy).
    val merged = Scd2.merge(target, source, keyCols, trackedCols)
      .localCheckpoint(true)
    try {
      val history = merged.filter(!coalesce(col("is_current"), lit(false)))
      val current = merged.filter(coalesce(col("is_current"), lit(false)))
      // Append only the NEWLY closed rows (left_anti vs existing history).
      val existingHistory = target.filter(!coalesce(col("is_current"), lit(false)))
      val h = history.alias("h"); val e = existingHistory.alias("e")
      val newHistory = h.join(e,
        keyCols.map(k => col(s"h.$k") === col(s"e.$k")).reduce(_ && _) &&
          (col("h.effective_end_date") <=> col("e.effective_end_date")),
        "left_anti").localCheckpoint(true)
      newHistory.write.mode("append").format("parquet")
        .partitionBy("is_current").saveAsTable(table)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      // insertInto (not saveAsTable): saveAsTable-overwrite drops and
      // recreates the whole table, ignoring dynamic partition overwrite.
      // insertInto is position-based, so project into the table's
      // catalog column order (partition column last).
      val tableCols = spark.read.table(table).columns
      try
        current.select(tableCols.map(col): _*)
          .write.mode("overwrite").insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      // Drop THIS session's cached file listing so its later reads re-list
      // after the rewrite. Other sessions keep their own relation cache: a
      // caller that applies from a cloned session (a streaming
      // `foreachBatch`) must refresh the table in its own session too.
      spark.catalog.refreshTable(table)
    } finally merged.unpersist()
  }

  /** SCD2 apply with an ATOMIC commit: the full merged state is written
    * to a fresh versioned directory and the table is repointed with ONE
    * `ALTER TABLE .. SET LOCATION` — a single catalog metadata op, so a
    * reader sees entirely-old or entirely-new state and a crash anywhere
    * before the swap leaves the live table untouched (the orphaned
    * staging dir is harmless and re-runs are self-contained).
    *
    * This is the other side of [[scd2Apply]]'s tradeoff, the same
    * tradeoff a table format (Delta/Iceberg) resolves with file-level
    * manifests: `scd2Apply` writes O(changes) per merge but has a
    * documented two-phase crash window (convergent on re-run — spec
    * proven); this variant has NO window but rewrites O(table) per
    * merge. Use it for dimensions (small relative to facts, where
    * correctness-under-crash is worth a full rewrite); use `scd2Apply`
    * when the history partition has grown past rewrite budget. The
    * table stays UNPARTITIONED (`is_current` is a data column): a
    * partitioned catalog table would need partition re-registration
    * after the location swap, reopening the non-atomic window. */
  def scd2ApplyAtomic(spark: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], trackedCols: Seq[String]): Unit = {
    if (!spark.catalog.tableExists(table)) {
      source.write.mode("overwrite").format("parquet").saveAsTable(table)
      return
    }
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    require(meta.partitionColumnNames.isEmpty,
      s"scd2ApplyAtomic needs an unpartitioned table; $table is partitioned " +
        s"by ${meta.partitionColumnNames.mkString(", ")} — use scd2Apply")
    val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
    // Versioned sibling dir: strip any prior _v suffix so locations
    // don't accrete (`dim_v1_v2_...`), then stamp a fresh version.
    val baseName = oldLoc.getName.replaceAll("_v\\d+$", "")
    val newLoc = new org.apache.hadoop.fs.Path(oldLoc.getParent,
      s"${baseName}_v${System.nanoTime()}")
    val merged = Scd2.merge(spark.read.table(table), source, keyCols, trackedCols)
    merged.write.mode("overwrite").parquet(newLoc.toString)
    // THE commit point — one metadata op; everything before this is
    // invisible to readers, everything after is the new table.
    spark.sql(s"ALTER TABLE $table SET LOCATION '${newLoc.toString}'")
    spark.catalog.refreshTable(table)
    // Best-effort cleanup of the superseded directory; a crash here
    // leaks a dir but never corrupts the table.
    try {
      val fs = oldLoc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(oldLoc)) fs.delete(oldLoc, true)
    } catch {
      case e: Exception =>
        System.err.println(s"[scd2ApplyAtomic] old location cleanup failed: $e")
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

  /** Crash-safe path-level overwrite via staging-dir swap (SURVEY §7.4):
    * write to `<path>.staging`, then swap directories so readers never see
    * a half-written table. */
  def stagedOverwritePath(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = path + ".staging"
    val backup = path + ".old"
    df.write.mode("overwrite").parquet(staging)
    val p = Paths.get(path); val s = Paths.get(staging); val b = Paths.get(backup)
    if (Files.exists(b)) {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(backup)).deleteRecursively()
    }
    if (Files.exists(p)) Files.move(p, b, StandardCopyOption.ATOMIC_MOVE)
    Files.move(s, p, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(b)) {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(backup)).deleteRecursively()
    }
  }
}
