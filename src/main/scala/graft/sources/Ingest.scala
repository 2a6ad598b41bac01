package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.AvailableNow

/** Bronze-layer ingestion: batch CSV → append table, and incremental
  * streaming file pickup.
  *
  * Semantics: reference `lakehouse_pipelines/bronze/ingest_policies.py`
  * (`add_metadata_columns` :55-65, `ingest_batch` :68-97,
  * `ingest_autoloader` :100-130). cloudFiles is Databricks-only; the OSS
  * Structured-Streaming file source + checkpoint gives the same
  * exactly-once incremental pickup (SURVEY S3/S9, ST1-ST4).
  *
  * Scale/efficiency divergence (documented): the reference runs
  * `df.count()` and then writes — scanning the source twice
  * (`ingest_policies.py:83,89`; SURVEY §4 last row). We write first and
  * count from the written table's batch slice, so the raw source is read
  * exactly once.
  */
object Ingest {

  /** Lineage metadata columns every bronze table carries
    * (`ingest_policies.py:55-65`): ingestion timestamp, source file,
    * batch id. `batchId` is injectable for deterministic tests
    * (reference uses `current_timestamp().cast("long")`). */
  def addMetadataColumns(df: DataFrame,
      batchId: Column = unix_timestamp(current_timestamp())): DataFrame =
    df.withColumn("_ingestion_timestamp", current_timestamp())
      .withColumn("_source_file", input_file_name())
      .withColumn("_batch_id", batchId.cast("long"))

  /** Batch CSV ingestion: explicit schema, no inference, header on
    * (`ingest_policies.py:76-81`), metadata columns, append to the bronze
    * table. Returns the number of rows ingested in this batch (counted
    * from the written table, not by re-scanning the CSV). */
  def ingestBatch(spark: SparkSession, sourcePath: String, schema: StructType,
      table: String, batchId: Option[Long] = None): Long = {
    val bid = batchId.getOrElse(System.currentTimeMillis() / 1000)
    val raw = spark.read
      .option("header", "true")
      .schema(schema)
      .csv(sourcePath)
    val withMeta = addMetadataColumns(raw, lit(bid))
    withMeta.write.mode("append").format("parquet").saveAsTable(table)
    spark.read.table(table).filter(col("_batch_id") === bid).count()
  }

  /** Union of CSV headers across the newest `sampleFiles` files in the
    * landing dir, in first-seen column order (new columns appear after
    * all previously-known ones, matching cloudFiles `addNewColumns`
    * ordering). This is the schema-inference step of Auto Loader made
    * explicit: a bounded, driver-side sample of file headers — the same
    * cost class as cloudFiles' own directory-listing inference, and
    * independent of data volume (headers are one line per file, and the
    * sample is capped). Returns None when the dir has no CSV files. */
  def discoverCsvColumns(spark: SparkSession, sourceDir: String,
      sampleFiles: Int = 64): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(sourceDir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return None
    val files = fs.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".csv"))
      .sortBy(-_.getModificationTime)
      .take(sampleFiles)
    if (files.isEmpty) return None
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    files.foreach { st =>
      val in = fs.open(st.getPath)
      try {
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        Option(reader.readLine()).foreach { header =>
          header.split(",", -1).map(_.trim).filter(_.nonEmpty).foreach(seen += _)
        }
      } finally in.close()
    }
    if (seen.isEmpty) None else Some(seen.toSeq)
  }

  /** Incremental streaming ingestion of a landing directory, the OSS
    * stand-in for Auto Loader (`ingest_autoloader`,
    * `ingest_policies.py:100-130`): processes the current backlog exactly
    * once per checkpoint ([[AvailableNow.run]]) and stops; re-running with
    * the same checkpoint picks up only new files. With a fixed header it
    * is plain incremental pickup.
    *
    * It evolves the schema on restart — the
    * OSS translation of cloudFiles `schemaEvolutionMode=addNewColumns`
    * (reference `lakehouse_pipelines/bronze/ingest_policies.py:115`,
    * SURVEY ST5). cloudFiles' contract is evolve-on-restart: a new
    * column fails the running stream, and the restarted stream picks up
    * the widened schema. This entry point makes each restart do exactly
    * that pickup:
    *
    *   1. discover the landing zone's current column set
    *      ([[discoverCsvColumns]] — bounded header sample);
    *   2. type known columns from the existing bronze table (else from
    *      `baseSchema`); columns never seen before arrive as STRING
    *      (cloudFiles' inference default for evolved columns without
    *      hints);
    *   3. widen the bronze table via `ALTER TABLE ADD COLUMNS`
    *      ([[Tables.append]]'s additive-evolution path — metadata-only,
    *      the table is never rewritten; historical parquet files simply
    *      read NULL for the new columns);
    *   4. resume the stream UNDER THE SAME CHECKPOINT with the evolved
    *      read schema — already-processed files are not re-read, and
    *      files written before the evolution that a future backfill
    *      might add also parse (CSV is positional; the evolved columns
    *      are appended at the end, so shorter rows read NULL).
    *
    * Assumes evolved files append new columns after the existing ones
    * (the cloudFiles assumption as well). Returns the evolved read
    * schema for observability. */
  def ingestStreamingEvolving(spark: SparkSession, sourceDir: String,
      baseSchema: StructType, table: String, checkpointDir: String,
      batchId: Option[Long] = None): StructType = {
    // The bronze schema is read once, and again only after an ALTER
    // widened it (Tables.append's rule).
    val existing =
      if (spark.catalog.tableExists(table)) Some(spark.read.table(table).schema) else None
    // Known columns ALWAYS keep their declared order/types — CSV reads
    // are positional, so the known prefix must stay intact even if the
    // header sample happened to miss a file flavor; genuinely new
    // columns append at the end as STRING, in discovery order.
    val knownFields = existing.map(_.fields.toSeq.filterNot(_.name.startsWith("_")))
      .getOrElse(baseSchema.fields.toSeq)
    val known = knownFields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val discovered = discoverCsvColumns(spark, sourceDir)
      .getOrElse(baseSchema.fieldNames.toSeq)
    val newCols = discovered.filterNot(d => known.contains(d.toLowerCase))
    val evolved = StructType(
      knownFields.map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType)) ++
      newCols.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))
    val target = existing.map { schema =>
      if (newCols.isEmpty) schema else {
        val colsDdl = newCols.map(n => s"`$n` STRING").mkString(", ")
        spark.sql(s"ALTER TABLE $table ADD COLUMNS ($colsDdl)")
        spark.read.table(table).schema
      }
    }
    val bid = batchId.getOrElse(System.currentTimeMillis() / 1000)
    val raw = spark.readStream.schema(evolved).option("header", "true").csv(sourceDir)
    val withMeta = addMetadataColumns(raw, lit(bid))
    // Align to the (possibly widened) table column order so the append
    // matches positionally; on first run the table is created from the
    // frame's own order.
    val aligned = target.fold(withMeta)(t =>
      withMeta.select(t.fields.map(f => col(f.name)).toIndexedSeq: _*))
    AvailableNow.run(aligned.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir), Some(table))
    evolved
  }
}
