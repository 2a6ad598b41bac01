package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.pipeline.Runner
import graft.sources.{Ingest, Tables}
import graft.streaming.AvailableNow
import graft.tools.Measure

/** Bronze ingestion (batch + streaming exactly-once), write paths, and
  * the end-to-end medallion runner on generated sample CSVs. */
class IngestRunnerSpec extends SparkTestBase {

  private def writePoliciesCsv(dir: String, rows: Seq[String], name: String = "raw_policies.csv"): Unit = {
    val header = "policy_id,policyholder_first_name,policyholder_last_name," +
      "policyholder_email,property_id,coverage_type_code,effective_date," +
      "expiration_date,status,annual_premium,deductible,coverage_limit," +
      "agent_id,channel,created_at,updated_at"
    Files.writeString(java.nio.file.Paths.get(s"$dir/$name"),
      (header +: rows).mkString("\n"))
  }

  private val policyRows = Seq(
    "POL-001, John , Smith ,john@t.co,PROP-001,HO3,2024-01-01,2025-01-01, active ,1200.50,1000,300000,AGT-001,ONLINE,2023-12-15T00:00:00,2024-01-01T00:00:00",
    "POL-002,Jane,Doe,jane@t.co,PROP-002,ho5,2024-03-15,2025-03-15,CANCELLED,2500,2000,500000,AGT-002,AGENT,2024-03-01T00:00:00,2024-06-01T00:00:00")

  test("ingestBatch: explicit-schema CSV scan, metadata columns, append, single source read") {
    val dir = Measure.tempDir("graft_ingest")
    writePoliciesCsv(dir, policyRows)
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, "graft_test.bronze_policies")
    val n = Ingest.ingestBatch(spark, s"$dir/raw_policies.csv", Schemas.rawPolicies,
      "graft_test.bronze_policies", batchId = Some(7L))
    assert(n === 2)
    val bronze = spark.read.table("graft_test.bronze_policies")
    assert(Seq("_ingestion_timestamp", "_source_file", "_batch_id")
      .forall(bronze.columns.contains))
    assert(bronze.select("_batch_id").distinct().head().getLong(0) === 7L)
    assert(bronze.select("_source_file").head().getString(0).contains("raw_policies.csv"))
    // append semantics: second batch adds rows
    Ingest.ingestBatch(spark, s"$dir/raw_policies.csv", Schemas.rawPolicies,
      "graft_test.bronze_policies", batchId = Some(8L))
    assert(spark.read.table("graft_test.bronze_policies").count() === 4)
    // The count is of this call's rows, not of every row sharing its batch id.
    assert(Ingest.ingestBatch(spark, s"$dir/raw_policies.csv", Schemas.rawPolicies,
      "graft_test.bronze_policies", batchId = Some(8L)) === 2)
  }

  test("append evolves the schema additively (mergeSchema parity, ingest_policies.py:92)") {
    import spark.implicits._
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, "graft_test.evolve_append")
    Tables.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      "graft_test.evolve_append")
    // New column arrives: old rows must read NULL for it, not fail.
    Tables.append(Seq((3L, "c", 9.5)).toDF("id", "name", "score"),
      "graft_test.evolve_append")
    val evolved = spark.read.table("graft_test.evolve_append")
    assert(evolved.columns.sorted === Array("id", "name", "score"))
    assert(evolved.count() === 3)
    assert(evolved.filter(col("score").isNull).count() === 2)
    assert(evolved.filter(col("id") === 3L).select("score").head().getDouble(0) === 9.5)
    // Frame MISSING a table column: filled with NULL, as Delta does.
    Tables.append(Seq((4L, "d")).toDF("id", "name"), "graft_test.evolve_append")
    val after = spark.read.table("graft_test.evolve_append")
    assert(after.count() === 4)
    assert(after.filter(col("id") === 4L).select("score").head().isNullAt(0))
  }

  test("ingestStreamingEvolving: restart picks up new CSV columns; old rows read NULL (ST5)") {
    import org.apache.spark.sql.types._
    val base = Measure.tempDir("graft_evolve")
    val landing = s"$base/landing"; val chk = s"$base/chk"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    Files.writeString(java.nio.file.Paths.get(s"$landing/b1.csv"),
      "id,name\n1,alice\n2,bob")
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, "graft_test.evolve_stream")
    val schema1 = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val s1 = Ingest.ingestStreamingEvolving(spark, landing, schema1,
      "graft_test.evolve_stream", chk, batchId = Some(1L))
    assert(s1.fieldNames.toSeq === Seq("id", "name"))
    assert(spark.read.table("graft_test.evolve_stream").count() === 2)
    // Evolution: a new file lands with a trailing `tier` column.
    Files.writeString(java.nio.file.Paths.get(s"$landing/b2.csv"),
      "id,name,tier\n3,carol,gold\n4,dave,silver")
    val s2 = Ingest.ingestStreamingEvolving(spark, landing, schema1,
      "graft_test.evolve_stream", chk, batchId = Some(2L))
    assert(s2.fieldNames.toSeq === Seq("id", "name", "tier"))
    val t = spark.read.table("graft_test.evolve_stream")
    // Exactly-once held across the evolution: 2 old + 2 new rows.
    assert(t.count() === 4)
    // Pre-evolution rows carry NULL in the evolved column.
    assert(t.filter(col("_batch_id") === 1L).filter(col("tier").isNull).count() === 2)
    assert(t.filter(col("_batch_id") === 2L).filter(col("tier").isNotNull).count() === 2)
    assert(t.filter(col("id") === 3L).select("tier").head().getString(0) === "gold")
    // A third restart with NO new files reprocesses nothing.
    Ingest.ingestStreamingEvolving(spark, landing, schema1,
      "graft_test.evolve_stream", chk, batchId = Some(3L))
    assert(spark.read.table("graft_test.evolve_stream").count() === 4)
  }

  test("streaming SCD2 recovers from a crash after a partially-applied foreachBatch") {
    // The st11 composition proves two CLEAN batches; this pins the crash
    // window the Tables.scd2Apply scaladoc documents: the foreachBatch
    // mutates the dimension table, then dies BEFORE Spark records the
    // epoch commit. On restart the checkpoint replays the batch
    // (foreachBatch is at-least-once), so the merge re-applies on the
    // already-merged table — Scd2.merge's idempotency-by-key must land
    // the dimension on the SAME history as a clean run, with no
    // duplicate versions.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQueryException
    import graft.operators.Scd2
    import spark.implicits._
    withTempDir("graft_scd2_crash") { base =>
      val src = s"$base/in"; val chk = s"$base/chk"
      Tables.ensureDatabase(spark, "graft_test")
      Tables.dropTable(spark, "graft_test.dim_crash")
      def shape(rows: Seq[(String, String, String)]): DataFrame =
        rows.toDF("id", "status", "esd")
          .select(col("id"), col("status"),
            to_timestamp(col("esd")).as("effective_start_date"),
            lit(null).cast("timestamp").as("effective_end_date"),
            lit(true).as("is_current"))
      def applyBatch(batch: DataFrame): Unit = {
        val sp = batch.sparkSession
        val merged =
          if (sp.catalog.tableExists("graft_test.dim_crash"))
            Scd2.merge(sp.read.table("graft_test.dim_crash"), batch,
              Seq("id"), Seq("status")).localCheckpoint(true)
          else batch
        merged.write.mode("overwrite").saveAsTable("graft_test.dim_crash")
        // The injected crash aborts the stream BEFORE Spark's usual
        // post-batch invalidation; drop the stale file listing so the
        // replayed batch (and the assertions) see the rewritten table.
        sp.catalog.refreshTable("graft_test.dim_crash")
      }
      def run(crashAfterApply: Boolean): Unit =
        AvailableNow.eachBatch(spark.readStream
            .schema("id STRING, status STRING, effective_start_date TIMESTAMP, " +
              "effective_end_date TIMESTAMP, is_current BOOLEAN")
            .parquet(src), chk) { (b, _) =>
          applyBatch(b)
          if (crashAfterApply)
            throw new RuntimeException("injected crash after state mutation")
        }
      // Batch A: three current rows.
      shape(Seq(("k1", "A", "2024-01-01"), ("k2", "A", "2024-01-01"),
        ("k3", "A", "2024-01-01"))).write.mode("append").parquet(src)
      run(crashAfterApply = false)
      // Batch B: k1/k3 change status; the stream crashes AFTER the merge
      // landed but before the epoch commit.
      shape(Seq(("k1", "X", "2024-01-11"), ("k3", "X", "2024-01-11")))
        .write.mode("append").parquet(src)
      intercept[StreamingQueryException] { run(crashAfterApply = true) }
      // The batch body ran in this session, but the crash cut the stream
      // short; refresh before reading past the overwrite.
      spark.catalog.refreshTable("graft_test.dim_crash")
      // The partial apply is real: the table already holds the merged state.
      assert(spark.read.table("graft_test.dim_crash").count() === 5)
      // Restart from the same checkpoint: batch B replays, merge re-applies.
      run(crashAfterApply = false)
      spark.catalog.refreshTable("graft_test.dim_crash")
      val dim = spark.read.table("graft_test.dim_crash")
      assert(dim.count() === 5, "replayed merge must be idempotent, not duplicate versions")
      val k1 = dim.filter(col("id") === "k1").orderBy("is_current").collect()
      assert(k1.length === 2)
      assert(!k1(0).getAs[Boolean]("is_current") &&
        k1(0).getAs[String]("status") === "A" &&
        k1(0).getAs[java.sql.Timestamp]("effective_end_date") ===
          java.sql.Timestamp.valueOf("2024-01-11 00:00:00"))
      assert(k1(1).getAs[Boolean]("is_current") &&
        k1(1).getAs[String]("status") === "X" &&
        k1(1).isNullAt(k1(1).fieldIndex("effective_end_date")))
      val k2 = dim.filter(col("id") === "k2").collect()
      assert(k2.length === 1 && k2(0).getAs[Boolean]("is_current") &&
        k2(0).getAs[String]("status") === "A")
    }
  }

  test("ingestStreaming: AvailableNow processes backlog exactly once per checkpoint") {
    withTempDir("graft_stream") { base =>
      val landing = s"$base/landing"; val chk = s"$base/chk"
      Files.createDirectories(java.nio.file.Paths.get(landing))
      writePoliciesCsv(landing, policyRows, "batch1.csv")
      Tables.ensureDatabase(spark, "graft_test")
      Tables.dropTable(spark, "graft_test.stream_policies")
      Ingest.ingestStreamingEvolving(spark, landing, Schemas.rawPolicies,
        "graft_test.stream_policies", chk, batchId = Some(1L))
      assert(spark.read.table("graft_test.stream_policies").count() === 2)
      // re-run with same checkpoint and no new files: nothing reprocessed
      Ingest.ingestStreamingEvolving(spark, landing, Schemas.rawPolicies,
        "graft_test.stream_policies", chk, batchId = Some(2L))
      assert(spark.read.table("graft_test.stream_policies").count() === 2)
      // new file lands: only it is picked up
      writePoliciesCsv(landing, policyRows.take(1), "batch2.csv")
      Ingest.ingestStreamingEvolving(spark, landing, Schemas.rawPolicies,
        "graft_test.stream_policies", chk, batchId = Some(3L))
      val t = spark.read.table("graft_test.stream_policies")
      assert(t.count() === 3)
      assert(t.filter(col("_batch_id") === 3L).count() === 1)
    }
  }

  test("partitioned write enables partition-pruned scans") {
    import spark.implicits._
    Tables.ensureDatabase(spark, "graft_test")
    val df = Seq(("C1", "FL", 10.0), ("C2", "TX", 20.0), ("C3", "FL", 30.0))
      .toDF("claim_id", "property_state", "amount")
    Tables.overwritePartitioned(df, "graft_test.fact_part", Seq("property_state"))
    val pruned = spark.read.table("graft_test.fact_part")
      .filter(col("property_state") === "FL")
    assert(pruned.count() === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("TX"), "partition filter should prune, not scan+filter")
  }

  test("compactTable collapses many small files, preserving rows and partitions") {
    import spark.implicits._
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, "graft_test.many_small")
    // 10 appends of a 2-partition df = many small files
    val df = Seq(("a", "FL", 1), ("b", "TX", 2)).toDF("id", "st", "v").repartition(2)
    (1 to 10).foreach(_ => df.write.mode("append")
      .format("parquet").partitionBy("st").saveAsTable("graft_test.many_small"))
    val before = spark.read.table("graft_test.many_small").inputFiles.length
    assert(before >= 10)
    Tables.compactTable(spark, "graft_test.many_small", targetPartitions = 1)
    val after = spark.read.table("graft_test.many_small")
    assert(after.count() === 20)
    assert(after.inputFiles.length < before)
    assert(after.filter(col("st") === "FL").count() === 10) // partitions intact
  }

  test("runner executes the medallion DAG topologically and skips descendants on failure") {
    var order = Vector[String]()
    val stages = Seq(
      Runner.Stage("a", Nil, _ => order :+= "a"),
      Runner.Stage("b", Seq("a"), _ => order :+= "b"),
      Runner.Stage("fail", Seq("a"), _ => throw new RuntimeException("boom")),
      Runner.Stage("c", Seq("fail", "b"), _ => order :+= "c"))
    val results = Runner.run(spark, stages).map(r => r.name -> r).toMap
    assert(order === Vector("a", "b"))
    assert(results("a").ok && results("b").ok)
    assert(!results("fail").ok && results("fail").error.get.contains("boom"))
    assert(!results("c").ok && results("c").error.get.contains("skipped"))
  }

  test("runner overlaps stages with no dependencies") {
    val met = new java.util.concurrent.CountDownLatch(2)
    def meet(s: org.apache.spark.sql.SparkSession): Unit = {
      met.countDown()
      require(met.await(30, java.util.concurrent.TimeUnit.SECONDS), "the other stage never started")
    }
    val results = Runner.run(spark, Seq(Runner.Stage("x", Nil, meet), Runner.Stage("y", Nil, meet)))
    assert(results.forall(_.ok), results.flatMap(_.error).mkString("; "))
  }

  test("runner starts a stage only after its last dependency ends; results keep declaration order") {
    val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    def timed(name: String, deps: Seq[String], sleepMs: Long) = Runner.Stage(name, deps, _ => {
      val t0 = System.nanoTime(); Thread.sleep(sleepMs); spans.put(name, (t0, System.nanoTime()))
    })
    val results = Runner.run(spark, Seq(
      timed("join", Seq("slow", "fast"), 0),
      timed("slow", Nil, 300),
      timed("fast", Nil, 10),
      timed("after_fast", Seq("fast"), 10)))
    assert(results.map(_.name) === Seq("join", "slow", "fast", "after_fast"))
    assert(results.forall(_.ok))
    assert(spans.get("join")._1 >= spans.get("slow")._2)
    assert(spans.get("join")._1 >= spans.get("fast")._2)
    assert(spans.get("after_fast")._1 >= spans.get("fast")._2)
  }

  test("runner rejects a dependency cycle, naming it, before running any stage") {
    var ran = false
    val e = intercept[IllegalArgumentException](Runner.run(spark, Seq(
      Runner.Stage("free", Nil, _ => ran = true),
      Runner.Stage("a", Seq("b"), _ => ran = true),
      Runner.Stage("b", Seq("c"), _ => ran = true),
      Runner.Stage("c", Seq("a"), _ => ran = true))))
    assert(e.getMessage.contains("stage dependency cycle: a -> b -> c -> a"))
    assert(!ran)
    val self = intercept[IllegalArgumentException](
      Runner.run(spark, Seq(Runner.Stage("s", Seq("s"), _ => ()))))
    assert(self.getMessage.contains("stage dependency cycle: s -> s"))
  }

  test("runner labels stage jobs with the stage name and keeps the caller's job group") {
    import org.apache.spark.graftbus.ListenerBusDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        (e.properties.getProperty("spark.job.description"), e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("caller-group", "runner spec")
    try {
      val results = Runner.run(spark, Seq(
        Runner.Stage("count_stage", Nil, s => assert(s.range(5).count() === 5L))))
      assert(results.forall(_.ok), results.flatMap(_.error).mkString("; "))
      ListenerBusDrain.drain(sc)
      assert(jobs.contains(("count_stage", "caller-group")), jobs.toString)
      assert(sc.getLocalProperty("spark.job.description") === "runner spec")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("gold_dim_date alone creates its database") {
    val db = "graft_dim_date_alone"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val stages = Runner.medallionStages("unused", db).filter(_.name == "gold_dim_date")
    val results = Runner.run(spark, stages)
    assert(results.map(_.name) === Seq("gold_dim_date"))
    assert(results.forall(_.ok), results.flatMap(_.error).mkString("; "))
    assert(spark.read.table(s"$db.dim_date").count() === 4018)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("end-to-end medallion pipeline on sample CSVs reaches a green DQ gate") {
    val dir = Measure.tempDir("graft_e2e")
    writePoliciesCsv(dir, policyRows)
    val claimsHeader = "claim_id,policy_id,claim_date,reported_date,closed_date," +
      "claim_type,claim_status,claim_amount,approved_amount,deductible_applied," +
      "adjuster_id,cause_of_loss,description,created_at,updated_at"
    Files.writeString(java.nio.file.Paths.get(s"$dir/raw_claims.csv"), Seq(claimsHeader,
      "CLM-001,POL-001,2024-06-15,2024-06-16,2024-08-01,WIND_DAMAGE,CLOSED,15000,12000,1000,ADJ-001,HURRICANE,d1,2024-06-16T00:00:00,2024-08-01T00:00:00",
      "CLM-002,POL-001,2024-09-01,2024-09-03,,water_damage,OPEN,5000,0,0,ADJ-002,BURST_PIPE,d2,2024-09-03T00:00:00,2024-09-10T00:00:00").mkString("\n"))
    val premiumsHeader = "premium_id,policy_id,payment_date,due_date,amount," +
      "payment_method,payment_status,billing_period,period_start_date,period_end_date,created_at"
    Files.writeString(java.nio.file.Paths.get(s"$dir/raw_premiums.csv"), Seq(premiumsHeader,
      "PRM-001,POL-001,2024-02-01,2024-02-01,100.04,ACH,COMPLETED,MONTHLY,2024-01-01,2024-02-01,2024-02-01T00:00:00",
      "PRM-002,POL-002,2024-03-05,2024-03-01,208.33,CHECK,FAILED,MONTHLY,2024-02-01,2024-03-01,2024-03-05T00:00:00").mkString("\n"))
    val propsHeader = "property_id,street_address,city,state,zip_code,county," +
      "latitude,longitude,year_built,square_footage,stories,construction_type," +
      "roof_type,occupancy_type,flood_zone,wind_zone,property_value,created_at,updated_at"
    Files.writeString(java.nio.file.Paths.get(s"$dir/raw_properties.csv"), Seq(propsHeader,
      "PROP-001,1 Main St,Miami,fl,33101,Dade,25.5,-80.25,1990,2000,1,FRAME,SHINGLE,PRIMARY,AE,3,450000,2024-01-01T00:00:00,2024-01-01T00:00:00",
      "PROP-002,2 Oak Ave,Austin,tx,73301,Travis,30.25,-97.75,2005,2600,2,MASONRY,TILE,PRIMARY,X,2,520000,2024-01-01T00:00:00,2024-01-01T00:00:00").mkString("\n"))

    val db = "graft_e2e"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val results = Runner.run(spark, Runner.medallionStages(dir, db))
    val failed = results.filter(!_.ok)
    assert(failed.isEmpty, failed.map(r => s"${r.name}: ${r.error}").mkString("; "))
    assert(spark.read.table(s"$db.dim_policy").count() === 2)
    assert(spark.read.table(s"$db.fact_claims").count() === 2)
    assert(spark.read.table(s"$db.fact_premiums").count() === 2)
    assert(spark.read.table(s"$db.dim_date").count() === 4018) // 2020-01-01..2030-12-31
  }
}
