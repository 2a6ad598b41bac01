package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Scd2
import graft.sources.Tables

/** SCD2 merge algebra + the table-level apply (first load, incremental,
  * history-append partition layout). */
class Scd2Spec extends SparkTestBase {
  import spark.implicits._

  private def dim(rows: (String, String, String, Option[String], Boolean)*): DataFrame =
    rows.toDF("policy_id", "status", "start", "end", "is_current")
      .select(col("policy_id"), col("status"),
        col("start").cast(TimestampType).as("effective_start_date"),
        col("end").cast(TimestampType).as("effective_end_date"),
        col("is_current"))

  test("merge closes changed rows and inserts new versions") {
    val target = dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P2", "ACTIVE", "2024-01-01", None, true))
    val source = dim(("P1", "CANCELLED", "2024-06-01", None, true),
      ("P2", "ACTIVE", "2024-06-01", None, true))
    val out = Scd2.merge(target, source, Seq("policy_id"), Seq("status")).cache()
    // P1 changed: closed old + new version; P2 unchanged: kept as-is
    assert(out.count() === 3)
    val p1 = out.filter(col("policy_id") === "P1").orderBy("is_current").collect()
    assert(p1.length === 2)
    val closed = p1(0)
    assert(!closed.getAs[Boolean]("is_current"))
    assert(closed.getAs[java.sql.Timestamp]("effective_end_date").toString
      .startsWith("2024-06-01"))
    assert(closed.getAs[String]("status") === "ACTIVE")
    val newVer = p1(1)
    assert(newVer.getAs[Boolean]("is_current") && newVer.getAs[String]("status") === "CANCELLED")
    val p2 = out.filter(col("policy_id") === "P2").collect()
    assert(p2.length === 1 && p2(0).getAs[Boolean]("is_current"))
  }

  test("sequential merges chain versions: two updates make a 3-row history") {
    // The streaming CDC gate's core property (st20): applying merge
    // per change-batch must CHAIN — batch 2 closes the version batch 1
    // inserted, so the key carries original→v1→v2 with contiguous
    // effective ranges. A fold-into-one-merge spelling can't produce
    // the middle row.
    val t0 = dim(("P1", "ACTIVE", "2024-01-01", None, true))
    val b1 = dim(("P1", "SUSPENDED", "2024-03-01", None, true))
    val b2 = dim(("P1", "CANCELLED", "2024-06-01", None, true))
    val after1 = Scd2.merge(t0, b1, Seq("policy_id"), Seq("status")).cache()
    val after2 = Scd2.merge(after1, b2, Seq("policy_id"), Seq("status"))
      .orderBy("effective_start_date").collect()
    assert(after2.length === 3)
    assert(after2.map(_.getAs[String]("status")).toSeq ===
      Seq("ACTIVE", "SUSPENDED", "CANCELLED"))
    assert(after2.map(_.getAs[Boolean]("is_current")).toSeq ===
      Seq(false, false, true))
    // ranges are contiguous: each closed row ends where the next starts
    assert(after2(0).getAs[java.sql.Timestamp]("effective_end_date") ===
      after2(1).getAs[java.sql.Timestamp]("effective_start_date"))
    assert(after2(1).getAs[java.sql.Timestamp]("effective_end_date") ===
      after2(2).getAs[java.sql.Timestamp]("effective_start_date"))
  }

  test("merge inserts brand-new keys and keeps history untouched") {
    val target = dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P1", "PENDING", "2023-01-01", Some("2024-01-01"), false)) // history row
    val source = dim(("P1", "ACTIVE", "2024-06-01", None, true),
      ("P3", "ACTIVE", "2024-06-01", None, true))
    val out = Scd2.merge(target, source, Seq("policy_id"), Seq("status"))
    assert(out.count() === 3)
    assert(out.filter(col("policy_id") === "P3").count() === 1)
    val hist = out.filter(!col("is_current")).head()
    assert(hist.getAs[String]("status") === "PENDING") // untouched passthrough
  }

  test("merge does not drop rows with NULL is_current") {
    val target = dim(("P1", "ACTIVE", "2024-01-01", None, true))
      .union(dim(("P9", "ACTIVE", "2024-01-01", None, true))
        .withColumn("is_current", lit(null).cast(BooleanType)))
    val source = dim(("P1", "ACTIVE", "2024-06-01", None, true))
    val out = Scd2.merge(target, source, Seq("policy_id"), Seq("status"))
    assert(out.filter(col("policy_id") === "P9").count() === 1)
  }

  test("merge fates key on side presence: NULL natural keys never emit phantom rows") {
    // r14 ADVICE (medium): a NULL-key source row is unmatched in the
    // full-outer join, and the key-null fate spelling classified it
    // 'keep' with an ABSENT target side — the explode emitted an
    // all-NULL output row. Presence-keyed fates give Delta MERGE
    // semantics instead: NULL-key source → not matched → INSERT as-is;
    // NULL-key target current row → not matched by source → kept.
    val nullKey = (r: DataFrame) => r.withColumn("policy_id",
      lit(null).cast(StringType))
    val target = dim(("P1", "ACTIVE", "2024-01-01", None, true))
      .union(nullKey(dim(("X", "ORPHAN", "2024-01-01", None, true))))
    val source = dim(("P1", "CANCELLED", "2024-06-01", None, true))
      .union(nullKey(dim(("Y", "NEWNULL", "2024-06-01", None, true))))
    val out = Scd2.merge(target, source, Seq("policy_id"), Seq("status")).cache()
    // No phantom: every row has a status (all-NULL rows have none).
    assert(out.filter(col("status").isNull).count() === 0)
    // P1 closed + new version; ORPHAN kept; NEWNULL inserted = 4 rows.
    assert(out.count() === 4)
    assert(out.filter(col("status") === "ORPHAN").count() === 1)
    val ins = out.filter(col("status") === "NEWNULL").collect()
    assert(ins.length === 1 && ins(0).getAs[Boolean]("is_current")
      && ins(0).getAs[String]("policy_id") == null)
  }

  test("scd2Apply: first load, then incremental history-append") {
    val table = "graft_test.scd2_dim"
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, table)
    val v1 = dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P2", "ACTIVE", "2024-01-01", None, true))
    Tables.scd2Apply(spark, table, v1, Seq("policy_id"), Seq("status"))
    assert(spark.read.table(table).count() === 2) // first-load path

    val v2 = dim(("P1", "CANCELLED", "2024-06-01", None, true),
      ("P2", "ACTIVE", "2024-06-01", None, true),
      ("P3", "ACTIVE", "2024-06-01", None, true))
    Tables.scd2Apply(spark, table, v2, Seq("policy_id"), Seq("status"))
    val after = spark.read.table(table).cache()
    assert(after.count() === 4) // P1 closed + P1 new + P2 kept + P3 new
    assert(after.filter(!col("is_current")).count() === 1)
    assert(after.filter(col("is_current")).count() === 3)
    val closed = after.filter(!col("is_current")).head()
    assert(closed.getAs[String]("policy_id") === "P1" &&
      closed.getAs[String]("status") === "ACTIVE")
  }

  test("scd2Apply re-run with the same source is a no-op (crash-recovery claim)") {
    // Tables.scala documents the crash window between history-append and
    // current-partition overwrite as safe because re-running the merge is
    // idempotent — pin that: applying the identical source twice must
    // leave the table row-for-row unchanged.
    val table = "graft_test.scd2_idem"
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, table)
    val v1 = dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P2", "ACTIVE", "2024-01-01", None, true))
    Tables.scd2Apply(spark, table, v1, Seq("policy_id"), Seq("status"))
    val v2 = dim(("P1", "CANCELLED", "2024-06-01", None, true),
      ("P2", "ACTIVE", "2024-06-01", None, true))
    Tables.scd2Apply(spark, table, v2, Seq("policy_id"), Seq("status"))
    val first = spark.read.table(table).collect().map(_.toString).sorted
    Tables.scd2Apply(spark, table, v2, Seq("policy_id"), Seq("status"))
    val second = spark.read.table(table).collect().map(_.toString).sorted
    assert(second === first)
  }

  test("scd2Apply: crash between history-append and current overwrite converges on re-run") {
    // Inject the crash by REPLAYING phase 1 exactly as scd2Apply commits
    // it (append the newly-closed rows to the history partition) and
    // stopping — the table is now in the documented mid-crash state:
    // closed copy in history, stale row still current. A re-run of the
    // full merge must converge: no duplicate closed rows, correct
    // current partition.
    val table = "graft_test.scd2_crash"
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, table)
    val v1 = dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P2", "ACTIVE", "2024-01-01", None, true))
    Tables.scd2Apply(spark, table, v1, Seq("policy_id"), Seq("status"))
    val v2 = dim(("P1", "CANCELLED", "2024-06-01", None, true),
      ("P2", "ACTIVE", "2024-06-01", None, true))
    // --- phase 1 only (what scd2Apply commits first) ---
    val merged = Scd2.merge(spark.read.table(table), v2,
      Seq("policy_id"), Seq("status")).localCheckpoint(true)
    val newHistory = merged.filter(!coalesce(col("is_current"), lit(false)))
      .localCheckpoint(true)
    newHistory.write.mode("append").format("parquet")
      .partitionBy("is_current").saveAsTable(table)
    spark.catalog.refreshTable(table)
    // mid-crash state: P1 closed row in history AND stale current P1
    val mid = spark.read.table(table)
    assert(mid.filter(!col("is_current")).count() === 1)
    assert(mid.filter(col("is_current") && col("policy_id") === "P1")
      .head().getAs[String]("status") === "ACTIVE")
    // --- recovery: re-run the full merge with the same source ---
    Tables.scd2Apply(spark, table, v2, Seq("policy_id"), Seq("status"))
    val after = spark.read.table(table).cache()
    assert(after.count() === 3, after.collect().mkString("\n"))
    assert(after.filter(!col("is_current")).count() === 1,
      "duplicate closed row survived crash recovery")
    assert(after.filter(col("is_current") && col("policy_id") === "P1")
      .head().getAs[String]("status") === "CANCELLED")
  }

  test("scd2Apply leaves a NULL is_current row and the existing history files untouched") {
    import java.nio.file.{Files, Paths}
    val table = "graft_test.scd2_null_current"
    Tables.ensureDatabase(spark, "graft_test")
    Tables.dropTable(spark, table)
    Tables.scd2Apply(spark, table, dim(("P1", "ACTIVE", "2024-01-01", None, true),
      ("P2", "ACTIVE", "2024-01-01", None, true)), Seq("policy_id"), Seq("status"))
    // P1 closes: the history partition gets its first file.
    Tables.scd2Apply(spark, table, dim(("P1", "CANCELLED", "2024-03-01", None, true)),
      Seq("policy_id"), Seq("status"))
    dim(("P9", "ACTIVE", "2024-01-01", None, true))
      .withColumn("is_current", lit(null).cast(BooleanType))
      .write.mode("append").format("parquet").partitionBy("is_current").saveAsTable(table)
    spark.catalog.refreshTable(table)
    def outsideCurrent(): Map[String, Seq[Byte]] =
      spark.read.table(table).inputFiles.filterNot(_.contains("is_current=true"))
        .map(f => f -> Files.readAllBytes(Paths.get(new java.net.URI(f))).toSeq).toMap
    val before = outsideCurrent()
    assert(before.keys.count(_.contains("is_current=__HIVE_DEFAULT_PARTITION__")) === 1)
    assert(before.keys.count(_.contains("is_current=false")) === 1)

    // P2 closes, P3 arrives: one new history file, a new current partition.
    Tables.scd2Apply(spark, table, dim(("P2", "CANCELLED", "2024-06-01", None, true),
      ("P3", "ACTIVE", "2024-06-01", None, true)), Seq("policy_id"), Seq("status"))
    val after = outsideCurrent()
    assert(before.forall { case (f, bytes) => after.get(f).contains(bytes) },
      "an existing history or NULL-partition file was rewritten or removed")
    assert(after.size === before.size + 1)
    val rows = spark.read.table(table)
    assert(rows.filter(col("is_current").isNull)
      .select("policy_id").as[String].collect().toSeq === Seq("P9"))
    assert(rows.filter(!col("is_current")).select("policy_id").as[String]
      .collect().toSeq.sorted === Seq("P1", "P2"))
    assert(rows.filter(col("is_current")).select("policy_id", "status").as[(String, String)]
      .collect().toSeq.sorted === Seq(("P1", "CANCELLED"), ("P2", "CANCELLED"), ("P3", "ACTIVE")))
  }
}
