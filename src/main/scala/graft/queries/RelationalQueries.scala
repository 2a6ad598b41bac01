package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Funcs
import graft.sources.Tables
import graft.tools.Measure
import Registry.T

/** Driver-gradable queries for the relational operator inventory
  * (SURVEY §2.1-§2.8): scans/sinks, filters/projections, joins,
  * aggregations, the date-spine generator, sorts/limits, set ops, and
  * scalar functions — each named after its SURVEY §2 id and paired with a
  * DuckDB oracle over the same parquet tables.
  */
object RelationalQueries {

  // Shared with SqlMartQueries (sql_dim_date twin).
  private[queries] val dimDateOracle: String =
    """SELECT CAST(d AS DATE) AS date_key,
             |  CAST(EXTRACT(year FROM d) AS INT) AS year,
             |  CAST(quarter(CAST(d AS DATE)) AS INT) AS quarter,
             |  CAST(EXTRACT(month FROM d) AS INT) AS month,
             |  CAST(EXTRACT(day FROM d) AS INT) AS day_of_month,
             |  CAST(date_part('dow', d) AS INT) AS day_of_week,
             |  CAST(date_part('doy', d) AS INT) AS day_of_year,
             |  strftime(d, '%Y-%m') AS year_month,
             |  strftime(d, '%Y') || '-Q' || CAST(quarter(CAST(d AS DATE)) AS VARCHAR) AS year_quarter,
             |  monthname(CAST(d AS DATE)) AS month_name,
             |  dayname(CAST(d AS DATE)) AS day_name,
             |  date_part('dow', d) IN (0, 6) AS is_weekend,
             |  EXTRACT(month FROM d) BETWEEN 6 AND 11 AS is_hurricane_season,
             |  EXTRACT(month FROM d) BETWEEN 3 AND 5 AS is_tornado_season,
             |  EXTRACT(month FROM d) IN (12, 1, 2) AS is_winter_storm_season
             |FROM generate_series(DATE '2020-01-01', DATE '2021-12-31', INTERVAL 1 DAY) t(d)
             |ORDER BY date_key""".stripMargin

  val defs: Seq[(String, Q)] = Seq(

    // ----- §2.1 scans / sources / sinks ---------------------------------
    "s1_csv_roundtrip" -> Q((s, dir) => {
      // S1 (explicit-schema CSV scan, no inference) + S12 (CSV writer).
      val out = Measure.tempDir("graft_s1")
      T(s, dir, "nation").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(out)
        .orderBy("n_nationkey")
    }, Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    "s2_catalog_scan" -> Q((s, dir) => {
      Tables.ensureDatabase(s, "graft_s2")
      Tables.overwrite(T(s, dir, "region"), "graft_s2.region_copy")
      s.read.table("graft_s2.region_copy").orderBy("r_regionkey")
    }, Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    "s4_jdbc_scan" -> Q((s, dir) => {
      // S4 (JDBC scan of the legacy warehouse): seed embedded Derby with
      // the customer extract via plain JDBC inserts — standing in for data
      // that already lives in the legacy system — then read it back with a
      // RANGE-PARTITIONED spark.read.jdbc (partitionColumn/lower/upper/
      // numPartitions: 4 parallel bounded remote queries, the cluster-
      // scale extract shape) and aggregate. Matching the parquet oracle
      // proves full round-trip fidelity of the JDBC path.
      val db = Measure.tempDir("graft_s4") + "/legacy_db"
      val cust = T(s, dir, "customer")
      graft.sources.Jdbc.loadTable(db, "legacy_customer", cust)
      val bounds = cust.agg(min("c_custkey"), max("c_custkey")).head()
      val legacy = graft.sources.Jdbc.readPartitioned(s, db, "legacy_customer",
        "c_custkey", bounds.getLong(0), bounds.getLong(1) + 1L, numPartitions = 4)
      legacy.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy("c_mktsegment")
    }, Some("""SELECT c_mktsegment, count(*) AS cnt,
              |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
              |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "recon_jdbc_legacy" -> Q((s, dir) => {
      // The reconciliation.py:189 exemplar made real: legacy mart (Derby,
      // via JDBC) vs lakehouse twin (parquet), compared with the full
      // Reconciler surface — row counts, per-column aggregate sums,
      // categorical distribution, schema. The gate row carries the counts
      // AND the verdicts, so a silent JDBC corruption flips a boolean.
      import graft.sources.Jdbc
      import graft.validation.Reconciler
      val db = Measure.tempDir("graft_s4r") + "/legacy_db"
      val modern = T(s, dir, "nation")
      Jdbc.loadTable(db, "legacy_nation", modern)
      val legacy = Jdbc.read(s, db, "legacy_nation")
      val rc = Reconciler.compareRowCounts(legacy, modern)
      val aggs = Reconciler.compareAggregates(legacy, modern,
        Seq("n_nationkey", "n_regionkey"))
      val dist = Reconciler.compareDistributions(legacy, modern, "n_regionkey")
      val schema = Reconciler.compareSchemas(legacy, modern)
      import s.implicits._
      Seq((rc.sourceCount, rc.targetCount, rc.matched,
        aggs.forall(_.withinTolerance), dist.matched, schema.matched))
        .toDF("src_rows", "tgt_rows", "rows_match", "aggs_match",
          "dist_match", "schema_match")
    }, Some("""SELECT CAST(count(*) AS BIGINT) AS src_rows,
              |  CAST(count(*) AS BIGINT) AS tgt_rows,
              |  true AS rows_match, true AS aggs_match,
              |  true AS dist_match, true AS schema_match
              |FROM nation""".stripMargin)),

    "s5_inmemory_rows" -> Q((s, dir) => {
      import s.implicits._
      val fixture = Seq((0, "ALPHA"), (1, "BETA"), (2, "GAMMA"), (3, "DELTA"), (4, "EPSILON"))
        .toDF("r_regionkey", "tag")
      T(s, dir, "region").join(fixture, Seq("r_regionkey")).orderBy("r_regionkey")
    }, Some("""SELECT r.r_regionkey, r.r_name, f.tag
              |FROM region r
              |JOIN (VALUES (0,'ALPHA'),(1,'BETA'),(2,'GAMMA'),(3,'DELTA'),(4,'EPSILON'))
              |  AS f(r_regionkey, tag) ON r.r_regionkey = f.r_regionkey
              |ORDER BY r.r_regionkey""".stripMargin)),

    "s6_append_sink" -> Q((s, dir) => {
      Tables.ensureDatabase(s, "graft_w")
      Tables.dropTable(s, "graft_w.s6_region_append")
      val r = T(s, dir, "region")
      Tables.append(r, "graft_w.s6_region_append")
      Tables.append(r, "graft_w.s6_region_append")
      s.read.table("graft_w.s6_region_append")
        .groupBy("r_regionkey").agg(count(lit(1)).as("copies"))
        .orderBy("r_regionkey")
    }, Some("SELECT r_regionkey, CAST(2 AS BIGINT) AS copies FROM region ORDER BY r_regionkey")),

    "s7_overwrite_sink" -> Q((s, dir) => {
      Tables.ensureDatabase(s, "graft_w")
      val o = T(s, dir, "orders")
      Tables.overwrite(o.filter(col("o_orderstatus") === "O"), "graft_w.s7_orders")
      Tables.overwrite(o.filter(col("o_orderstatus") === "F"), "graft_w.s7_orders")
      s.read.table("graft_w.s7_orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }, Some("""SELECT o_orderstatus, count(*) AS cnt FROM orders
              |WHERE o_orderstatus = 'F' GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "s8_partitioned_sink" -> Q((s, dir) => {
      // Partitioned write + partition-pruned read-back (fact_claims.py:99-104).
      Tables.ensureDatabase(s, "graft_w")
      Tables.overwritePartitioned(T(s, dir, "lineitem"), "graft_w.s8_li", Seq("l_returnflag"))
      s.read.table("graft_w.s8_li")
        .filter(col("l_returnflag") === "R")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          // exact decimal SUM, DOUBLE at the gate (Registry.decimalsToDouble note)
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }, Some("""SELECT l_returnflag, count(*) AS cnt,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM lineitem WHERE l_returnflag = 'R'
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s13_json_roundtrip" -> Q((s, dir) => {
      // JSON file sink + explicit-schema JSON scan (beyond the reference's
      // CSV-only sources; the natural landing format for event feeds).
      val out = Measure.tempDir("graft_s13")
      T(s, dir, "nation").coalesce(1).write.mode("overwrite").json(out)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(out)
        .orderBy("n_nationkey")
    }, Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    "s14_orc_roundtrip" -> Q((s, dir) => {
      val out = Measure.tempDir("graft_s14")
      T(s, dir, "region").write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy("r_regionkey")
    }, Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    "s15_dynamic_partition_overwrite" -> Q((s, dir) => {
      // Dynamic partition overwrite — the lakehouse daily-batch write
      // contract: an overwrite touching ONE partition must leave every
      // other partition's data intact (static mode would truncate the
      // whole table). Seed all statuses, dynamically overwrite only the
      // 'F' partition with its urgent subset, then read the table back:
      // F shrinks to urgent rows, O/P survive untouched.
      s.sql("CREATE DATABASE IF NOT EXISTS graft_dpo")
      val o = T(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
      o.write.mode("overwrite").partitionBy("o_orderstatus")
        .saveAsTable("graft_dpo.orders_p")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        val repl = o.filter(col("o_orderstatus") === "F" &&
          col("o_orderpriority") === "1-URGENT")
        val tableCols = s.read.table("graft_dpo.orders_p").columns
        repl.select(tableCols.map(col): _*)
          .write.mode("overwrite").insertInto("graft_dpo.orders_p")
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.catalog.refreshTable("graft_dpo.orders_p")
      s.read.table("graft_dpo.orders_p")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          count(when(col("o_orderpriority") === "1-URGENT", lit(1))).as("urgent_cnt"))
        .orderBy("o_orderstatus")
    }, Some("""SELECT o_orderstatus, count(*) AS cnt,
              |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_cnt
              |FROM orders
              |WHERE o_orderstatus <> 'F' OR o_orderpriority = '1-URGENT'
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "s17_compaction_roundtrip" -> Q((s, dir) => {
      // Small-file compaction (Tables.compactTable): a table landed as
      // many tiny files is rewritten to few — the lakehouse maintenance
      // job that keeps scan task counts sane at 100 TB. The gate proves
      // content survives the rewrite bit-for-bit (ScaleOpsSpec asserts
      // the file count actually drops).
      Tables.ensureDatabase(s, "graft_w")
      T(s, dir, "lineitem").repartition(32)
        .write.mode("overwrite").format("parquet").saveAsTable("graft_w.s17_li")
      Tables.compactTable(s, "graft_w.s17_li", targetPartitions = 2)
      s.read.table("graft_w.s17_li")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("l_returnflag")
    }, Some("""SELECT l_returnflag, count(*) AS cnt,
              |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "s18_cdc_apply" -> Q((s, dir) =>
      // CDC changelog replay (Cdc.applyChangelog): the events stream read
      // as a keyed I/U/D change log (signup=insert, error=delete,
      // click/view/purchase=update, event_id = commit LSN) collapses to
      // final per-user state in ONE window shuffle — last writer wins, a
      // terminal delete removes the key, earlier deletes are survived by
      // later re-activity. Batch twin of st7_foreachbatch_upsert;
      // reference merge semantics per silver/merge_scd2.py minus history.
      graft.operators.Cdc.applyChangelog(
        T(s, dir, "events").select(col("user_id"), col("event_id"),
          when(col("event_type") === "signup", "I")
            .when(col("event_type") === "error", "D")
            .otherwise("U").as("op"),
          col("value").cast("decimal(18,2)").cast("double").as("last_value")),
        keyCols = Seq("user_id"), seqCol = col("event_id"),
        opCol = col("op"), valueCols = Seq("last_value"))
        .orderBy("user_id"),
      Some("""WITH log AS (SELECT user_id, event_id,
             |    CASE event_type WHEN 'signup' THEN 'I'
             |         WHEN 'error' THEN 'D' ELSE 'U' END AS op,
             |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
             |  FROM events),
             |ranked AS (SELECT *,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_changes
             |  FROM log)
             |SELECT user_id, op AS last_op, last_value, n_changes
             |FROM ranked WHERE rn = 1 AND op <> 'D'
             |ORDER BY user_id""".stripMargin)),

    "s19_dpp_prune_join" -> Q((s, dir) => {
      // Dynamic partition pruning on the READ side (the write-side
      // partition story is s8/s15): the fact lands partitioned by ship
      // month, and a star join against a filtered month dimension lets
      // Spark derive the fact's partition filter AT RUNTIME from the
      // dim's broadcast result (DynamicPruningExpression on the scan) —
      // only the quarter's 3 of 12 directories are ever read, though no
      // month predicate is spelled against the fact anywhere. At 100 TB
      // this is the mechanism that turns every date-dim-filtered star
      // join into a partial scan. PlanGuardsSpec asserts the
      // dynamicpruning subquery actually lands on the scan; the oracle
      // is the equivalent static month filter — pruning must not change
      // results, only bytes read. The fact is a PATH-based partitioned
      // write (unique temp dir), not a managed table: Bench/TimeQueries
      // sessions share ./spark-warehouse with a per-session in-memory
      // catalog, so a managed CTAS here hits LOCATION_ALREADY_EXISTS on
      // every session after the first; DPP fires identically through
      // the file index.
      val out = Measure.tempDir("graft_s19")
      T(s, dir, "lineitem")
        .withColumn("ship_mon", month(col("l_shipdate")))
        .select("ship_mon", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").partitionBy("ship_mon").parquet(out)
      val dim = s.range(1, 13).select(col("id").cast("int").as("mon"),
        (((col("id") - 1) / 3).cast("int") + 1).as("qtr"))
      s.read.parquet(out)
        .join(broadcast(dim), col("ship_mon") === col("mon"))
        .filter(col("qtr") === 2)
        .groupBy("ship_mon")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("ship_mon")
    }, Some("""SELECT CAST(month(l_shipdate) AS INT) AS ship_mon, count(*) AS cnt,
              |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
              |FROM lineitem
              |WHERE CAST(month(l_shipdate) AS INT) IN (4, 5, 6)
              |GROUP BY CAST(month(l_shipdate) AS INT)
              |ORDER BY ship_mon""".stripMargin), bench = true),

    "s20_gzip_csv_scan" -> Q((s, dir) => {
      // COMPRESSED text ingest (the .csv.gz drop every warehouse
      // receives). The scale point is that gzip is NOT SPLITTABLE —
      // one .gz member = one read task, no matter how large — so the
      // writer deliberately KEEPS the input parallelism (many
      // similar-sized .gz files, each an independent task) instead of
      // coalescing to a single giant member that would serialize the
      // whole scan at 100 TB. Prices travel as DECIMAL(12,2) text so
      // the round-trip is exact; the aggregate uses the exact-decimal-
      // sum-then-double gate discipline.
      val out = Measure.tempDir("graft_s20")
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))
        .write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(out)
      s.read.option("header", "true")
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DECIMAL(12,2)")
        .csv(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_total"))
        .orderBy("o_orderstatus")
    }, Some("""SELECT o_orderstatus, count(*) AS n_orders,
              |  count(DISTINCT o_custkey) AS n_custs,
              |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,2)))
              |    AS DOUBLE) AS sum_total
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "s21_json_corrupt_scan" -> Q((s, dir) => {
      // MALFORMED-record ingest (the other drop every warehouse
      // receives): JSON lines where some records are broken mid-object.
      // PERMISSIVE mode with columnNameOfCorruptRecord quarantines the
      // bad lines into _corrupt_record instead of failing the scan or
      // silently dropping them (DROPMALFORMED) — at 100 TB a corrupt
      // shard must not kill the job NOR vanish without a tally. Every
      // o_orderkey % 7 = 0 line is truncated mid-object; the gate
      // buckets rows by parsed status vs '_corrupt' and the oracle
      // replays the corruption predicate from the clean table, so a
      // scan that drops, double-counts, or mis-quarantines diverges.
      // The aggregate-only read also respects Spark's restriction on
      // querying _corrupt_record without the other columns.
      val out = Measure.tempDir("graft_s21")
      T(s, dir, "orders").filter(col("o_orderkey") % 20 < 3)
        .select(
          when(col("o_orderkey") % 7 === 0,
            concat(lit("{\"o_orderkey\": "),
              col("o_orderkey").cast("string"), lit(", BROKEN")))
          .otherwise(to_json(struct(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(12,2)").as("o_totalprice"))))
          .as("value"))
        .write.mode("overwrite").text(out)
      val parsed = s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DECIMAL(12,2), _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
      parsed
        .select(when(col("_corrupt_record").isNull, col("o_orderstatus"))
          .otherwise(lit("_corrupt")).as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_total"))
        .orderBy("bucket")
    }, Some("""SELECT bucket, count(*) AS n,
              |  CAST(SUM(total) AS DOUBLE) AS sum_total
              |FROM (
              |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN '_corrupt'
              |           ELSE o_orderstatus END AS bucket,
              |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
              |         ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2))
              |                AS DECIMAL(18,2)) END AS total
              |  FROM orders WHERE o_orderkey % 20 < 3)
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    "s22_snapshot_diff" -> Q((s, dir) => {
      // Changelog DERIVATION (operators/SnapshotDiff): the inverse of
      // s18_cdc_apply — two keyed snapshots in, the minimal I/U/D delta
      // out, with per-column change attribution. Snapshots derive from
      // orders by key arithmetic (same formulas in the oracle): A drops
      // %5=4, B drops %7=6, B shifts price (+100.0, exact in DOUBLE) on
      // %3=0 and flags status 'X' on %11=0 — so I, D, single-column U,
      // and both-columns U (%33) all populate. One full-outer SMJ on
      // the key; identical rows emit nothing (SnapshotDiffSpec proves
      // replaying the delta over A reproduces B via Cdc.applyChangelog).
      val o = T(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 5 =!= 4)
      val b = o.filter(col("o_orderkey") % 7 =!= 6).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey") % 11 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"))
      graft.operators.SnapshotDiff.diff(a, b,
          keyCols = Seq("o_orderkey"),
          compareCols = Seq("o_totalprice", "o_orderstatus"))
        .orderBy("o_orderkey")
    }, Some("""WITH a AS (SELECT o_orderkey, o_totalprice, o_orderstatus
              |  FROM orders WHERE o_orderkey % 5 <> 4),
              |b AS (SELECT o_orderkey,
              |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
              |         ELSE o_totalprice END AS o_totalprice,
              |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
              |         ELSE o_orderstatus END AS o_orderstatus
              |  FROM orders WHERE o_orderkey % 7 <> 6),
              |j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
              |    a.o_orderkey IS NOT NULL AS ina,
              |    b.o_orderkey IS NOT NULL AS inb,
              |    a.o_totalprice AS old_o_totalprice,
              |    b.o_totalprice AS new_o_totalprice,
              |    a.o_orderstatus AS old_o_orderstatus,
              |    b.o_orderstatus AS new_o_orderstatus
              |  FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey),
              |d AS (SELECT o_orderkey,
              |    CASE WHEN NOT ina THEN 'I' WHEN NOT inb THEN 'D'
              |         ELSE 'U' END AS op,
              |    CASE WHEN ina AND inb THEN concat_ws(',',
              |        CASE WHEN old_o_totalprice IS DISTINCT FROM new_o_totalprice
              |             THEN 'o_totalprice' END,
              |        CASE WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
              |             THEN 'o_orderstatus' END)
              |      ELSE '' END AS changed_cols,
              |    old_o_totalprice, new_o_totalprice,
              |    old_o_orderstatus, new_o_orderstatus
              |  FROM j)
              |SELECT * FROM d WHERE op <> 'U' OR changed_cols <> ''
              |ORDER BY o_orderkey""".stripMargin)),

    "j21_hierarchy_flatten" -> Q((s, dir) => {
      // Recursive hierarchy flattening (operators/Hierarchy): per node
      // its root, depth, and root→node label path — Spark has no
      // recursive CTE, so the operator pointer-DOUBLES (⌈log₂ depth⌉+1
      // self-joins of the node-sized state frame, the components
      // labeler's technique applied to trees). Forest derives from
      // customer by key arithmetic (parent = custkey div 10, roots
      // < 10 — a ~4-level tree at sf0.01, ~7 at sf10; same formula in
      // the oracle, which walks it with a real recursive CTE — the
      // engines must agree on every path string).
      val nodes = T(s, dir, "customer").select(
        col("c_custkey").as("id"),
        when(col("c_custkey") >= 10, expr("c_custkey div 10")).as("parent"),
        concat(lit("n"), col("c_custkey")).as("label"))
      graft.operators.Hierarchy.flatten(nodes, "id", "parent", "label",
          maxDepth = 64)
        .orderBy("id")
    }, Some("""WITH RECURSIVE nodes AS (SELECT c_custkey AS id,
              |    CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END AS parent,
              |    'n' || CAST(c_custkey AS VARCHAR) AS label
              |  FROM customer),
              |walk AS (
              |  SELECT id, id AS root_id, label AS path
              |  FROM nodes WHERE parent IS NULL
              |  UNION ALL
              |  SELECT n.id, w.root_id, w.path || '/' || n.label
              |  FROM nodes n JOIN walk w ON n.parent = w.id)
              |SELECT id, root_id,
              |  CAST(len(string_split(path, '/')) - 1 AS INT) AS depth, path
              |FROM walk ORDER BY id""".stripMargin)),

    "a26_join_size_estimate" -> Q((s, dir) => {
      // Planning-time join-cardinality estimation — the j20 doctrine's
      // other half: before EXECUTING a many-to-many join, estimate its
      // output size from a deterministic 10% row sample. Shape: the
      // orders-by-customer SELF-join (co-order analysis), whose true
      // size is Σ_c n_c² — the quantity that explodes on skewed keys.
      // Estimator: with sample rate p, per-key sampled count m has
      // E[m²] = p²n² + p(1−p)n, so Σ̂ = Σ[(m²−m)/p² + m/p] is unbiased
      // for Σn²; at p = 10% the multipliers are INTEGERS (100, 10), so
      // the whole estimate is exact BIGINT arithmetic — the oracle
      // replays it bit-for-bit, only the final rel_err divides. The
      // rate matches the corpus: the pair term needs ≥2 sampled rows
      // per key, so p must be ~1/√n̄ — here n̄≈10 rows/customer; a
      // 100 TB fact with thousand-row keys (where join blowup actually
      // threatens) gets the same error from 0.1%. No join ever runs.
      val o = T(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      val exact = o.groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("exact_pairs"))
      val est = graft.operators.Skew.profileSample(o, "o_orderkey",
          bps = 1000, salt = "jsz")
        .groupBy("o_custkey").agg(count(lit(1)).as("m"))
        .agg(sum((col("m") * col("m") - col("m")) * lit(100L) +
          col("m") * lit(10L)).as("est_pairs"))
      exact.crossJoin(est).select(
        col("exact_pairs"), col("est_pairs"),
        ((col("est_pairs") - col("exact_pairs")).cast("double") /
          col("exact_pairs").cast("double") * lit(100.0)).as("rel_err_pct"))
    }, Some("""WITH n AS (SELECT count(*) AS n FROM orders GROUP BY o_custkey),
              |ex AS (SELECT CAST(SUM(n * n) AS BIGINT) AS exact_pairs FROM n),
              |smp AS (SELECT o_custkey FROM orders
              |  WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
              |    || 'jsz'), 1, 8))::BIGINT % 10000 < 1000),
              |m AS (SELECT count(*) AS m FROM smp GROUP BY o_custkey),
              |es AS (SELECT CAST(SUM((m * m - m) * 100 + m * 10) AS BIGINT)
              |    AS est_pairs FROM m)
              |SELECT exact_pairs, est_pairs,
              |  (CAST(est_pairs - exact_pairs AS DOUBLE)
              |    / CAST(exact_pairs AS DOUBLE)) * 100.0 AS rel_err_pct
              |FROM ex, es""".stripMargin)),

    "s16_bucketed_colocated_join" -> Q((s, dir) => {
      // Redshift distkey analog (SURVEY §4): both sides bucketed on the
      // join key at write time, so the fact-dim join reads co-located
      // buckets and plans an exchange-free sort-merge join — at 100 TB
      // the standing tables never re-shuffle for this key, only the
      // daily increment pays a write-side shuffle. The MERGE hint pins
      // SMJ (a broadcast would also be fine but wouldn't exercise the
      // bucket path); PlanGuardsSpec asserts zero Exchange under the
      // join. Oracle is the plain unbucketed join — bucketing must not
      // change results, only the plan.
      Tables.ensureDatabase(s, "graft_w")
      Tables.overwriteBucketed(T(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_w.s16_orders", "o_custkey", 8)
      Tables.overwriteBucketed(T(s, dir, "customer")
        .select("c_custkey", "c_mktsegment"),
        "graft_w.s16_cust", "c_custkey", 8)
      val o = s.read.table("graft_w.s16_orders")
      val c = s.read.table("graft_w.s16_cust")
      o.hint("MERGE").join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
        .orderBy("c_mktsegment")
    }, Some("""SELECT c_mktsegment, count(*) AS order_cnt,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
              |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    "s11_ddl_catalog" -> Q((s, dir) => {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_ddl")
      s.sql("DROP TABLE IF EXISTS graft_ddl.nation_ctas")
      T(s, dir, "nation").createOrReplaceTempView("graft_nation_src")
      s.sql("CREATE TABLE graft_ddl.nation_ctas USING parquet AS SELECT * FROM graft_nation_src")
      assert(s.sql("SHOW TABLES IN graft_ddl").count() >= 1)
      s.sql("""SELECT n_regionkey, count(*) AS n FROM graft_ddl.nation_ctas
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    }, Some("SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")),

    "s3_ingest_batch_metadata" -> Q((s, dir) => {
      // §2.12 ingest_batch: CSV scan S1 + lineage metadata + append S6,
      // exercised through the real bronze path (graft.sources.Ingest).
      import org.apache.spark.sql.types._
      val out = Measure.tempDir("graft_s3")
      T(s, dir, "region").coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(s"$out/csv")
      graft.sources.Tables.ensureDatabase(s, "graft_w")
      graft.sources.Tables.dropTable(s, "graft_w.s3_bronze_region")
      val schema = StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))
      val n = graft.sources.Ingest.ingestBatch(s, s"$out/csv", schema,
        "graft_w.s3_bronze_region", batchId = Some(99L))
      assert(n == 5, s"expected 5 ingested rows, got $n")
      s.read.table("graft_w.s3_bronze_region")
        .select(col("r_regionkey"), col("r_name"), col("_batch_id"),
          col("_source_file").contains("csv").as("src_file_ok"),
          col("_ingestion_timestamp").isNotNull.as("ingest_ts_ok"))
        .orderBy("r_regionkey")
    }, Some("""SELECT r_regionkey, r_name, CAST(99 AS BIGINT) AS _batch_id,
              |  TRUE AS src_file_ok, TRUE AS ingest_ts_ok
              |FROM region ORDER BY r_regionkey""".stripMargin)),

    // ----- §2.2 projections / filters -----------------------------------
    "p1_notnull_filter" -> Q((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem
             |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    "p2_comparison_filter" -> Q((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_discount") > 0.02)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_discount FROM lineitem
             |WHERE l_quantity >= 30 AND l_discount > 0.02
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    "p3_negated_isin" -> Q((s, dir) =>
      T(s, dir, "orders")
        .filter(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS cnt FROM orders
             |WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "p4_flag_equality_filter" -> Q((s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag", "l_linestatus")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag, l_linestatus FROM lineitem
             |WHERE l_returnflag = 'R' AND l_linestatus = 'F'
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    "p5_wide_projection_alias" -> Q((s, dir) =>
      T(s, dir, "lineitem").select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("l_partkey").as("part_key"),
        col("l_suppkey").as("supp_key"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("extended_price"),
        col("l_discount").as("discount_rate"),
        col("l_tax").as("tax_rate"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        col("l_returnflag").as("return_flag"),
        col("l_linestatus").as("line_status"),
        col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("order_key", "line_number", "part_key", "supp_key"),
      Some("""SELECT l_orderkey AS order_key, l_linenumber AS line_number,
             |  l_partkey AS part_key, l_suppkey AS supp_key, l_quantity AS quantity,
             |  l_extendedprice AS extended_price, l_discount AS discount_rate,
             |  l_tax AS tax_rate, l_extendedprice * (1.0 - l_discount) AS net_price,
             |  l_returnflag AS return_flag, l_linestatus AS line_status,
             |  CAST(l_shipdate AS DATE) AS ship_date
             |FROM lineitem ORDER BY order_key, line_number, part_key, supp_key""".stripMargin)),

    "p6_cleaning_chain" -> Q((s, dir) =>
      T(s, dir, "customer").select(
        col("c_custkey"),
        Funcs.normCode(col("c_name")).as("cust_name"),
        col("c_acctbal").cast("decimal(12,2)").cast("double").as("acct_balance"),
        coalesce(nullif(trim(col("c_mktsegment")), lit("")), lit("UNKNOWN")).as("segment"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(trim(c_name)) AS cust_name,
             |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acct_balance,
             |  COALESCE(NULLIF(trim(c_mktsegment), ''), 'UNKNOWN') AS segment
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "p7_prejoin_projection" -> Q((s, dir) => {
      val o = T(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = T(s, dir, "customer").select("c_custkey", "c_mktsegment")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
        .orderBy("o_orderkey")
    }, Some("""SELECT o.o_orderkey, c.c_mktsegment
              |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |ORDER BY o.o_orderkey""".stripMargin)),

    // ----- §2.3 joins ---------------------------------------------------
    "j1_inner_join" -> Q((s, dir) =>
      T(s, dir, "lineitem").alias("l")
        .join(T(s, dir, "orders").alias("o"),
          col("l.l_orderkey") === col("o.o_orderkey"), "inner")
        .select(col("l.l_orderkey"), col("l.l_linenumber"), col("l.l_partkey"),
          col("l.l_suppkey"), col("o.o_orderstatus"), col("l.l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
             |  o.o_orderstatus, l.l_quantity
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey""".stripMargin), bench = true),

    "j2_left_outer_join" -> Q((s, dir) =>
      T(s, dir, "orders").alias("o")
        .join(T(s, dir, "customer").alias("c"),
          col("o.o_custkey") === col("c.c_custkey"), "left")
        .select(col("o.o_orderkey"), col("c.c_name"), col("c.c_mktsegment"))
        .orderBy("o_orderkey"),
      Some("""SELECT o.o_orderkey, c.c_name, c.c_mktsegment
             |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             |ORDER BY o.o_orderkey""".stripMargin)),

    "j3_left_join_coalesce" -> Q((s, dir) => {
      // dim_policy shape (J3): entity ⟕ per-entity aggregate + COALESCE defaults.
      val summary = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("order_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total_spent"))
      T(s, dir, "customer").alias("c")
        .join(summary.alias("os"), col("c.c_custkey") === col("os.o_custkey"), "left")
        .select(col("c.c_custkey"), col("c.c_name"),
          coalesce(col("os.order_cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("os.total_spent"), lit(0).cast("decimal(18,2)"))
            .cast("double").as("total_spent"))
        .orderBy("c_custkey")
    }, Some("""WITH os AS (
              |  SELECT o_custkey, count(*) AS order_cnt,
              |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
              |  FROM orders GROUP BY o_custkey)
              |SELECT c.c_custkey, c.c_name,
              |  COALESCE(os.order_cnt, 0) AS order_cnt,
              |  CAST(COALESCE(os.total_spent, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
              |FROM customer c LEFT JOIN os ON c.c_custkey = os.o_custkey
              |ORDER BY c.c_custkey""".stripMargin), bench = true),

    "j4_left_join_narrow" -> Q((s, dir) =>
      T(s, dir, "lineitem").alias("l")
        .join(T(s, dir, "part").select("p_partkey", "p_brand").alias("p"),
          col("l.l_partkey") === col("p.p_partkey"), "left")
        .select(col("l.l_orderkey"), col("l.l_linenumber"), col("l.l_partkey"),
          col("l.l_suppkey"), col("p.p_brand"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, p.p_brand
             |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
             |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey""".stripMargin)),

    "j5_left_anti_join" -> Q((s, dir) =>
      T(s, dir, "customer")
        .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    "j6_left_isnull_anti" -> Q((s, dir) => {
      // Anti-join idiom: left join + IS NULL (assert_policy_has_property.sql).
      val liSupp = T(s, dir, "lineitem").select(col("l_suppkey")).distinct()
      T(s, dir, "supplier").alias("s")
        .join(liSupp.alias("li"), col("s.s_suppkey") === col("li.l_suppkey"), "left")
        .filter(col("li.l_suppkey").isNull)
        .select(col("s.s_suppkey"))
        .orderBy("s_suppkey")
    }, Some("""SELECT s_suppkey FROM supplier s
              |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
              |ORDER BY s_suppkey""".stripMargin)),

    "j7_self_alias_join" -> Q((s, dir) =>
      T(s, dir, "nation").alias("n1")
        .join(T(s, dir, "nation").alias("n2"),
          col("n1.n_regionkey") === col("n2.n_regionkey") &&
            col("n1.n_nationkey") < col("n2.n_nationkey"))
        .select(col("n1.n_name").as("nation_a"), col("n2.n_name").as("nation_b"),
          col("n1.n_regionkey").as("region_key"))
        .orderBy("nation_a", "nation_b"),
      Some("""SELECT n1.n_name AS nation_a, n2.n_name AS nation_b,
             |  n1.n_regionkey AS region_key
             |FROM nation n1 JOIN nation n2
             |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
             |ORDER BY nation_a, nation_b""".stripMargin)),

    "j9_salted_skew_join" -> Q((s, dir) => {
      // Skew-mitigation path (operators/Skew): hot join keys spread over
      // (key, salt) reducers; semantics must equal the plain inner join,
      // which is exactly what the oracle runs. Aggregated so the gate
      // output is stable regardless of salt assignment.
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity"))
      val o = T(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, o, "k", saltFactor = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }, Some("""SELECT o.o_orderstatus, count(*) AS cnt,
              |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin)),

    "j17_salted_skew_customer" -> Q((s, dir) => {
      // The salted join on the CUSTOMER key — the key the skew octave
      // (StressDataGen "skew": customer 0 takes ~1% of all orders, so
      // ~1% of the fact) actually makes hot. j9 salts the orderkey,
      // which stays uniform in every corpus; this gate is the one whose
      // salted (key, salt) spread does real work on skewed data, and its
      // oracle is the plain join it must equal. saltFactor 16 ≈ hot-key
      // share × shuffle partitions at the stress scale.
      val fact = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .join(T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("k"), col("l_extendedprice"))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(fact, cust, "k", saltFactor = 16)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("c_mktsegment")
    }, Some("""SELECT c.c_mktsegment, count(*) AS cnt,
              |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
              |    AS sum_price
              |FROM lineitem l
              |JOIN orders o ON l.l_orderkey = o.o_orderkey
              |JOIN customer c ON o.o_custkey = c.c_custkey
              |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin),
      bench = true),

    "j18_skew_profile" -> Q((s, dir) => {
      // The DIAGNOSTIC that drives the skewed-key doctrine (PLANS.md,
      // measured in STRESS_r13 §1): top-k hottest join keys with their
      // row share, the number a pipeline reads BEFORE choosing
      // plain/AQE vs salted vs broadcast. One map-side-combined
      // aggregate over the fact key + a k-row sort — the profile is
      // O(distinct keys) shuffled, never O(rows). Tie-broken on the
      // key so the cut is deterministic on uniform corpora.
      graft.operators.Skew.keySkewProfile(
          T(s, dir, "orders").select(col("o_custkey")), "o_custkey", 10)
        .select(col("o_custkey"), col("rows").as("key_rows"), col("share"))
    }, Some("""SELECT o_custkey, count(*) AS key_rows,
              |  count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM orders) AS share
              |FROM orders GROUP BY o_custkey
              |ORDER BY key_rows DESC, o_custkey LIMIT 10""".stripMargin)),

    "j19_adaptive_skew_join" -> Q((s, dir) => {
      // The DOCTRINE as an operator (Skew.adaptiveJoin): broadcast when
      // the dim fits, salt when the profiled head-key share clears the
      // measured ~10% crossover (STRESS_r13 §1), plain+AQE otherwise —
      // with the decision recorded in a join_strategy column. Two
      // configs through the SAME operator: defaults (customer fits →
      // broadcast at every sf) and maxBroadcastRows = 0 (broadcast
      // forbidden → the share-based branch: plain on uniform corpora,
      // salted on the skew octaves, where customer 0 clears 10%). The
      // oracle replays the decision tree from counts it computes
      // itself, so the gate is corpus-dependent: the same query text
      // verifies 'plain' at sf0.01 and 'salted' on /tmp/stress10_skew25.
      // All branches must equal the plain inner join (aggregated so the
      // output is salt-assignment invariant).
      val orders = T(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("join_strategy", "c_mktsegment")
          .agg(count(lit(1)).as("order_cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
      agg(graft.operators.Skew.adaptiveJoin(orders, cust, "c_custkey"))
        .unionByName(agg(graft.operators.Skew.adaptiveJoin(
          orders, cust, "c_custkey", maxBroadcastRows = 0L)))
        .orderBy("join_strategy", "c_mktsegment")
    }, Some("""WITH share AS (SELECT max(n)::DOUBLE / sum(n)::DOUBLE AS sh
              |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_custkey)),
              |dim AS (SELECT count(*) AS n FROM customer),
              |sa AS (SELECT CASE WHEN (SELECT n FROM dim) <= 1000000
              |    THEN 'broadcast'
              |    WHEN (SELECT sh FROM share) > 0.10 THEN 'salted'
              |    ELSE 'plain' END AS strat),
              |sb AS (SELECT CASE WHEN (SELECT n FROM dim) <= 0
              |    THEN 'broadcast'
              |    WHEN (SELECT sh FROM share) > 0.10 THEN 'salted'
              |    ELSE 'plain' END AS strat),
              |agg AS (SELECT c.c_mktsegment, count(*) AS order_cnt,
              |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |      AS total_price
              |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |  GROUP BY c.c_mktsegment)
              |SELECT (SELECT strat FROM sa) AS join_strategy,
              |  c_mktsegment, order_cnt, total_price FROM agg
              |UNION ALL
              |SELECT (SELECT strat FROM sb), c_mktsegment, order_cnt, total_price
              |FROM agg
              |ORDER BY join_strategy, c_mktsegment""".stripMargin),
      bench = true),

    "j20_sampled_skew_profile" -> Q((s, dir) => {
      // The SAMPLED profile path of the doctrine join (Skew.profileSample
      // → adaptiveJoin(profileOn=…)) — the 100 TB spelling, where the
      // strategy decision reads a 1% md5-bucket row sample instead of
      // the full fact (the head-key SHARE is scale-free, so a uniform
      // row sample estimates it with tight relative error on exactly
      // the keys that matter). Broadcast is forbidden (maxBroadcastRows
      // = 0) so the share branch is what's exercised; the EXACT profile
      // runs beside it through the same operator and both strategies
      // land in the output, so the gate proves DECISION STABILITY:
      // sampled and exact must pick the same branch on this corpus —
      // 'plain' on the uniform driver data, 'salted' on the skew
      // octaves, where the hot key dominates any 1% sample too. The
      // oracle replays the md5-bucket sample row-for-row and both
      // decision trees from its own counts, so a sample-spelling drift,
      // a wrong threshold, or a nondeterministic (rand) sample
      // diverges. Join results are aggregated salt-invariantly and must
      // be identical in every branch.
      import graft.operators.Skew
      val orders = T(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"),
          col("o_orderkey"))
      val cust = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val sample = Skew.profileSample(orders, "o_orderkey", bps = 100)
        .select("c_custkey")
      def agg(cfg: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy("join_strategy", "c_mktsegment")
          .agg(count(lit(1)).as("order_cnt"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total_price"))
          .select(lit(cfg).as("cfg"), col("join_strategy"),
            col("c_mktsegment"), col("order_cnt"), col("total_price"))
      agg("exact", Skew.adaptiveJoin(orders, cust, "c_custkey",
          maxBroadcastRows = 0L))
        .unionByName(agg("sampled_1pct", Skew.adaptiveJoin(orders, cust,
          "c_custkey", maxBroadcastRows = 0L, profileOn = Some(sample))))
        .orderBy("cfg", "join_strategy", "c_mktsegment")
    }, Some("""WITH f AS (SELECT o_custkey AS k, o_totalprice, o_orderkey
              |  FROM orders),
              |ex AS (SELECT max(n)::DOUBLE / sum(n)::DOUBLE AS sh
              |  FROM (SELECT count(*) AS n FROM f GROUP BY k)),
              |smp AS (SELECT k FROM f
              |  WHERE ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
              |    || 'skewprof'), 1, 8))::BIGINT % 10000 < 100),
              |sx AS (SELECT CASE WHEN count(*) = 0 THEN 0.0
              |    ELSE max(n)::DOUBLE / sum(n)::DOUBLE END AS sh
              |  FROM (SELECT count(*) AS n FROM smp GROUP BY k)),
              |se AS (SELECT CASE WHEN (SELECT sh FROM ex) > 0.10
              |  THEN 'salted' ELSE 'plain' END AS strat),
              |ss AS (SELECT CASE WHEN (SELECT sh FROM sx) > 0.10
              |  THEN 'salted' ELSE 'plain' END AS strat),
              |agg AS (SELECT c.c_mktsegment, count(*) AS order_cnt,
              |    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |      AS total_price
              |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |  GROUP BY c.c_mktsegment)
              |SELECT 'exact' AS cfg, (SELECT strat FROM se) AS join_strategy,
              |  c_mktsegment, order_cnt, total_price FROM agg
              |UNION ALL
              |SELECT 'sampled_1pct', (SELECT strat FROM ss),
              |  c_mktsegment, order_cnt, total_price FROM agg
              |ORDER BY cfg, join_strategy, c_mktsegment""".stripMargin)),

    "j10_bloom_prune_join" -> Q((s, dir) => {
      // Bloom semi-join reduction (operators/BloomPrune): the fact side
      // is pruned by a constant-size sketch of the selective dim keys
      // BEFORE the join shuffle; false positives die in the exact join,
      // so the result is identical to the plain join the oracle runs —
      // only the shuffled volume differs (by the join selectivity).
      val urgent = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val li = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      graft.operators.BloomPrune
        .prunedEquiJoin(li, "l_orderkey", urgent, "o_orderkey",
          expectedItems = 100000L, fpp = 0.01)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }, Some("""SELECT o.o_orderstatus, count(*) AS cnt,
              |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM lineitem l
              |JOIN orders o ON l.l_orderkey = o.o_orderkey
              |WHERE o.o_orderpriority = '1-URGENT'
              |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
      ), bench = true),

    "j11_range_bucket_join" -> Q((s, dir) => {
      import s.implicits._
      // Point-in-interval join via the bucketed equi-join rewrite
      // (operators/RangeJoin): a plain BETWEEN theta-join (what the
      // oracle runs) would plan nested-loop at scale; the rewrite
      // shuffles on bucket ids instead. Bands OVERLAP deliberately —
      // a row can land in several, which a naive "assign one bucket
      // per row" groupBy cannot express.
      val bands = Seq(
        (0, "low", 1, 10), (1, "mid", 5, 25),
        (2, "high", 20, 50), (3, "all", 1, 50))
        .toDF("band_id", "band_name", "lo", "hi")
      val pts = T(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qty"),
          col("l_extendedprice"))
      graft.operators.RangeJoin
        .pointInInterval(pts, "qty", bands, "lo", "hi", bucketSize = 8L)
        .groupBy("band_id", "band_name")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("band_id")
    }, Some("""WITH bands(band_id, band_name, lo, hi) AS (VALUES
              |  (0, 'low', 1, 10), (1, 'mid', 5, 25),
              |  (2, 'high', 20, 50), (3, 'all', 1, 50))
              |SELECT b.band_id, b.band_name, count(*) AS cnt,
              |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM lineitem l JOIN bands b
              |  ON CAST(l.l_quantity AS INT) BETWEEN b.lo AND b.hi
              |GROUP BY b.band_id, b.band_name ORDER BY b.band_id""".stripMargin,
      ), bench = true),

    "j12_range_rewrite_rule" -> Q((s, dir) => {
      import s.implicits._
      // The OPTIMIZER-RULE form of j11 (plans/RangeJoinRewrite): the
      // query below is the naive BETWEEN theta-join a user would write;
      // the session's rule rewrites it to the bucketed equi-join during
      // optimization once a bucket width is set. localCheckpoint
      // materializes while the width is set (the driver's write happens
      // after this fn returns, by which time the width is unset again so
      // other queries' plans stay untouched). PlansStreamingSpec asserts
      // the plan shape.
      import graft.plans.RangeJoinRewrite
      val bands = Seq(
        (0, "low", 1, 10), (1, "mid", 5, 25),
        (2, "high", 20, 50), (3, "all", 1, 50))
        .toDF("band_id", "band_name", "lo", "hi")
      val pts = T(s, dir, "lineitem")
        .select(col("l_quantity").cast("int").as("qty"))
      s.conf.set(RangeJoinRewrite.BucketSizeKey, "8")
      try {
        pts.join(bands, col("qty") >= col("lo") && col("qty") <= col("hi"))
          .groupBy("band_id", "band_name")
          .agg(count(lit(1)).as("cnt"),
            sum(col("qty").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("band_id")
          .localCheckpoint(true)
      } finally s.conf.unset(RangeJoinRewrite.BucketSizeKey)
    }, Some("""WITH bands(band_id, band_name, lo, hi) AS (VALUES
              |  (0, 'low', 1, 10), (1, 'mid', 5, 25),
              |  (2, 'high', 20, 50), (3, 'all', 1, 50))
              |SELECT b.band_id, b.band_name, count(*) AS cnt,
              |  CAST(SUM(CAST(CAST(l.l_quantity AS INT) AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
              |FROM lineitem l JOIN bands b
              |  ON CAST(l.l_quantity AS INT) BETWEEN b.lo AND b.hi
              |GROUP BY b.band_id, b.band_name ORDER BY b.band_id""".stripMargin)),

    // ----- §2.4 aggregations -------------------------------------------
    "a1_groupby_multiagg" -> Q((s, dir) =>
      // TPC-H Q1 shape: the canonical hash-agg with map-side combine.
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             |  MIN(l_quantity) AS min_qty,
             |  MAX(l_extendedprice) AS max_price,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin), bench = true),

    "a3_conditional_sum" -> Q((s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", col("o_totalprice").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("total_f"),
          count(when(col("o_orderstatus") === "O", lit(1))).as("cnt_o"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2))
             |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f,
             |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS cnt_o
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    "a4_global_agg" -> Q((s, dir) =>
      T(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        min(col("l_shipdate").cast("date")).as("min_ship"),
        max(col("l_shipdate").cast("date")).as("max_ship")),
      Some("""SELECT count(*) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  MIN(CAST(l_shipdate AS DATE)) AS min_ship,
             |  MAX(CAST(l_shipdate AS DATE)) AS max_ship
             |FROM lineitem""".stripMargin)),

    "a5_count_star" -> Q((s, dir) =>
      T(s, dir, "orders").agg(count(lit(1)).as("n_orders")),
      Some("SELECT count(*) AS n_orders FROM orders")),

    "a6_distinct_count" -> Q((s, dir) =>
      T(s, dir, "orders").agg(count_distinct(col("o_custkey")).as("n_cust")),
      Some("SELECT count(DISTINCT o_custkey) AS n_cust FROM orders")),

    "a7_composite_distinct_count" -> Q((s, dir) =>
      T(s, dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
        .agg(count(lit(1)).as("n_pairs")),
      Some("""SELECT count(*) AS n_pairs FROM
             |  (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)""".stripMargin)),

    "a8_select_distinct" -> Q((s, dir) =>
      T(s, dir, "orders").select("o_orderpriority").distinct().orderBy("o_orderpriority"),
      Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority")),

    "a9_freq_distribution" -> Q((s, dir) =>
      T(s, dir, "orders").groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus, count(*) AS cnt FROM orders
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    "a10_null_count" -> Q((s, dir) =>
      T(s, dir, "events").agg(
        count(when(col("props").isNull, lit(1))).as("null_props"),
        count(lit(1)).as("total")),
      Some("""SELECT count(CASE WHEN props IS NULL THEN 1 END) AS null_props,
             |  count(*) AS total FROM events""".stripMargin)),

    "a11_rollup" -> Q((s, dir) =>
      // Beyond reference (SURVEY §2.4 "not present" note): hierarchical
      // subtotals via ROLLUP. Pre-aggregated by the full key first —
      // Spark's Expand replicates its INPUT per grouping set, so the
      // direct rollup pays 3×|lineitem| through Expand while this
      // spelling expands ≤|flag×status| pre-aggregated rows
      // (bit-identical: exact decimal sums of sums, summed counts —
      // the PLANS.md pre-agg-before-rollup doctrine).
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("q_d"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("n")).as("cnt"), sum(col("q_d")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    "a12_cube" -> Q((s, dir) =>
      // Pre-agg before CUBE, same doctrine as a11: Expand sees the
      // ≤|status×priority| group space, not the orders table.
      T(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    "a13_percentiles" -> Q((s, dir) =>
      // Exact continuous percentiles (both engines use the same
      // (1-f)*a + f*b interpolation over the sorted values).
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.95)").as("p95_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.95) AS p95_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "a14_approx_percentile_check" -> Q((s, dir) =>
      // The 100 TB percentile path: approx_percentile is a mergeable
      // constant-size sketch (map-side combinable), where exact
      // percentile materializes every group's values. The sketch value
      // is engine-specific, so the gate compares the VERDICT — the
      // approximation must land within 5% of the exact percentile
      // (guaranteed by the sketch's rank-error bound at this accuracy) —
      // plus the exact values, mirroring dq_approx_distinct.
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("exact_median"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx_median"))
        .select(col("l_returnflag"), col("exact_median"),
          (abs(col("approx_median") - col("exact_median")) <=
            col("exact_median") * 0.05).as("approx_within_5pct"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS exact_median,
             |  TRUE AS approx_within_5pct
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "a15_pivot" -> Q((s, dir) =>
      // Beyond reference (SURVEY §2.4 note): PIVOT — wide conditional
      // aggregation. The value list is EXPLICIT: a values-less pivot
      // first runs a distinct job to discover columns and makes the
      // output schema data-dependent — never acceptable at 100 TB.
      // With the list given, this is one hash aggregate, same cost as
      // the underlying groupBy. Exact decimal SUM, DOUBLE at the gate.
      T(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")))
        .select(col("l_returnflag"),
          coalesce(col("F").cast("double"), lit(0.0)).as("qty_f"),
          coalesce(col("O").cast("double"), lit(0.0)).as("qty_o"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F'
             |    THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_f,
             |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O'
             |    THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS qty_o
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    "a16_unpivot" -> Q((s, dir) =>
      // UNPIVOT/melt — wide metrics to long (metric, value) rows, the
      // shape feature stores and reshape steps need. Narrow op: each
      // input row expands locally to |values| rows, no shuffle beyond
      // the feeding aggregate. Oracle is the UNION ALL formulation.
      T(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast("double").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          min(col("o_totalprice")).cast("double").as("min_price"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("n_orders"), col("sum_price"), col("min_price")),
          "metric", "value")
        .orderBy("o_orderstatus", "metric"),
      Some("""WITH w AS (SELECT o_orderstatus,
             |    CAST(count(*) AS DOUBLE) AS n_orders,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_price
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, metric, value FROM (
             |  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
             |  UNION ALL SELECT o_orderstatus, 'sum_price', sum_price FROM w
             |  UNION ALL SELECT o_orderstatus, 'min_price', min_price FROM w) u
             |ORDER BY o_orderstatus, metric""".stripMargin)),

    "a17_grouping_sets" -> Q((s, dir) => {
      // GROUPING SETS — the general expansion ROLLUP/CUBE specialize
      // (disjoint sets here: per-status, per-priority, grand total in
      // ONE pass over the input instead of three unioned aggregates).
      // grouping() flags disambiguate a real NULL key from a subtotal
      // row — the classic correctness trap of grouping-set outputs.
      T(s, dir, "orders").createOrReplaceTempView("orders_gsets")
      // Pre-agg before the grouping sets (PLANS.md doctrine): Expand
      // replicates the tiny (status, priority) group space, not orders.
      s.sql("""WITH pre AS (
              |  SELECT o_orderstatus, o_orderpriority, count(*) AS n
              |  FROM orders_gsets GROUP BY o_orderstatus, o_orderpriority)
              |SELECT o_orderstatus, o_orderpriority,
              |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
              |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
              |  SUM(n) AS cnt
              |FROM pre
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY g_status, g_priority,
              |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }, Some("""SELECT o_orderstatus, o_orderpriority,
              |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
              |  CAST(grouping(o_orderpriority) AS INT) AS g_priority,
              |  count(*) AS cnt
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY g_status, g_priority,
              |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    "a18_heavy_hitters" -> Q((s, dir) => {
      // Frequent-value mining the sketch way (operators/HeavyHitters):
      // a k-counter Misra-Gries pass (shuffles fixed-size summaries, not
      // one row per distinct key) proposes candidates, an exact pass
      // verifies — output is EXACT, so the plain HAVING oracle matches.
      // Capacity DERIVED from n (capacityFor): the survival guarantee
      // needs capacity+1 > n/threshold, so a fixed k that passes at one
      // scale factor silently loses true heavy keys at 10× — the r5
      // sf0.1 sweep caught exactly that (19/391 keys with k=1024).
      val o = T(s, dir, "orders")
      val cap = graft.operators.HeavyHitters.capacityFor(o.count(), 17L)
      graft.operators.HeavyHitters
        .heavyHitters(o, "o_custkey", minCount = 17L, capacity = cap)
        .orderBy("o_custkey")
    }, Some("""SELECT o_custkey, count(*) AS exact_count FROM orders
              |GROUP BY o_custkey HAVING count(*) >= 17
              |ORDER BY o_custkey""".stripMargin,
      ), bench = true),

    "a19_winsorize" -> Q((s, dir) => {
      // Winsorization — outlier clipping at per-group exact percentiles
      // (the numeric-stability sibling of the repetition text filters):
      // one percentile aggregate, broadcast back, least/greatest clip,
      // re-aggregate. The percentile interpolation is engine-identical
      // (pinned by a13), so clipped values match bit-for-bit.
      val li = T(s, dir, "lineitem")
      val pct = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.05)").as("p05"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"))
      li.join(broadcast(pct), "l_returnflag")
        .select(col("l_returnflag"),
          greatest(least(col("l_extendedprice"), col("p95")), col("p05")).as("clipped"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("clipped").cast("decimal(18,2)")).cast("double").as("sum_clipped"),
          min(col("clipped")).as("min_clipped"),
          max(col("clipped")).as("max_clipped"))
        .orderBy("l_returnflag")
    }, Some("""WITH pct AS (SELECT l_returnflag,
              |    quantile_cont(l_extendedprice, 0.05) AS p05,
              |    quantile_cont(l_extendedprice, 0.95) AS p95
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l.l_returnflag, count(*) AS cnt,
              |  CAST(SUM(CAST(greatest(least(l.l_extendedprice, p.p95), p.p05)
              |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_clipped,
              |  MIN(greatest(least(l.l_extendedprice, p.p95), p.p05)) AS min_clipped,
              |  MAX(greatest(least(l.l_extendedprice, p.p95), p.p05)) AS max_clipped
              |FROM lineitem l JOIN pct p ON l.l_returnflag = p.l_returnflag
              |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    "a20_price_histogram" -> Q((s, dir) =>
      // Equi-width histogram: floor-division bucketing (clamped tail
      // bucket) + one hash aggregate — the distribution profile at scan
      // speed, identical arithmetic in both engines.
      T(s, dir, "orders")
        .select(least(floor(col("o_totalprice").cast("double") / 30000.0), lit(19.0))
          .cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      Some("""SELECT CAST(LEAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 30000.0), 19) AS INT)
             |    AS bucket,
             |  count(*) AS cnt
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    "a21_percent_of_total" -> Q((s, dir) => {
      // Percent-of-total done scale-safely: `sum().over()` with an EMPTY
      // window collapses the whole table into ONE partition — the 100 TB
      // anti-pattern. Instead the grand total is a 1-row aggregate of the
      // (tiny) per-segment frame, broadcast-cross-joined back. Decimal
      // sums keep both engines exact; the division happens in DOUBLE.
      val seg = T(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("seg_total"))
      val grand = seg.agg(sum("seg_total").as("grand_total"))
      seg.crossJoin(broadcast(grand))
        .select(col("o_orderstatus"),
          col("seg_total").cast("double").as("seg_total"),
          (col("seg_total").cast("double") / col("grand_total").cast("double"))
            .as("pct_of_total"))
        .orderBy("o_orderstatus")
    }, Some("""WITH seg AS (SELECT o_orderstatus,
              |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS seg_total
              |  FROM orders GROUP BY o_orderstatus)
              |SELECT o_orderstatus, CAST(seg_total AS DOUBLE) AS seg_total,
              |  CAST(seg_total AS DOUBLE) /
              |    CAST((SELECT SUM(seg_total) FROM seg) AS DOUBLE) AS pct_of_total
              |FROM seg ORDER BY o_orderstatus""".stripMargin)),

    "a23_corr_exact" -> Q((s, dir) => {
      // Engine-portable Pearson correlation — the w8 z-score pattern
      // generalized to a two-variable statistic. Built-in corr() folds
      // doubles in partition order (merge-order-dependent, never
      // hash-comparable across engines), so the gate computes the five
      // moment sums over EXACT integers (milli/centi units; y² routed
      // through decimal — it overflows bigint), then evaluates ONE
      // fixed-shape closed form in double mirrored verbatim in the
      // oracle. The built-in rides along and must agree to 1e-9 —
      // pinning Spark's streaming covariance against the exact form.
      val li = T(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity") * 1000).cast("bigint").as("x"),
        round(col("l_extendedprice") * 100).cast("bigint").as("y"))
      val sums = li.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        // Every moment sum routes through decimal (r7 advice): bigint
        // sums of x*x / x*y wrap SILENTLY (non-ANSI) around sf>=30 —
        // x*y reaches ~5.5e11 per row — producing a wrong corr only
        // visible at that scale. decimal(38,0) holds ~1e13 rows of the
        // largest product; the oracle mirrors with HUGEINT.
        sum(col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
          .cast("double").as("sxx"),
        sum(col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
          .cast("double").as("syy"),
        sum(col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
          .cast("double").as("sxy"),
        corr(col("x").cast("double"), col("y").cast("double")).as("corr_builtin"))
      sums.select(col("l_returnflag"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"),
          (abs(((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            - col("corr_builtin")) < 1e-9).as("builtin_agrees"))
        .orderBy("l_returnflag")
    }, Some("""WITH b AS (SELECT l_returnflag,
              |    CAST(round(l_quantity * 1000) AS BIGINT) AS x,
              |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
              |  FROM lineitem),
              |m AS (SELECT l_returnflag,
              |    CAST(count(*) AS DOUBLE) AS n,
              |    CAST(SUM(x) AS DOUBLE) AS sx,
              |    CAST(SUM(y) AS DOUBLE) AS sy,
              |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
              |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
              |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
              |  FROM b GROUP BY l_returnflag)
              |SELECT l_returnflag,
              |  ((n * sxy - sx * sy) /
              |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
              |    AS corr_qty_price,
              |  TRUE AS builtin_agrees
              |FROM m ORDER BY l_returnflag""".stripMargin)),

    "a24_hll_intersect" -> Q((s, dir) => {
      // Pairwise audience-overlap estimates via sketch inclusion-
      // exclusion (Sketches.intersectEstimates): every event-type pair's
      // shared user count from three constant-size sketch reads — the
      // base table is scanned ONCE (for the per-type sketches). The
      // sketch binary is engine-specific, so the gate emits the exact
      // intersection plus an estimate-within-bound verdict (a22
      // pattern); the bound is 3ε·|A∪B| because inclusion-exclusion
      // compounds the three estimates' errors.
      import graft.operators.Sketches
      val ev = T(s, dir, "events")
      val perType = Sketches.groupSketches(ev, "event_type", "user_id")
      val est = Sketches.intersectEstimates(perType, "event_type")
        .select(col("group_a").as("type_a"), col("group_b").as("type_b"),
          col("est_intersect"))
      val u = ev.select("event_type", "user_id").distinct()
      val exact = u.select(col("event_type").as("type_a"), col("user_id"))
        .join(u.select(col("event_type").as("type_b"), col("user_id")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("exact_intersect"))
      val ex = perType.select(col("event_type").as("type_a"),
        col("exact_distinct").as("_ea"))
      val exB = perType.select(col("event_type").as("type_b"),
        col("exact_distinct").as("_eb"))
      val bound = Sketches.hllBound(12)
      est.join(exact, Seq("type_a", "type_b"), "left")
        .join(ex, "type_a").join(exB, "type_b")
        .select(col("type_a"), col("type_b"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"),
          (abs(col("est_intersect") - coalesce(col("exact_intersect"), lit(0L))) <=
            lit(3 * bound) * (col("_ea") + col("_eb") -
              coalesce(col("exact_intersect"), lit(0L))).cast("double"))
            .as("approx_within_bound"))
        .orderBy("type_a", "type_b")
    }, Some("""WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
              |t AS (SELECT DISTINCT event_type FROM events),
              |p AS (SELECT x.event_type AS type_a, y.event_type AS type_b
              |  FROM t x JOIN t y ON x.event_type < y.event_type),
              |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
              |    count(*) AS exact_intersect
              |  FROM u a JOIN u b
              |    ON a.user_id = b.user_id
              |  WHERE a.event_type < b.event_type
              |  GROUP BY 1, 2)
              |SELECT p.type_a, p.type_b,
              |  coalesce(i.exact_intersect, 0) AS exact_intersect,
              |  TRUE AS approx_within_bound
              |FROM p LEFT JOIN i ON i.type_a = p.type_a AND i.type_b = p.type_b
              |ORDER BY p.type_a, p.type_b""".stripMargin)),

    "a25_distinct_threshold_rewrite" -> Q((s, dir) => {
      // The OPTIMIZER-RULE form of q95's min≠max doctrine
      // (plans/DistinctThresholdRewrite): the HAVING below is the
      // natural count(DISTINCT)-threshold spelling a user writes; the
      // session's rule rewrites it to min(x) <> max(x) during
      // optimization, deleting the per-(group, value) dedup level —
      // the shuffle carries one row per part, not one per (part,
      // supplier). DistinctThresholdRewriteSpec pins semantics (nulls,
      // no-fire guards) and the plan shape.
      T(s, dir, "lineitem").createOrReplaceTempView("a25_lineitem")
      T(s, dir, "part").createOrReplaceTempView("a25_part")
      s.sql("""SELECT p_brand, count(*) AS n_multi_parts
              |FROM (SELECT l_partkey FROM a25_lineitem
              |      GROUP BY l_partkey
              |      HAVING count(DISTINCT l_suppkey) >= 2) m
              |JOIN a25_part ON l_partkey = p_partkey
              |GROUP BY p_brand
              |ORDER BY p_brand""".stripMargin)
    }, Some("""SELECT p_brand, count(*) AS n_multi_parts
             |FROM (SELECT l_partkey FROM lineitem
             |      GROUP BY l_partkey
             |      HAVING count(DISTINCT l_suppkey) >= 2) m
             |JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand
             |ORDER BY p_brand""".stripMargin)),

    "a22_hll_union_check" -> Q((s, dir) => {
      // Mergeable-sketch distinct counting (Sketches.groupSketches /
      // unionEstimate): per-type HLL sketches of the user universe roll
      // up to a GLOBAL distinct estimate by merging the constant-size
      // sketches — the base table is read once; exact count(DISTINCT)
      // would re-shuffle the full key universe for every grain. The
      // sketch binary is engine-specific, so the gate emits the exact
      // value plus the estimate-within-bound verdict (a14 pattern).
      import graft.operators.Sketches
      val ev = T(s, dir, "events")
      val perType = Sketches.groupSketches(ev, "event_type", "user_id")
      val bound = Sketches.hllBound(12)
      val typed = perType.select(
        col("event_type").as("scope"), col("exact_distinct"),
        (abs(hll_sketch_estimate(col("hll_sketch")) - col("exact_distinct"))
          <= col("exact_distinct") * bound).as("approx_within_bound"))
      val globalRow = Sketches.unionEstimate(perType)
        .crossJoin(ev.agg(count_distinct(col("user_id")).as("exact_distinct")))
        .select(lit("ALL").as("scope"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct"))
            <= col("exact_distinct") * bound).as("approx_within_bound"))
      typed.unionByName(globalRow).orderBy("scope")
    }, Some("""SELECT event_type AS scope,
              |  count(DISTINCT user_id) AS exact_distinct,
              |  TRUE AS approx_within_bound
              |FROM events GROUP BY event_type
              |UNION ALL
              |SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
              |ORDER BY scope""".stripMargin)),

    // ----- §2.5 generator (W1 date spine via dim_date) ------------------
    "w1_dim_date_spine" -> Q((s, _) =>
      graft.operators.GoldDims.buildDimDate(s, "2020-01-01", "2022-01-01")
        .orderBy("date_key"),
      Some(RelationalQueries.dimDateOracle)),

    // ----- §2.6 sorts / limits -----------------------------------------
    "o1_orderby_sort" -> Q((s, dir) =>
      T(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin), bench = true),

    "o2_having_orderby" -> Q((s, dir) =>
      T(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("order_count"))
        .filter(col("order_count") > 15)
        .orderBy(col("order_count").desc, col("o_custkey")),
      Some("""SELECT o_custkey, count(*) AS order_count FROM orders
             |GROUP BY o_custkey HAVING count(*) > 15
             |ORDER BY order_count DESC, o_custkey""".stripMargin)),

    "o3_limit_sample" -> Q((s, dir) =>
      T(s, dir, "orders").orderBy("o_orderkey").limit(10)
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus FROM
             |  (SELECT * FROM orders ORDER BY o_orderkey LIMIT 10)
             |ORDER BY o_orderkey""".stripMargin)),

    "o4_seeded_sample" -> Q((s, dir) =>
      // Deterministic "random" sample: order by a content hash, take N
      // (the reproducible stand-in for MIGRATION_PLAYBOOK.md:235's
      // 1000-row random sample compare).
      T(s, dir, "orders")
        .orderBy(md5(col("o_orderkey").cast("string")))
        .limit(200)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM
             |  (SELECT * FROM orders ORDER BY md5(CAST(o_orderkey AS VARCHAR)) LIMIT 200)
             |ORDER BY o_orderkey""".stripMargin)),

    "o5_topk_per_group" -> Q((s, dir) => {
      // Top-k per group via windowed rank — the distributed top-k that
      // never collects a global sort: one shuffle on the group key, heap
      // per partition. (A global orderBy+limit can't express per-group
      // k; a groupBy+sort-in-UDF would leave codegen.)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk")
    }, Some("""SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
              |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              |        ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
              |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),

    "o8_topk_heap_agg" -> Q((s, dir) => {
      // The SAME top-3-per-customer as o5, but through the bounded-heap
      // aggregate (plans/TopKByScore) instead of a window rank: map
      // tasks reduce to <=k entries per group BEFORE the shuffle, so
      // the exchange carries heaps, not the fact table — the per-key
      // TakeOrdered shape. Shares o5's oracle verbatim: both spellings
      // must agree row-for-row (and the plan guard pins that this one
      // plans no WindowExec and exactly one exchange).
      val top = T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.plans.TopKByScore.topK(
          col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      top.select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }, Some("""SELECT o_custkey, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
              |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              |        ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
              |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),

    "o6_zorder_morton" -> Q((s, dir) => {
      // Z-order clustering key (operators/ZOrder): bit-interleave two
      // dimensions into one sort key so range-partitioned output files
      // are rectangles in (ca, cb) space — min/max pruning then works
      // on EITHER predicate column, where a single-column sort prunes
      // only its own. The gate checks the Morton code itself (pure
      // integer shifts both engines reproduce); the layout property is
      // asserted in ScaleOpsSpec.
      val o = T(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") % 256).as("ca"),
          (col("o_orderkey") % 256).as("cb"))
      o.select(col("o_orderkey"), col("ca"), col("cb"),
          graft.operators.ZOrder.mortonCode(col("ca"), col("cb"), 8).as("z"))
        .orderBy("z", "o_orderkey")
    }, Some({
      val zSql = (0 until 8).map(i =>
        s"((ca // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
          s"((cb // ${1L << i}) % 2) * ${1L << (2 * i)}").mkString(" + ")
      s"""WITH b AS (SELECT o_orderkey, o_custkey % 256 AS ca,
         |    o_orderkey % 256 AS cb FROM orders)
         |SELECT o_orderkey, ca, cb, CAST($zSql AS BIGINT) AS z
         |FROM b ORDER BY z, o_orderkey""".stripMargin
    })),

    "o7_weighted_sample" -> Q((s, dir) => {
      // Weighted sampling without replacement (Efraimidis–Spirakis via
      // exponential keys): e_i = -ln(u_i)/w_i ~ Exp(w_i); the k SMALLEST
      // keys are a weighted sample ∝ o_totalprice. u_i is an md5-derived
      // uniform (the hash-split pattern) — no RNG state, so the sample is
      // reproducible across engines, runs, AND partition layouts, unlike
      // rand(seed)/TABLESAMPLE whose per-partition seeding reshuffles
      // with the layout. Global top-k = orderBy().limit(k) →
      // TakeOrderedAndProject (per-partition heaps, k rows to the
      // driver); the key is one correctly-rounded expression shape
      // mirrored in the oracle, rounded to 12 digits so no engine's ulp
      // can reorder the boundary (ids break residual ties).
      val o = T(s, dir, "orders")
      val bucket = conv(substring(md5(concat(lit("ws_"),
        col("o_orderkey").cast("string"))), 1, 8), 16, 10).cast("long")
      val u = (bucket.cast("double") + lit(1.0)) / lit(4294967297.0)
      o.select(col("o_orderkey"), col("o_totalprice").as("weight"),
          round(-log(u) / col("o_totalprice"), 12).as("es_key"))
        .orderBy(col("es_key"), col("o_orderkey"))
        .limit(100)
    }, Some("""SELECT o_orderkey, o_totalprice AS weight,
              |  round(-ln((('0x' || substring(md5('ws_' ||
              |      CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT + 1.0)
              |    / 4294967297.0) / o_totalprice, 12) AS es_key
              |FROM orders ORDER BY es_key, o_orderkey LIMIT 100""".stripMargin)),

    // ----- §2.7 set ops -------------------------------------------------
    "u1_union_by_name" -> Q((s, dir) => {
      val o = T(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val b = o.filter(col("o_orderstatus") === "F")
        .select("o_totalprice", "o_orderkey", "o_orderstatus") // shuffled column order
      a.unionByName(b).orderBy("o_orderkey")
    }, Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              |WHERE o_orderstatus IN ('O', 'F') ORDER BY o_orderkey""".stripMargin)),

    "u2_intersect" -> Q((s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    }, Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              |INTERSECT
              |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              |ORDER BY o_custkey""".stripMargin)),

    "u3_except" -> Q((s, dir) => {
      val o = T(s, dir, "orders")
      o.select("o_custkey")
        .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }, Some("""SELECT DISTINCT o_custkey FROM orders
              |EXCEPT
              |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
              |ORDER BY o_custkey""".stripMargin)),

    // ----- §2.8 scalar functions ---------------------------------------
    "f1_string_funcs" -> Q((s, dir) =>
      T(s, dir, "customer").select(
        col("c_custkey"),
        trim(col("c_name")).as("name_trim"),
        upper(trim(col("c_name"))).as("name_upper"),
        concat_ws(" ", trim(col("c_name")), trim(col("c_mktsegment"))).as("name_seg"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 5).as("name_prefix"),
        Funcs.maskName(col("c_name")).as("name_masked"),
        Funcs.maskEmail(concat(col("c_name"), lit("@example.com"))).as("email_masked"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |  trim(c_name) AS name_trim,
             |  upper(trim(c_name)) AS name_upper,
             |  concat_ws(' ', trim(c_name), trim(c_mktsegment)) AS name_seg,
             |  length(c_name) AS name_len,
             |  substring(c_name, 1, 5) AS name_prefix,
             |  substring(c_name, 1, 1) || repeat('*', length(c_name) - 1) AS name_masked,
             |  substring(c_name || '@example.com', 1, 2) || '***@***.***' AS email_masked
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "f4_surrogate_key" -> Q((s, dir) =>
      T(s, dir, "orders").select(
        col("o_orderkey"),
        Funcs.surrogateKey(col("o_orderkey"), col("o_orderstatus")).as("order_sk"),
        // _null_ branch: NULLIF makes 'O' rows null inside the key
        Funcs.surrogateKey(nullif(col("o_orderstatus"), lit("O"))).as("status_sk"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  md5(concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), '_null_'),
             |                     COALESCE(o_orderstatus, '_null_'))) AS order_sk,
             |  md5(concat_ws('|', COALESCE(NULLIF(o_orderstatus, 'O'), '_null_'))) AS status_sk
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "f5_cast_chains" -> Q((s, dir) =>
      T(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        col("l_suppkey"),
        col("l_quantity").cast("decimal(12,2)").cast("double").as("qty_dec"),
        col("l_shipdate").cast("date").as("ship_date"),
        col("l_linenumber").cast("string").as("line_str"),
        col("l_orderkey").cast("int").as("order_int"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty_dec,
             |  CAST(l_shipdate AS DATE) AS ship_date,
             |  CAST(l_linenumber AS VARCHAR) AS line_str,
             |  CAST(l_orderkey AS INT) AS order_int
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    "f6_empty_to_null" -> Q((s, dir) => {
      val raw = T(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "O", lit(""))
          .otherwise(col("o_orderdate").cast("date").cast("string")).as("raw_closed"))
      raw.select(
        col("o_orderkey"),
        Funcs.emptyToNull(col("raw_closed"), org.apache.spark.sql.types.DateType)
          .as("closed_date"))
        .orderBy("o_orderkey")
    }, Some("""WITH raw AS (
              |  SELECT o_orderkey,
              |    CASE WHEN o_orderstatus = 'O' THEN ''
              |         ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END AS raw_closed
              |  FROM orders)
              |SELECT o_orderkey,
              |  CASE WHEN trim(raw_closed) = '' THEN NULL
              |       ELSE CAST(raw_closed AS DATE) END AS closed_date
              |FROM raw ORDER BY o_orderkey""".stripMargin)),

    "f9_null_guards" -> Q((s, dir) =>
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        Funcs.safeDiv(col("l_extendedprice"), col("l_discount")).as("price_per_disc"),
        least(col("l_quantity"), lit(25.0)).as("qty_capped"),
        nullif(col("l_tax"), lit(0.0)).as("tax_or_null"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             |  l_extendedprice / NULLIF(l_discount, 0) AS price_per_disc,
             |  LEAST(l_quantity, 25.0) AS qty_capped,
             |  NULLIF(l_tax, 0.0) AS tax_or_null
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    "f11_datediff_dateadd" -> Q((s, dir) =>
      T(s, dir, "lineitem").alias("l")
        .join(T(s, dir, "orders").alias("o"),
          col("l.l_orderkey") === col("o.o_orderkey"))
        .select(
          col("l.l_orderkey"), col("l.l_linenumber"), col("l.l_partkey"), col("l.l_suppkey"),
          datediff(col("l.l_shipdate").cast("date"), col("o.o_orderdate").cast("date"))
            .as("days_to_ship"),
          date_add(col("o.o_orderdate").cast("date"), 30).as("due_date"),
          date_sub(col("o.o_orderdate").cast("date"), 7).as("week_before"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
             |  date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS days_to_ship,
             |  CAST(o.o_orderdate AS DATE) + 30 AS due_date,
             |  CAST(o.o_orderdate AS DATE) - 7 AS week_before
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey""".stripMargin)),

    "f13_date_extracts" -> Q((s, dir) =>
      T(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mon"),
        dayofmonth(col("o_orderdate")).as("dom"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
             |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
             |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
             |  CAST(date_part('dow', o_orderdate) AS INT) AS dow,
             |  CAST(date_part('doy', o_orderdate) AS INT) AS doy,
             |  strftime(o_orderdate, '%Y-%m') AS ym
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "f21_isin_case_tiers" -> Q((s, dir) =>
      T(s, dir, "part").select(
        col("p_partkey"),
        col("p_size").isin(1, 5, 10).as("is_sample_size"),
        when(col("p_size") < 10, lit("SMALL"))
          .when(col("p_size") < 25, lit("MEDIUM"))
          .otherwise(lit("LARGE")).as("size_tier"),
        when(col("p_brand").isin("Brand#11", "Brand#12"), lit("PREFERRED"))
          .otherwise(lit("STANDARD")).as("brand_tier"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  p_size IN (1, 5, 10) AS is_sample_size,
             |  CASE WHEN p_size < 10 THEN 'SMALL'
             |       WHEN p_size < 25 THEN 'MEDIUM'
             |       ELSE 'LARGE' END AS size_tier,
             |  CASE WHEN p_brand IN ('Brand#11', 'Brand#12') THEN 'PREFERRED'
             |       ELSE 'STANDARD' END AS brand_tier
             |FROM part ORDER BY p_partkey""".stripMargin)),

    "f22_sql_udf_masking" -> Q((s, dir) => {
      T(s, dir, "customer").createOrReplaceTempView("graft_cust_f22")
      s.sql("""SELECT c_custkey, mask_name(c_name) AS masked_name,
              |  mask_email(concat(c_name, '@corp.io')) AS masked_email
              |FROM graft_cust_f22 ORDER BY c_custkey""".stripMargin)
    }, Some("""SELECT c_custkey,
              |  substring(c_name, 1, 1) || repeat('*', length(c_name) - 1) AS masked_name,
              |  substring(c_name || '@corp.io', 1, 2) || '***@***.***' AS masked_email
              |FROM customer ORDER BY c_custkey""".stripMargin)),

    "f23_json_extract" -> Q((s, dir) =>
      T(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_int"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |  json_extract_string(props, '$.k') AS k_str,
             |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int
             |FROM events ORDER BY event_id""".stripMargin)),

    "f24_levenshtein" -> Q((s, dir) => {
      // Edit distance — the scalar for fuzzy entity matching at
      // migration boundaries (name drift between systems). Codegen'd
      // built-in; consecutive-key self pair keeps the gate a narrow
      // broadcast join.
      val c = T(s, dir, "customer")
      val a = c.select(col("c_custkey").as("k"), col("c_name").as("name_a"))
      val b = c.select((col("c_custkey") - 1).as("k"), col("c_name").as("name_b"))
      a.join(b, "k")
        .select(col("k").as("c_custkey"), col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b")).as("edit_dist"))
        .orderBy("c_custkey")
    }, Some("""SELECT a.c_custkey, a.c_name AS name_a, b.c_name AS name_b,
              |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
              |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
              |ORDER BY a.c_custkey""".stripMargin)),

    "f25_higher_order_funcs" -> Q((s, dir) =>
      // The HOF family as a first-class gate: transform / filter /
      // aggregate / exists / forall over per-order quantity arrays.
      // HOFs are the codegen'd array workhorses the LLM track leans on
      // (shingles, signatures, dot products); this pins their scalar
      // semantics against DuckDB's list_* twins. One hash aggregate
      // builds the arrays (sort_array(collect_list(struct)) keeps
      // line-number order without a window); everything after is a pure
      // projection. Quantities are integral doubles → INT, so both
      // engines' casts agree.
      T(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(transform(
          sort_array(collect_list(struct(col("l_linenumber"),
            col("l_quantity").cast("int").as("q")))),
          x => x.getField("q")).as("qtys"))
        .select(col("l_orderkey"),
          aggregate(col("qtys"), lit(0L),
            (acc, x) => acc + x.cast("long") * x).as("sq_sum"),
          size(filter(col("qtys"), _ > 25)).as("n_over_25"),
          exists(col("qtys"), _ > 40).as("has_over_40"),
          forall(col("qtys"), _ > 0).as("all_positive"))
        .orderBy("l_orderkey"),
      Some("""WITH a AS (SELECT l_orderkey,
             |    list(CAST(l_quantity AS INT) ORDER BY l_linenumber) AS q
             |  FROM lineitem GROUP BY l_orderkey)
             |SELECT l_orderkey,
             |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x))
             |    AS BIGINT) AS sq_sum,
             |  CAST(len(list_filter(q, x -> x > 25)) AS INT) AS n_over_25,
             |  len(list_filter(q, x -> x > 40)) > 0 AS has_over_40,
             |  len(list_filter(q, x -> x <= 0)) = 0 AS all_positive
             |FROM a ORDER BY l_orderkey""".stripMargin)),

    "f26_bitwise_family" -> Q((s, dir) =>
      // The bitwise function family as a first-class gate — these are
      // the load-bearing primitives under SimHash, hyperplane-LSH band
      // extraction and Hamming verification (shiftright/AND/XOR/
      // bit_count), pinned here on scalar semantics against DuckDB's
      // operators. Pure projection, zero shuffle.
      T(s, dir, "orders")
        .select(col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("band"),
          col("o_orderkey").bitwiseOR(lit(15L)).as("ored"),
          col("o_orderkey").bitwiseXOR(lit(129L)).as("xored"),
          shiftleft(col("o_orderkey"), 3).as("shl"),
          shiftright(col("o_orderkey"), 2).as("shr"),
          bit_count(col("o_orderkey")).as("popcount"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  o_orderkey & 255 AS band,
             |  o_orderkey | 15 AS ored,
             |  xor(o_orderkey, 129) AS xored,
             |  o_orderkey << 3 AS shl,
             |  o_orderkey >> 2 AS shr,
             |  CAST(bit_count(o_orderkey) AS INT) AS popcount
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "f27_try_cast_family" -> Q((s, dir) => {
      // Safe-parsing scalar family (r13) — the expression-level partner
      // of s21's corrupt-record quarantine: try_cast turns malformed
      // numerics into NULLs instead of failing the job (the ANSI-mode
      // ingestion idiom), try_divide nulls division by zero. The
      // fixture cycles clean ints, decimals, garbage, empty strings and
      // NULLs, so parsed/failed tallies and the exact sum of what DID
      // parse pin the semantics against DuckDB's TRY_CAST.
      val raw = T(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("""CASE CAST(o_orderkey % 5 AS INT)
               |  WHEN 0 THEN CAST(o_orderkey AS STRING)
               |  WHEN 1 THEN concat(CAST(o_orderkey AS STRING), '.25')
               |  WHEN 2 THEN 'n/a'
               |  WHEN 3 THEN ''
               |  ELSE NULL
               |END""".stripMargin).as("raw"))
      raw.select(col("k"),
          expr("try_cast(raw AS DOUBLE)").as("d"),
          expr("try_divide(CAST(k AS DOUBLE), CAST(k % 3 AS DOUBLE))").as("q"))
        .agg(count(lit(1)).as("n"),
          count(col("d")).as("n_parsed"),
          sum(col("d").cast("decimal(18,2)")).cast("double").as("sum_parsed"),
          count(col("q")).as("n_divided"))
    }, Some("""WITH raw AS (SELECT o_orderkey AS k,
              |    CASE CAST(o_orderkey % 5 AS INT)
              |      WHEN 0 THEN CAST(o_orderkey AS VARCHAR)
              |      WHEN 1 THEN CAST(o_orderkey AS VARCHAR) || '.25'
              |      WHEN 2 THEN 'n/a'
              |      WHEN 3 THEN ''
              |      ELSE NULL END AS raw
              |  FROM orders),
              |p AS (SELECT k, TRY_CAST(raw AS DOUBLE) AS d,
              |    CASE WHEN k % 3 = 0 THEN NULL
              |      ELSE CAST(k AS DOUBLE) / CAST(k % 3 AS DOUBLE) END AS q
              |  FROM raw)
              |SELECT count(*) AS n, count(d) AS n_parsed,
              |  CAST(SUM(CAST(d AS DECIMAL(18,2))) AS DOUBLE) AS sum_parsed,
              |  count(q) AS n_divided
              |FROM p""".stripMargin)))
}
