package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.llm.{Dedup, Multimodal}
import graft.sources.Tables
import graft.streaming.AvailableNow
import graft.tools.{Measure, Overlap}
import Registry.T

/** Structured-Streaming queries (SURVEY §2.9 ST1-ST4 + beyond-parity
  * event-time windowing and custom state): each stages files into a temp
  * landing dir ([[Measure.tempDir]], removed at JVM exit), drains it
  * through the one bounded harness, [[AvailableNow]], and returns a
  * deterministic batch view of the sink for the DuckDB compare.
  *
  * One private fixture holds what the gates share, so each gate keeps
  * only its own state builders, probe, increments and oracle:
  *   - [[Gate]]: the gate's `graft_<tag>` database with its tables
  *     dropped, plus a landing and a checkpoint dir;
  *   - [[Gate.increments]]: the one land-and-drain loop, and the one
  *     home of the one-increment-one-micro-batch rule every
  *     multi-increment oracle replays (the only `eachBatch` call here);
  *   - [[Gate.acceptedIndex]]: the accepted-index step of the streaming
  *     dedup gates st13–st18 (probe the standing state, append only the
  *     survivors);
  *   - [[events]] and [[memorySink]]: the memory-sink gates' landing and
  *     drain.
  * Gates whose bodies would make a shared part branch on its caller
  * (st12 through `Ingest`, st19's two-kind registry, st23's five-outcome
  * attribution) keep their own bodies and use only the parts that fit.
  * So does st21: its index is one projection of the micro-batch written
  * to one table, and the accepted-index step's checkpoints and key table
  * would only add jobs to it.
  */
object StreamingQueries {

  // events.ts (nanos) → exact epoch seconds on the DuckDB side.
  private val tsSecSql = "CAST(floor(date_part('epoch', ts)) AS BIGINT)"

  /** One `foreachBatch` gate's working set: the `graft_<tag>` database
    * with `tables` dropped, and a landing (`src`) and checkpoint (`chk`)
    * dir under [[Measure.tempDir]]. */
  private final class Gate(s: SparkSession, tag: String, tables: String*) {
    private val base = Measure.tempDir(s"graft_$tag")
    val src = s"$base/in"
    val chk = s"$base/chk"
    s.sql(s"CREATE DATABASE IF NOT EXISTS graft_$tag")
    tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS graft_$tag.$t"))

    /** The qualified name of the gate's table `t`. */
    def apply(t: String): String = s"graft_$tag.$t"
    def read(t: String): DataFrame = s.read.table(apply(t))

    /** Land each of `incs` as ONE coalesced parquet file and drain it
      * through [[AvailableNow.eachBatch]] under the gate's one checkpoint
      * before the next lands. Each increment is therefore exactly one
      * micro-batch, and micro-batch `n` is increment `n + 1` (st23 and
      * st24 record that number). Every multi-increment oracle replays
      * this: it models each increment as one accept/filter step, and an
      * increment split across micro-batches would let its early rows
      * filter its later ones. So `maxFilesPerTrigger` stays unset on the
      * source. */
    def increments(incs: DataFrame*)(fn: (DataFrame, Long) => Unit): Unit =
      incs.foreach { inc =>
        inc.coalesce(1).write.mode("append").parquet(src)
        AvailableNow.eachBatch(s.readStream.schema(incs.head.schema).parquet(src), chk)(fn)
      }

    /** The accepted-index step as a micro-batch body, for a gate whose
      * first table takes the accepted `key`s and whose other tables take
      * `state`'s frames, in order. Per micro-batch: build the state
      * frames once, checkpointed; drop the keys `probe` finds against the
      * accepted tables (nothing before the first commit); keep the rest
      * with `left_anti`; append the kept keys and each state frame
      * semi-joined to them, the appends overlapped. Keys that collide
      * within one micro-batch are not judged against each other: the
      * index holds earlier increments only. */
    def acceptedIndex(key: String)(state: DataFrame => Seq[DataFrame])(
        probe: Seq[DataFrame] => DataFrame): (DataFrame, Long) => Unit = (batch, _) => {
      val built = state(batch)
      require(built.size == tables.size - 1, s"graft_$tag: one state frame per state table")
      val frames = Overlap.all(built.map(f => () => f.localCheckpoint(true)))
      val ids = batch.select(key)
      val kept = (if (s.catalog.tableExists(apply(tables.head)))
        ids.join(probe(frames), Seq(key), "left_anti") else ids).localCheckpoint(true)
      Overlap.all((kept +: frames.map(_.join(kept, Seq(key), "left_semi")))
        .zip(tables).map { case (f, t) => () => f.write.mode("append").saveAsTable(apply(t)) })
    }
  }

  /** `df` landed `copies` times in a fresh landing dir, as a factory of
    * streams over it. */
  private def landed(tag: String, df: DataFrame, copies: Int = 1): () => DataFrame = {
    val src = s"${Measure.tempDir(s"graft_$tag")}/in"
    (1 to copies).foreach(_ => df.write.mode("append").parquet(src))
    () => df.sparkSession.readStream.schema(df.schema).parquet(src)
  }

  /** `events` landed `copies` times, as a factory of streams over it with
    * `ts` (nanos since epoch) truncated to a micros timestamp. */
  private def events(s: SparkSession, dir: String, tag: String,
      copies: Int = 1): () => DataFrame = {
    val stream = landed(tag, T(s, dir, "events"), copies)
    () => stream().withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }

  /** Drain `df` once into the memory sink `graft_<tag>` in output `mode`
    * and return the sink's table. */
  private def memorySink(tag: String, mode: String)(df: DataFrame): DataFrame = {
    AvailableNow.run(df.writeStream.format("memory").queryName(s"graft_$tag").outputMode(mode))
    df.sparkSession.table(s"graft_$tag")
  }

  /** Two increments by `id`: evens, then odds. */
  private def byParity(df: DataFrame, id: String): Seq[DataFrame] =
    Seq(df.filter(col(id) % 2 === 0), df.filter(col(id) % 2 =!= 0))

  /** Two increments by `id`: ids ≡ 0, 2 (mod 8), two members of every
    * even seed quadruple, then the rest. */
  private def bySeedPair(df: DataFrame, id: String): Seq[DataFrame] = {
    val first = col(id) % 8 === 0 || col(id) % 8 === 2
    Seq(df.filter(first), df.filter(!first))
  }

  /** The batch MinHash-LSH chain's 4 band rows per doc (st13, st17, st23). */
  private def textBands(df: DataFrame): DataFrame =
    Dedup.lshBands(Dedup.minhashSignaturesNative(
      Dedup.shingleArray(df, "doc_id", "text", 3), "doc_id", 8), "doc_id", 8, 2)

  /** The batch phash chain's 4 × 14-bit band rows per image, carrying the
    * phash for the Hamming verify (st14, st17). */
  private def imageBands(df: DataFrame): DataFrame =
    Multimodal.dHash56(Multimodal.decodeBmpGray(df.sparkSession,
        Multimodal.encodeBmpGray8x8(df.select(col("doc_id")))))
      .select(col("doc_id"), col("phash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .select(col("doc_id"), col("phash"), col("band"),
        Multimodal.phashBand("band").as("band_hash"))

  /** The st20 streaming CDC → SCD2 chain, shared by the dimension gate
    * (st20) and its integrity-audit twin (st22) so the two can never
    * fork: seed the dimension from `orders`, stream two change
    * increments through a foreachBatch [[Tables.scd2Apply]] (the
    * production SCD2 table apply), return the final dimension. `tag`
    * isolates the catalog table and landing dirs per gate. */
  private def streamCdcScd2(s: SparkSession, dir: String, tag: String): DataFrame = {
    val g = new Gate(s, tag, "dim")
    val o = T(s, dir, "orders")
    def shape(df: DataFrame, statusCol: Column, startCol: Column) =
      df.select(
        col("o_orderkey").cast("string").as("order_id"),
        statusCol.as("status"),
        col("o_totalprice").cast("decimal(12,2)").as("total"),
        startCol.as("effective_start_date"),
        lit(null).cast("timestamp").as("effective_end_date"),
        lit(true).as("is_current"))
    def applyScd2(df: DataFrame): Unit =
      Tables.scd2Apply(s, g("dim"), df, Seq("order_id"), Seq("status", "total"))
    applyScd2(shape(o.filter(col("o_orderkey") % 10 < 8), // first load
        col("o_orderstatus"), col("o_orderdate")))
    g.increments(
      // increment 1: even-key changes + % 10 = 8 inserts
      shape(o.filter(col("o_orderkey") % 2 === 0),
        when(col("o_orderkey") % 6 === 0, lit("X")).otherwise(col("o_orderstatus")),
        expr("o_orderdate + INTERVAL 1 DAY")),
      // increment 2: % 3 = 0 re-updates — versions must chain
      shape(o.filter(col("o_orderkey") % 3 === 0), lit("Y"),
        expr("o_orderdate + INTERVAL 2 DAY"))) { (batch, _) => applyScd2(batch) }
    g.read("dim")
  }

  /** DuckDB replay of the st20 chain — both sequential merges in
    * chained CTEs ending in m2 (the final dimension). Shared by the
    * st20 dimension compare and the st22 integrity audit. */
  private val cdcScd2Ctes: String =
    """t0 AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
      |    o_orderstatus AS status,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderdate AS effective_start_date,
      |    CAST(NULL AS TIMESTAMP) AS effective_end_date,
      |    TRUE AS is_current
      |  FROM orders WHERE o_orderkey % 10 < 8),
      |s1 AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
      |    CASE WHEN o_orderkey % 6 = 0 THEN 'X' ELSE o_orderstatus END AS status,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderdate + INTERVAL 1 DAY AS effective_start_date,
      |    CAST(NULL AS TIMESTAMP) AS effective_end_date,
      |    TRUE AS is_current
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |chg1 AS (SELECT c.order_id FROM t0 c JOIN s1 s USING (order_id)
      |  WHERE (c.status IS DISTINCT FROM s.status)
      |     OR (c.total IS DISTINCT FROM s.total)),
      |m1 AS (
      |  SELECT c.* FROM t0 c
      |  WHERE c.order_id NOT IN (SELECT order_id FROM chg1)
      |  UNION ALL
      |  SELECT c.order_id, c.status, c.total, c.effective_start_date,
      |    s.effective_start_date, FALSE
      |  FROM t0 c JOIN s1 s USING (order_id)
      |  WHERE c.order_id IN (SELECT order_id FROM chg1)
      |  UNION ALL
      |  SELECT s.* FROM s1 s
      |  WHERE s.order_id IN (SELECT order_id FROM chg1)
      |  UNION ALL
      |  SELECT s.* FROM s1 s
      |  WHERE s.order_id NOT IN (SELECT order_id FROM t0)),
      |cur1 AS (SELECT * FROM m1 WHERE is_current),
      |hist1 AS (SELECT * FROM m1 WHERE NOT is_current),
      |s2 AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
      |    'Y' AS status,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
      |    o_orderdate + INTERVAL 2 DAY AS effective_start_date,
      |    CAST(NULL AS TIMESTAMP) AS effective_end_date,
      |    TRUE AS is_current
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |chg2 AS (SELECT c.order_id FROM cur1 c JOIN s2 s USING (order_id)
      |  WHERE (c.status IS DISTINCT FROM s.status)
      |     OR (c.total IS DISTINCT FROM s.total)),
      |m2 AS (
      |  SELECT * FROM hist1
      |  UNION ALL
      |  SELECT c.* FROM cur1 c
      |  WHERE c.order_id NOT IN (SELECT order_id FROM chg2)
      |  UNION ALL
      |  SELECT c.order_id, c.status, c.total, c.effective_start_date,
      |    s.effective_start_date, FALSE
      |  FROM cur1 c JOIN s2 s USING (order_id)
      |  WHERE c.order_id IN (SELECT order_id FROM chg2)
      |  UNION ALL
      |  SELECT s.* FROM s2 s
      |  WHERE s.order_id IN (SELECT order_id FROM chg2)
      |  UNION ALL
      |  SELECT s.* FROM s2 s
      |  WHERE s.order_id NOT IN (SELECT order_id FROM cur1))""".stripMargin

  val defs: Seq[(String, Q)] = Seq(

    "st1_availablenow_incremental" -> Q((s, dir) => {
      // ST1-ST4: incremental file pickup, append sink, checkpoint,
      // AvailableNow. Two staged batches with one checkpoint: the second
      // run must process ONLY the new file (exactly-once incremental).
      val base = Measure.tempDir("graft_st1")
      val src = s"$base/in"; val out = s"$base/out"; val chk = s"$base/chk"
      val nation = T(s, dir, "nation")
      nation.write.mode("append").parquet(src)
      def runOnce(): Unit =
        AvailableNow.run(s.readStream
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .parquet(src)
          .writeStream
          .format("parquet")
          .option("checkpointLocation", chk)
          .option("path", out)
          .outputMode("append"))
      runOnce()
      nation.write.mode("append").parquet(src) // second batch lands
      runOnce()
      s.read.parquet(out)
        .groupBy("n_nationkey").agg(count(lit(1)).as("copies"))
        .orderBy("n_nationkey")
    }, Some("SELECT n_nationkey, CAST(2 AS BIGINT) AS copies FROM nation ORDER BY n_nationkey")),

    "st2_windowed_agg" -> Q((s, dir) => {
      // Beyond-parity ST6: watermark + tumbling event-time window.
      // Complete mode to a memory sink so every window is emitted
      // deterministically regardless of final watermark position.
      memorySink("st2", "complete")(events(s, dir, "st2")()
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt")))
        .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))
        .orderBy("window_start", "event_type")
    }, Some("""SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS cnt
              |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),

    "st4_session_window" -> Q((s, dir) => {
      // Beyond-parity ST6: event-time SESSION windows — the streaming
      // twin of the batch sessionizer (w4_sessionize). `session_window`
      // merges events whose gap is < 30 min; window end = last event +
      // gap. Complete mode to a memory sink for a deterministic final
      // state; the oracle replays the same gap chaining in SQL over
      // exact integer microseconds.
      memorySink("st4", "complete")(events(s, dir, "st4")()
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }, Some("""WITH ev AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
              |flagged AS (SELECT user_id, us,
              |    CASE WHEN us - lag(us, 1) OVER w >= 1800000000
              |          OR lag(us, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
              |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
              |sess AS (SELECT user_id, us,
              |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              |  FROM flagged)
              |SELECT user_id, MIN(us) AS session_start_us,
              |  MAX(us) + 1800000000 AS session_end_us, count(*) AS n_events
              |FROM sess GROUP BY user_id, sid
              |ORDER BY user_id, session_start_us""".stripMargin)),

    "st5_stream_stream_join" -> Q((s, dir) => {
      // Beyond-parity: stream-stream inner join. Clicks and views are
      // two independent streams of the same source; each click joins
      // every view by the same user in the preceding 30 minutes. Both
      // sides carry watermarks and the join condition bounds event time
      // in BOTH directions — the contract Spark needs to evict join
      // state instead of buffering streams forever (the 100 TB
      // requirement for an unbounded join). AvailableNow over one
      // staged batch emits every qualifying pair exactly once.
      val stream = events(s, dir, "st5")
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val views = stream().filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "1 hour")
      memorySink("st5", "append")(clicks.join(views,
        col("c_user") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("v_ts") <= col("c_ts"))
        .select(col("click_id"), col("view_id"), col("c_user").as("user_id")))
        .orderBy("click_id", "view_id")
    }, Some("""SELECT c.event_id AS click_id, v.event_id AS view_id,
              |  c.user_id
              |FROM events c JOIN events v
              |  ON c.event_type = 'click' AND v.event_type = 'view'
              | AND v.user_id = c.user_id
              | AND epoch_ns(v.ts) // 1000 >= epoch_ns(c.ts) // 1000 - 1800000000
              | AND epoch_ns(v.ts) // 1000 <= epoch_ns(c.ts) // 1000
              |ORDER BY click_id, view_id""".stripMargin)),

    "st6_watermark_dedup" -> Q((s, dir) => {
      // Beyond-parity: streaming dedup with bounded state. The source is
      // staged TWICE (every event is a duplicate); the stream drops
      // duplicates on event_id within the watermark horizon — the
      // streaming twin of exact dedup, with state evicted once the
      // watermark passes an id's event time (at scale the horizon is
      // the real duplicate window, here generous so the bounded run is
      // exact). Output equals the original events exactly once.
      memorySink("st6", "complete")(events(s, dir, "st6", copies = 2)()
        .withWatermark("ts", "7 days")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("user_id")).as("user_id_checksum")))
        .orderBy("event_type")
    }, Some("""SELECT event_type, count(*) AS cnt,
              |  CAST(SUM(user_id) AS BIGINT) AS user_id_checksum
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    "st7_foreachbatch_upsert" -> Q((s, dir) => {
      // foreachBatch keyed upsert — the OSS mapping of the reference's
      // autoloader→MERGE pattern (streaming sink with row-level merge
      // semantics Parquet lacks natively). Two increments share one
      // checkpoint: A is the full event set, B re-emits even users with
      // NEWER events; each micro-batch merges latest-per-user into the
      // target via keepLatest and rewrites. Final table = latest event
      // per user over A ∪ B.
      import graft.operators.Windowed
      val g = new Gate(s, "st7", "user_latest")
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000000").cast("long").as("ts_sec"))
      g.increments(ev, // A
          ev.filter(col("user_id") % 2 === 0) // B: newer events, even users
            .select((col("event_id") + 1000000L).as("event_id"), col("user_id"),
              (col("ts_sec") + 3600L).as("ts_sec"))) { (batch, _) =>
        val existing =
          if (s.catalog.tableExists(g("user_latest"))) g.read("user_latest")
          else batch.limit(0)
        val merged = Windowed.keepLatest(
          existing.unionByName(batch), Seq("user_id"),
          col("ts_sec"), tieBreak = Seq(col("event_id")))
          .localCheckpoint(true) // materialize BEFORE overwriting the source table
        merged.write.mode("overwrite").saveAsTable(g("user_latest"))
      }
      g.read("user_latest")
        .select(col("user_id"), col("event_id").as("latest_event_id"),
          col("ts_sec").as("latest_ts_sec"))
        .orderBy("user_id")
    }, Some(s"""WITH ev AS (SELECT event_id, user_id,
               |    $tsSecSql AS ts_sec FROM events),
               |all_ev AS (SELECT * FROM ev
               |  UNION ALL
               |  SELECT event_id + 1000000, user_id, ts_sec + 3600 FROM ev
               |  WHERE user_id % 2 = 0),
               |ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id
               |    ORDER BY ts_sec DESC, event_id DESC) AS rn FROM all_ev)
               |SELECT user_id, event_id AS latest_event_id,
               |  ts_sec AS latest_ts_sec
               |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    "st3_mapgroupswithstate" -> Q((s, dir) => {
      // Custom per-key state via KeyValueGroupedDataset.mapGroupsWithState:
      // running per-user event counts + value sum (decimal-exact).
      import s.implicits._
      val updateFn = (userId: Long, rows: Iterator[(Long, Double)],
          state: GroupState[(Long, Long)]) => {
        val (prevN, prevCents) = state.getOption.getOrElse((0L, 0L))
        var n = prevN; var cents = prevCents
        rows.foreach { case (_, v) => n += 1; cents += math.round(v * 100) }
        state.update((n, cents))
        (userId, n, cents)
      }
      memorySink("st3", "update")(events(s, dir, "st3")()
        .select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
        .toDF("user_id", "n_events", "value_cents"))
        .orderBy("user_id")
    }, Some("""SELECT user_id, count(*) AS n_events,
              |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
              |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "st8_stream_quality_filter" -> Q((s, dir) => {
      // The LLM ops compose with streaming: qualityFilter is a pure
      // projection, so it drops into a readStream→writeStream pipeline
      // unchanged (same code path as batch — no streaming-specific
      // rewrite). Per-micro-batch the stream scores documents and the
      // sink aggregates keep/drop counts per first failure reason.
      val scored = graft.llm.TextOps.qualityFilter(
        landed("st8", T(s, dir, "documents").select("doc_id", "text"))(),
        minTokens = 20, maxPunctRatio = 0.06, minStopwordRatio = 0.05)
        .select(col("keep"),
          coalesce(try_element_at(col("fail_reasons"), lit(1)), lit("none"))
            .as("first_reason"))
      memorySink("st8", "complete")(scored
        .groupBy("keep", "first_reason").agg(count(lit(1)).as("cnt")))
        .orderBy("keep", "first_reason")
    }, Some(s"""WITH st AS (SELECT doc_id,
               |    len(string_split(${LlmQueries.normSql}, ' '))
               |      AS n_tokens,
               |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) /
               |      NULLIF(CAST(length(text) AS DOUBLE), 0) AS punct_ratio,
               |    CAST(len(regexp_extract_all(lower(text),
               |        '\\b(the|a|an|and|of|to|in|is|it)\\b')) AS DOUBLE) /
               |      NULLIF(CAST(len(string_split(trim(regexp_replace(lower(text),
               |        '\\s+', ' ', 'g')), ' ')) AS DOUBLE), 0) AS stopword_ratio
               |  FROM documents),
               |r AS (SELECT doc_id, ${LlmQueries.failReasonsSql} AS fail_reasons
               |  FROM st)
               |SELECT len(fail_reasons) = 0 AS keep,
               |  COALESCE(fail_reasons[1], 'none') AS first_reason,
               |  count(*) AS cnt
               |FROM r GROUP BY 1, 2 ORDER BY keep, first_reason""".stripMargin)),

    "st9_stream_static_join" -> Q((s, dir) => {
      // Beyond-parity: stream-STATIC join — each streaming purchase
      // event enriches against a static batch profile (per-user
      // lifetime counts/totals). Unlike st5's stream-stream join this
      // is STATELESS: the static side re-evaluates per micro-batch (and
      // broadcasts when small), no watermark, no state store — the
      // dimension-enrichment shape of a streaming bronze→silver hop.
      // The profile's money total sums in exact milli-integers.
      val profile = T(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("user_event_count"),
          sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("_vm"))
      memorySink("st9", "append")(events(s, dir, "st9")()
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
        .join(profile, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"), col("value"),
          col("user_event_count"),
          (col("_vm").cast("double") / 1000.0).as("user_value_total")))
        .orderBy("event_id")
    }, Some("""WITH prof AS (SELECT user_id, count(*) AS user_event_count,
              |    SUM(CAST(round(value * 1000) AS BIGINT)) AS vm
              |  FROM events GROUP BY user_id)
              |SELECT e.event_id, e.user_id, e.value, p.user_event_count,
              |  CAST(p.vm AS DOUBLE) / 1000.0 AS user_value_total
              |FROM events e LEFT JOIN prof p USING (user_id)
              |WHERE e.event_type = 'purchase' ORDER BY e.event_id""".stripMargin)),

    "st10_stream_approx_distinct" -> Q((s, dir) => {
      // Mergeable HLL sketches INSIDE streaming state: per-6h-window
      // approx distinct users via hll_sketch_agg under a watermark —
      // exact count(DISTINCT) is structurally unsupported in streaming
      // aggregation (unbounded per-key state), which is precisely why
      // the constant-size sketch is THE streaming distinct form. The
      // sketch estimate is engine-specific, so the gate joins the
      // streamed result to the BATCH exact per window and emits the
      // within-bound verdict (a22/w10 pattern, streaming edition).
      // Window keys are epoch-second longs on both sides: Spark's
      // tumbling window aligns to the epoch, so start = ts div 21600.
      val streamed = memorySink("st10", "complete")(events(s, dir, "st10")()
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("approx_users")))
        .select(col("window.start").cast("long").as("window_start"),
          col("approx_users"))
      val exact = T(s, dir, "events")
        .select(expr("((ts div 1000000000) div 21600) * 21600").cast("long")
          .as("window_start"), col("user_id"))
        .groupBy("window_start")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      val bound = graft.operators.Sketches.hllBound(12)
      streamed.join(exact, Seq("window_start"))
        .select(col("window_start"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * bound).as("approx_within_bound"))
        .orderBy("window_start")
    }, Some("""SELECT (CAST(floor(date_part('epoch', ts)) AS BIGINT)
              |    // 21600) * 21600 AS window_start,
              |  count(DISTINCT user_id) AS exact_users,
              |  TRUE AS approx_within_bound
              |FROM events GROUP BY 1 ORDER BY window_start""".stripMargin)),

    "st11_stream_scd2" -> Q((s, dir) => {
      // Streaming SCD2 — the reference's two flagship patterns composed
      // in ONE pipeline: Auto Loader-style incremental file pickup
      // (st1's shape) feeding MERGE-maintained dimension history
      // (Tables.scd2Apply in foreachBatch, the OSS mapping of
      // dim_policy.py's streaming MERGE INTO). Increment A is the first
      // load: every order as a current dimension row; B re-emits keys
      // divisible by 3 with status 'X' and a start date 10 days later —
      // the merge must close each old version (is_current=false, end =
      // new start) AND insert the new one, under the same checkpoint (B
      // processes only B's file).
      val g = new Gate(s, "st11", "dim_order")
      val dimA = T(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("order_id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").cast("decimal(12,2)").as("total"),
        col("o_orderdate").cast("date").cast("timestamp").as("effective_start_date"))
      g.increments(dimA, // A: first load
          dimA.filter(col("order_id").cast("long") % 3 === 0) // B: changes
            .select(col("order_id"), lit("X").as("status"), col("total"),
              (col("effective_start_date") + expr("INTERVAL 10 DAY"))
                .as("effective_start_date"))) { (batch, _) =>
        Tables.scd2Apply(s, g("dim_order"), batch
            .withColumn("effective_end_date", lit(null).cast("timestamp"))
            .withColumn("is_current", lit(true)),
          keyCols = Seq("order_id"), trackedCols = Seq("status"))
      }
      g.read("dim_order")
        .select(col("order_id"), col("status"),
          col("total").cast("double").as("total"),
          col("effective_start_date"), col("effective_end_date"),
          col("is_current"))
        .orderBy("order_id", "is_current")
    }, Some("""WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
              |    o_orderstatus AS status,
              |    CAST(o_totalprice AS DECIMAL(12,2)) AS total,
              |    CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS esd,
              |    o_orderkey AS k FROM orders),
              |upd AS (SELECT order_id, 'X' AS status, total,
              |    esd + INTERVAL 10 DAY AS esd FROM base WHERE k % 3 = 0),
              |kept AS (SELECT order_id, status, total, esd,
              |    CAST(NULL AS TIMESTAMP) AS eed, true AS cur
              |  FROM base WHERE k % 3 <> 0),
              |closed AS (SELECT b.order_id, b.status, b.total, b.esd,
              |    u.esd AS eed, false AS cur
              |  FROM base b JOIN upd u USING (order_id)),
              |newv AS (SELECT order_id, status, total, esd,
              |    CAST(NULL AS TIMESTAMP) AS eed, true AS cur FROM upd)
              |SELECT order_id, status, CAST(total AS DOUBLE) AS total,
              |  esd AS effective_start_date, eed AS effective_end_date,
              |  cur AS is_current
              |FROM (SELECT * FROM kept UNION ALL SELECT * FROM closed
              |      UNION ALL SELECT * FROM newv) u
              |ORDER BY order_id, is_current""".stripMargin)),

    "st12_schema_evolution_restart" -> Q((s, dir) => {
      // ST5: schema evolution on restart — the OSS translation of
      // cloudFiles schemaEvolutionMode=addNewColumns
      // (ingest_policies.py:115). cloudFiles' own contract IS
      // evolve-on-restart (a new column fails the stream; the restart
      // picks up the widened schema); Ingest.ingestStreamingEvolving
      // performs that pickup explicitly: header discovery → ALTER TABLE
      // ADD COLUMNS (metadata-only widen; historical files read NULL) →
      // resume under the SAME checkpoint. Batch 1 lands 3-column CSVs;
      // batch 2 lands files carrying a new trailing n_parity column.
      // The restarted stream must ingest ONLY batch 2's files, typed
      // with the evolved schema, while batch 1's rows read NULL for the
      // new column.
      import org.apache.spark.sql.types._
      val g = new Gate(s, "st12", "bronze_nation")
      val nation = T(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val baseSchema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      nation.write.option("header", "true").mode("append").csv(g.src)
      graft.sources.Ingest.ingestStreamingEvolving(s, g.src, baseSchema,
        g("bronze_nation"), g.chk, batchId = Some(1L))
      nation
        .withColumn("n_parity",
          when(col("n_nationkey") % 2 === 0, "even").otherwise("odd"))
        .write.option("header", "true").mode("append").csv(g.src)
      graft.sources.Ingest.ingestStreamingEvolving(s, g.src, baseSchema,
        g("bronze_nation"), g.chk, batchId = Some(2L))
      g.read("bronze_nation")
        .select(col("n_nationkey"), col("_batch_id").as("batch"), col("n_parity"))
        .orderBy("n_nationkey", "batch")
    }, Some("""SELECT n_nationkey, CAST(1 AS BIGINT) AS batch,
              |  CAST(NULL AS VARCHAR) AS n_parity FROM nation
              |UNION ALL
              |SELECT n_nationkey, CAST(2 AS BIGINT) AS batch,
              |  CASE WHEN n_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END FROM nation
              |ORDER BY n_nationkey, batch""".stripMargin)),

    "st13_stream_lsh_dedup" -> Q((s, dir) => {
      // Streaming FUZZY-dedup ingest — the incremental twin of the batch
      // MinHash-LSH chain (Dedup.shingleArray → minhashSignaturesNative
      // → lshBands → the candidatePairsAcross bucket probe): each
      // AvailableNow increment is banded, a doc is DROPPED when any of
      // its 4 LSH band buckets collides with an already-ACCEPTED doc,
      // and survivors append both their rows and their bands to the
      // accepted state tables. The standing corpus never re-shingles —
      // state is the band table (4 rows × ~40 bytes per accepted doc,
      // the same sub-quadratic index the batch path joins on), so each
      // increment costs shingle(increment) + one equi-join against
      // accepted bands. Intra-increment near-dups are deliberately NOT
      // judged (both land; ranking which of two simultaneous arrivals
      // survives is the nightly batch job's call) — the contract is "no
      // increment doc fuzzy-duplicates the standing corpus", which is
      // the autoloader-ingest guarantee a curation pipeline needs.
      // Increment 1 (evens) seeds the corpus; increment 2 (odds) is
      // filtered against the evens' bands.
      val g = new Gate(s, "st13", "accepted_docs", "accepted_bands")
      g.increments(byParity(T(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id"): _*)(g.acceptedIndex("doc_id")(b => Seq(textBands(b))) {
        case Seq(nb) => nb.join(g.read("accepted_bands"), Seq("band", "band_hash"), "left_semi")
          .select("doc_id")
      })
      g.read("accepted_docs").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.toksCte}, ${LlmQueries.shCte},
               |${LlmQueries.lshSigBandsCtes},
               |coll AS (SELECT DISTINCT n.doc_id
               |  FROM bands n JOIN bands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 2 <> 0 AND a.doc_id % 2 = 0)
               |SELECT doc_id FROM documents
               |WHERE doc_id % 2 = 0
               |   OR doc_id NOT IN (SELECT doc_id FROM coll)
               |ORDER BY doc_id""".stripMargin)),

    "st14_stream_phash_dedup" -> Q((s, dir) => {
      // Streaming IMAGE near-dup ingest — the incremental twin of the
      // batch phash chain (encode → real BMP decode → dHash56 → 4×14-bit
      // bands), st13's shape applied to the multimodal column: each
      // AvailableNow increment hashes its images, probes the ACCEPTED
      // band index, and — unlike st13's candidate-level drop — VERIFIES
      // each band collision with the exact Hamming test before dropping
      // (bit_count(xor) ≤ 6 against the collided accepted image's
      // phash, which the band index carries). State is 4 band rows +
      // one 8-byte hash per accepted image; the standing corpus is
      // never re-decoded. Intra-increment near-dups both land (st13's
      // contract): the guarantee is "no increment image near-duplicates
      // the standing corpus".
      // The seed-pair split makes the verify filter DISCRIMINATE:
      // increment 2 carries (a) the same-seed partners of increment 1's
      // images — dropped through a verified Hamming ≤ 4 collision — and
      // (b) whole ODD seed quadruples, which survive: their occasional
      // cross-seed band collisions with the accepted index verify at
      // Hamming ≫ 6, so a drop-on-any-collision bug (st13's
      // candidate-level rule, wrong here) changes this gate's output.
      val g = new Gate(s, "st14", "accepted_imgs", "accepted_bands")
      g.increments(bySeedPair(T(s, dir, "documents").select(col("doc_id")), "doc_id"): _*)(
        g.acceptedIndex("doc_id")(b => Seq(imageBands(b))) {
          case Seq(nb) => nb.join(g.read("accepted_bands")
                .withColumnRenamed("phash", "acc_phash")
                .withColumnRenamed("doc_id", "acc_doc_id"),
                Seq("band", "band_hash"))
              .filter(bit_count(col("phash").bitwiseXOR(col("acc_phash"))) <= 6)
              .select("doc_id")
        })
      g.read("accepted_imgs").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.phashHashCtes},
               |coll AS (SELECT DISTINCT n.doc_id
               |  FROM bands n JOIN bands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 8 NOT IN (0, 2) AND a.doc_id % 8 IN (0, 2)
               |    AND bit_count(xor(n.phash, a.phash)) <= 6)
               |SELECT doc_id FROM documents
               |WHERE doc_id % 8 IN (0, 2)
               |   OR doc_id NOT IN (SELECT doc_id FROM coll)
               |ORDER BY doc_id""".stripMargin)),

    "st15_stream_audio_dedup" -> Q((s, dir) => {
      // Streaming AUDIO near-dup ingest — completes the batch↔streaming
      // symmetry (st13 text, st14 image): each AvailableNow increment
      // decodes its WAVs, keys them by the 16 content-addressed
      // per-window band hashes from the batch audio chain
      // (llm_audio_fingerprint_dedup), probes the ACCEPTED band index,
      // and VERIFIES each collision with the exact mean-absolute
      // sample-distance test (≤ 16) before dropping — the verify is
      // LOAD-BEARING here: a same-seed partner whose ±512 perturbation
      // WRAPPED the int16 range reads MAD ~508 and must survive, so a
      // drop-on-any-collision bug changes this gate's output. State per
      // accepted doc: 16 band rows plus ONE decoded 128-sample frame
      // (512 bytes — the exact verify side); the standing corpus is
      // never re-encoded or re-decoded.
      val g = new Gate(s, "st15", "accepted_docs", "accepted_bands", "accepted_audio")
      def state(df: DataFrame) = {
        val decoded = Multimodal.decodeWavPcm(df.sparkSession, Multimodal.encodeWavPcm(df))
          .localCheckpoint(true)
        Seq(decoded
            .select(col("doc_id"), explode(expr("sequence(0, 15)")).as("band"),
              col("samples"))
            .select(col("doc_id"), col("band"),
              Multimodal.audioWindowKey("band").as("band_hash")),
          decoded.select("doc_id", "samples"))
      }
      g.increments(bySeedPair(T(s, dir, "documents").select(col("doc_id")), "doc_id"): _*)(
        g.acceptedIndex("doc_id")(state) { case Seq(nb, audio) =>
          nb.join(g.read("accepted_bands").withColumnRenamed("doc_id", "acc_doc_id"),
              Seq("band", "band_hash"))
            .select("doc_id", "acc_doc_id").distinct()
            .join(audio.select(col("doc_id"), col("samples").as("sn")), "doc_id")
            .join(g.read("accepted_audio")
                .select(col("doc_id").as("acc_doc_id"), col("samples").as("sa")),
              "acc_doc_id")
            .filter(expr(
              """aggregate(zip_with(sn, sa, (x, y) -> CAST(abs(x - y) AS BIGINT)),
                |  CAST(0 AS BIGINT), (a, v) -> a + v) DIV 128 <= 16""".stripMargin))
            .select("doc_id")
        })
      g.read("accepted_docs").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.wavSampleCtes},
               |${LlmQueries.audioWindowKeysCte("bands", "band", "band_hash")},
               |cand AS (SELECT DISTINCT n.doc_id, a.doc_id AS acc
               |  FROM bands n JOIN bands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 8 NOT IN (0, 2) AND a.doc_id % 8 IN (0, 2)),
               |mad AS (SELECT c.doc_id, c.acc,
               |    SUM(abs(x.s - y.s)) // 128 AS mad
               |  FROM cand c JOIN smp x ON x.doc_id = c.doc_id
               |  JOIN smp y ON y.doc_id = c.acc AND y.i = x.i
               |  GROUP BY c.doc_id, c.acc),
               |coll AS (SELECT DISTINCT doc_id FROM mad WHERE mad <= 16)
               |SELECT doc_id FROM documents
               |WHERE doc_id % 8 IN (0, 2)
               |   OR doc_id NOT IN (SELECT doc_id FROM coll)
               |ORDER BY doc_id""".stripMargin)),

    "st16_stream_video_dedup" -> Q((s, dir) => {
      // Streaming VIDEO near-dup ingest — completes the batch↔streaming
      // matrix across all four modalities (st13 text, st14 image, st15
      // audio). Each AvailableNow increment decodes its AVIs to
      // per-frame dHashes, keys them by the 16 content-addressed
      // (frame_idx × 4 + slice, 14-bit hash slice) band keys from the
      // batch video chain (llm_video_framehash_dedup), probes the
      // ACCEPTED band index, and verifies each collision with the exact
      // TEMPORAL test — summed Hamming over ALIGNED frames ≤ 6 against
      // the accepted doc's stored hashes — before dropping. The verify
      // is load-bearing: a single 14-bit slice collision between
      // unrelated videos (aligned Hamming ~112) must survive. State per
      // accepted doc: 16 band rows + 4 hash rows (32 bytes); the
      // standing corpus is never re-decoded.
      val g = new Gate(s, "st16", "accepted_docs", "accepted_bands", "accepted_hashes")
      def state(df: DataFrame) = {
        val fh = Multimodal.dHash56(
            Multimodal.decodeAviFrames(df.sparkSession, Multimodal.encodeAvi(df)),
            Seq("doc_id", "frame_idx"))
          .localCheckpoint(true)
        Seq(fh.select(col("doc_id"), col("frame_idx"), col("phash"),
              explode(expr("sequence(0, 3)")).as("b"))
            .select(col("doc_id"),
              (col("frame_idx") * 4 + col("b")).as("band"),
              Multimodal.phashBand("b").as("band_hash")),
          fh)
      }
      g.increments(bySeedPair(T(s, dir, "documents").select(col("doc_id")), "doc_id"): _*)(
        g.acceptedIndex("doc_id")(state) { case Seq(nb, fh) =>
          nb.join(g.read("accepted_bands").withColumnRenamed("doc_id", "acc_doc_id"),
              Seq("band", "band_hash"))
            .select("doc_id", "acc_doc_id").distinct()
            .join(fh.select(col("doc_id"), col("frame_idx"),
              col("phash").as("ph_n")), "doc_id")
            .join(g.read("accepted_hashes")
                .select(col("doc_id").as("acc_doc_id"), col("frame_idx"),
                  col("phash").as("ph_a")),
              Seq("acc_doc_id", "frame_idx"))
            .groupBy("doc_id", "acc_doc_id")
            .agg(sum(bit_count(col("ph_n").bitwiseXOR(col("ph_a")))).as("hamming"))
            .filter(col("hamming") <= 6)
            .select("doc_id")
        })
      g.read("accepted_docs").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.videoHashCtes},
               |${LlmQueries.vbandsCte},
               |cand AS (SELECT DISTINCT n.doc_id, a.doc_id AS acc
               |  FROM vbands n JOIN vbands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 8 NOT IN (0, 2) AND a.doc_id % 8 IN (0, 2)),
               |ham AS (SELECT c.doc_id, c.acc,
               |    SUM(bit_count(xor(x.phash, y.phash))) AS h
               |  FROM cand c JOIN vph x ON x.doc_id = c.doc_id
               |  JOIN vph y ON y.doc_id = c.acc AND y.frame_idx = x.frame_idx
               |  GROUP BY c.doc_id, c.acc),
               |coll AS (SELECT DISTINCT doc_id FROM ham WHERE h <= 6)
               |SELECT doc_id FROM documents
               |WHERE doc_id % 8 IN (0, 2)
               |   OR doc_id NOT IN (SELECT doc_id FROM coll)
               |ORDER BY doc_id""".stripMargin)),

    "st17_stream_crossmodal_dedup" -> Q((s, dir) => {
      // Streaming CROSS-MODAL near-dup ingest — the streaming twin of
      // llm_crossmodal_clusters' composition: an increment doc is
      // dropped when its TEXT near-duplicates the standing corpus (the
      // st13 MinHash-LSH band collision, candidate-level — the batch
      // cross-modal edge set uses the same unverified text candidates)
      // OR its IMAGE near-duplicates it (the st14 band collision with
      // the exact Hamming ≤ 6 verify). Each modality probes its OWN
      // accepted index and the union of the two drop sets decides; a
      // doc with a cross-seed image band collision that fails the
      // Hamming verify AND no text collision must survive, so a
      // union-before-verify bug (or'ing raw candidates) changes this
      // gate's output. State per accepted doc: 4 text band rows + 4
      // image band rows (the image rows carry the 8-byte phash verify
      // side); neither modality of the standing corpus is ever
      // recomputed.
      val g = new Gate(s, "st17", "accepted_docs", "accepted_tbands", "accepted_ibands")
      g.increments(bySeedPair(T(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id"): _*)(g.acceptedIndex("doc_id")(b => Seq(textBands(b), imageBands(b))) {
        case Seq(tb, ib) =>
          tb.join(g.read("accepted_tbands"), Seq("band", "band_hash"), "left_semi")
            .select("doc_id")
            .unionByName(ib.join(g.read("accepted_ibands")
                  .withColumnRenamed("phash", "acc_phash")
                  .withColumnRenamed("doc_id", "acc_doc_id"),
                  Seq("band", "band_hash"))
              .filter(bit_count(col("phash").bitwiseXOR(col("acc_phash"))) <= 6)
              .select("doc_id"))
      })
      g.read("accepted_docs").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.toksCte}, ${LlmQueries.shCte},
               |${LlmQueries.lshSigBandsCtes},
               |${LlmQueries.phashHashCtes.replace("bands", "ibands")},
               |tcoll AS (SELECT DISTINCT n.doc_id
               |  FROM bands n JOIN bands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 8 NOT IN (0, 2) AND a.doc_id % 8 IN (0, 2)),
               |icoll AS (SELECT DISTINCT n.doc_id
               |  FROM ibands n JOIN ibands a
               |    ON n.band = a.band AND n.band_hash = a.band_hash
               |  WHERE n.doc_id % 8 NOT IN (0, 2) AND a.doc_id % 8 IN (0, 2)
               |    AND bit_count(xor(n.phash, a.phash)) <= 6)
               |SELECT doc_id FROM documents
               |WHERE doc_id % 8 IN (0, 2)
               |   OR doc_id NOT IN (SELECT doc_id FROM tcoll
               |                     UNION SELECT doc_id FROM icoll)
               |ORDER BY doc_id""".stripMargin), bench = true),

    "st18_stream_embedding_dedup" -> Q((s, dir) => {
      // Streaming EMBEDDING (semantic) near-dup ingest — the fifth
      // modality of the batch↔streaming matrix (st13 text, st14 image,
      // st15 audio, st16 video, st17 cross-modal): the batch
      // llm_embedding_neardup chain applied at ingest. The IVF codebook
      // is a FIXED model artifact (the same corpus-scaled centroid rule
      // as the batch chain), so cluster routing is stable across
      // increments; each increment assigns its vectors to the nearest
      // centroid (broadcast codebook — the increment never shuffles),
      // probes ONLY its own cluster's accepted vectors, and drops on
      // unit-vector dot ≥ 0.35 — the exact verify the batch gate uses,
      // same fused DotProduct expression, so both engines fold
      // identically. State per accepted vector: cluster id + unit
      // vector (the verify side); the standing corpus is never
      // re-normalized or re-assigned.
      import graft.llm.Similarity
      import graft.plans.DotProduct
      val g = new Gate(s, "st18", "accepted_docs", "accepted_vecs")
      val cents = LlmQueries.scaledCentroids(T(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(true)
      def unitOf(df: DataFrame) =
        Similarity.withClusterId(df, cents, "vec_id", "embedding")
          .select(col("vec_id"), col("cluster_id"),
            Similarity.asDoubleVec(col("embedding")).as("vv"))
          .withColumn("nrm", sqrt(DotProduct(col("vv"), col("vv"))))
          .select(col("vec_id"), col("cluster_id"),
            expr("transform(vv, e -> e / nrm)").as("uv"))
      g.increments(bySeedPair(T(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          "vec_id"): _*)(g.acceptedIndex("vec_id")(b => Seq(unitOf(b))) {
        case Seq(nv) =>
          nv.join(g.read("accepted_vecs").select(col("cluster_id"), col("uv").as("acc_uv")),
              Seq("cluster_id"))
            .filter(DotProduct(col("uv"), col("acc_uv")) >= 0.35)
            .select("vec_id")
      })
      g.read("accepted_docs").orderBy("vec_id")
    }, Some {
      val sim = LlmQueries.simSql("a.vv", "c.cv")
      def dot(a: String, b: String) = LlmQueries.dotSql(a, b)
      s"""WITH v AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, vv AS cv FROM v
         |  WHERE ${LlmQueries.scaledCentroidSql}),
         |assigned AS (SELECT vec_id, centroid_id AS cluster_id FROM (
         |  SELECT a.vec_id, c.centroid_id,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY $sim DESC, c.centroid_id) AS rn
         |  FROM v a CROSS JOIN cent c) WHERE rn = 1),
         |cv AS (SELECT v.vec_id,
         |    list_transform(v.vv, e -> e / sqrt(${dot("v.vv", "v.vv")})) AS uv,
         |    a.cluster_id
         |  FROM v JOIN assigned a ON v.vec_id = a.vec_id),
         |coll AS (SELECT DISTINCT n.vec_id
         |  FROM cv n JOIN cv a ON n.cluster_id = a.cluster_id
         |  WHERE n.vec_id % 8 NOT IN (0, 2) AND a.vec_id % 8 IN (0, 2)
         |    AND ${dot("n.uv", "a.uv")} >= 0.35)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id % 8 IN (0, 2)
         |   OR vec_id NOT IN (SELECT vec_id FROM coll)
         |ORDER BY vec_id""".stripMargin
    }, bench = true),

    "st19_stream_content_registry" -> Q((s, dir) => {
      // Streaming CONTENT-ID REGISTRY — the service shape of the batch
      // clip-containment gate: one tagged stream interleaves video
      // REGISTRATIONS (kind 'v': fingerprinted frame hashes appended to
      // the standing index) and clip QUERIES (kind 'c': probed against
      // the index as it exists at arrival). A clip can only match
      // videos registered BEFORE it, so the result is arrival-order-
      // dependent — the genuinely stateful property the oracle encodes:
      // increment order is videos(even) → clips(id%8=0) → videos(odd)
      // → clips(id%8=4), so the early clip wave sees only even videos
      // while the late wave sees the full index, and the output is a
      // strict, provenance-bearing subset of the batch gate's. Within a
      // batch registrations apply before probes (register-then-query);
      // the probe itself is Multimodal.clipContainment — the same
      // content-addressed full-hash join + aligned-Hamming verify as
      // batch, so the two spellings cannot fork. State is the 8-byte/
      // frame hash index — pixels never enter the stream.
      val g = new Gate(s, "st19", "video_frames", "placements")
      val fh = LlmQueries.videoFrameHashes(s, dir)
      val vidRows = fh.select(lit("v").as("kind"), col("doc_id").as("id"),
        col("frame_idx").as("idx"), col("phash"))
      val clipRows = fh
        .filter(col("doc_id") % 4 === 0 && col("frame_idx").isin(1, 2))
        .select(lit("c").as("kind"), col("doc_id").as("id"),
          (col("frame_idx") - 1).as("idx"), col("phash"))
      g.increments(vidRows.filter(col("id") % 2 === 0), // register the even half
          clipRows.filter(col("id") % 8 === 0),         // early wave: even videos only
          vidRows.filter(col("id") % 2 === 1),          // register the odd half
          clipRows.filter(col("id") % 8 === 4)) { (batch, _) => // late wave: full index
        val vids = batch.filter(col("kind") === "v")
          .select(col("id").as("doc_id"), col("idx").as("frame_idx"), col("phash"))
        if (!vids.isEmpty) vids.write.mode("append").saveAsTable(g("video_frames"))
        val clips = batch.filter(col("kind") === "c")
          .select(col("id").as("clip_id"), col("idx").as("p"), col("phash"))
        if (!clips.isEmpty)
          Multimodal.clipContainment(clips, g.read("video_frames"), nClipFrames = 2, tau = 6)
            .write.mode("append").saveAsTable(g("placements"))
      }
      g.read("placements").orderBy("clip_id", "video_id", "offset")
    }, Some(LlmQueries.clipContainmentSql +
      """
        |  AND (clip_id % 8 = 4 OR video_id % 2 = 0)
        |ORDER BY clip_id, video_id, loc""".stripMargin)),

    "st20_stream_cdc_scd2" -> Q((s, dir) => {
      // Streaming CDC → SCD2 maintenance — the lakehouse-migration op
      // the reference's whole pipeline exists for, run CONTINUOUSLY:
      // change batches arrive as a stream and each micro-batch applies
      // the SCD2 merge (the same join+union+rewrite algebra as the batch
      // scd2_merge gate) against the standing dimension, so versions
      // CHAIN across increments — a key updated in both increments ends
      // with three rows (original closed at d+1, 'X' closed at d+2,
      // 'Y' current), something no single merge can produce. Increment
      // 1 covers even keys ('X' where key % 6 = 0; no-op updates
      // elsewhere must NOT spawn versions) plus the % 10 ∈ {8} brand-
      // new inserts; increment 2 re-updates every % 3 = 0 key to 'Y',
      // re-closing rows increment 1 created. The oracle replays BOTH
      // sequential merges in chained CTEs — a fold-into-one-merge
      // implementation diverges on every three-version chain. State is
      // the dimension table itself, partitioned by is_current: each
      // micro-batch appends its closed rows to history and replaces the
      // current partition (Tables.scd2Apply, the Parquet spelling of
      // MERGE). (Chain body shared with st22's integrity audit —
      // streamCdcScd2.)
      Registry.decimalsToDouble(streamCdcScd2(s, dir, "st20"))
        .orderBy("order_id", "effective_start_date", "is_current")
    }, Some(s"""WITH $cdcScd2Ctes
              |SELECT * EXCLUDE (total), CAST(total AS DOUBLE) AS total FROM m2
              |ORDER BY order_id, effective_start_date, is_current""".stripMargin), bench = true),

    "st21_stream_entity_resolution" -> Q((s, dir) => {
      // Streaming ENTITY RESOLUTION ingest — record linkage at ingest
      // time, the sixth member of the streaming dedup matrix (st13
      // text, st14 image, st15 audio, st16 video, st18 embedding): an
      // incoming record is dropped when it links to an ALREADY-ACCEPTED
      // record through the batch chain's exact spelling
      // (TextOps.blockedEditDistancePairs semantics: shared 6-char
      // block, |len diff| ≤ 2, thresholded levenshtein ≤ 2). The
      // accepted index keys on the block prefix, so each increment
      // probes only its own blocks; records that collide within ONE
      // increment are both accepted (the index is previous-increments
      // state — pinned, and what the oracle replays). Increment 1 =
      // even rec_ids (canonical + append-variant of every entity),
      // increment 2 = odd (the substituted variant must link and drop;
      // the dist-4 decoy must survive BOTH the length pre-filter and
      // the verify).
      val g = new Gate(s, "st21", "accepted")
      g.increments(byParity(LlmQueries.entityRecs(s, dir), "rec_id"): _*) { (batch, _) =>
        val nb = batch.select(col("rec_id"), col("name"),
          substring(col("name"), 1, 6).as("blk"))
        val dropped =
          if (s.catalog.tableExists(g("accepted")))
            nb.join(g.read("accepted")
                .select(col("blk"), col("name").as("acc_name")), Seq("blk"))
              .filter(abs(length(col("name")) - length(col("acc_name"))) <= 2 &&
                levenshtein(col("name"), col("acc_name"), 2) >= 0)
              .select("rec_id").distinct()
          else nb.select("rec_id").limit(0)
        nb.join(dropped, Seq("rec_id"), "left_anti")
          .write.mode("append").saveAsTable(g("accepted"))
      }
      g.read("accepted").select("rec_id").orderBy("rec_id")
    }, Some(s"""WITH ${LlmQueries.entityRecsCtes},
              |coll AS (SELECT DISTINCT n.rec_id
              |  FROM recs n JOIN recs a
              |    ON substring(n.name, 1, 6) = substring(a.name, 1, 6)
              |  WHERE n.rec_id % 2 = 1 AND a.rec_id % 2 = 0
              |    AND abs(len(n.name) - len(a.name)) <= 2
              |    AND levenshtein(n.name, a.name) <= 2)
              |SELECT rec_id FROM recs
              |WHERE rec_id % 2 = 0
              |   OR rec_id NOT IN (SELECT rec_id FROM coll)
              |ORDER BY rec_id""".stripMargin), bench = true),

    "st22_stream_scd2_audit" -> Q((s, dir) => {
      // SCD2 integrity at the STREAMING boundary (r13 verdict item 7):
      // the dq_scd2_integrity audit run as the post-condition of the
      // st20 streaming CDC chain — the streamed dimension is
      // invariant-CHECKED (at-most-one-current, closed-rows-closed,
      // current-rows-open, no overlaps/gaps), not just oracle-matched.
      // A healthy chain reads all seven violation counters ZERO (every
      // close sets end = successor start, so even keys_gapped is 0);
      // the oracle REPLAYS the audit over its own replay of both merges
      // (shared cdcScd2Ctes), so an audit that under- or over-counts,
      // or a merge that breaks an invariant, diverges rather than
      // comparing against hard-coded zeros.
      graft.quality.Checks.scd2IntegrityReport(
        streamCdcScd2(s, dir, "st22"), "order_id")
    }, Some(s"""WITH $cdcScd2Ctes,
              |r AS (SELECT order_id AS k, effective_start_date AS st,
              |    effective_end_date AS e, is_current AS c,
              |    lag(effective_end_date) OVER w AS prev_e,
              |    lag(effective_start_date) OVER w IS NOT NULL AS has_prev
              |  FROM m2 WINDOW w AS (PARTITION BY order_id
              |    ORDER BY effective_start_date, is_current,
              |      effective_end_date NULLS FIRST)),
              |${PipelineQueries.scd2AuditSql("st")}""".stripMargin)),

    "st23_stream_curation" -> Q((s, dir) => {
      // Streaming CORPUS CURATION — the batch llm_curation_pipeline's
      // ingest-time stages run CONTINUOUSLY, per increment, against the
      // standing accepted corpus, with per-document drop attribution:
      //   url_dedup (canonical-URL probe vs the accepted URL index) →
      //   quality_filter (stateless projection, the batch thresholds) →
      //   fuzzy_dedup (LSH band probe vs the accepted band index, st13's
      //   machinery) → decontaminate (5-gram overlap vs the STATIC eval
      //   holdout, doc_id < 10). Survivors append their doc row, their
      //   url_norm, and their 4 LSH bands to the accepted state — so a
      //   doc dropped by quality or decon can never poison the URL/band
      //   indexes (the indexes hold the ACCEPTED corpus, exactly what
      //   the batch chain's survivor frames are). The batch chain's
      //   tail stages (cluster split, sequence packing) are nightly
      //   batch jobs over the accepted corpus, not ingest decisions —
      //   they stay in llm_curation_pipeline.
      // Output: ONE ROW PER STREAMED DOC with (increment, outcome ∈
      // accepted|url_dup|quality|fuzzy_dup|contaminated) — stronger
      // than the batch gate's stage counts: the oracle must agree on
      // every document's fate, not just the tallies. State dependency
      // is load-bearing: an odd %10=7 doc drops at url_dedup ONLY if
      // its even URL-partner survived all of increment 1's stages into
      // the accepted index. Intra-increment collisions are deliberately
      // not judged (st13's contract). Increment 1 (evens) meets empty
      // URL/band indexes, so only quality and decon bite; increment 2
      // (odds) is probed against increment 1's survivors.
      import graft.llm.TextOps
      val g = new Gate(s, "st23", "outcomes", "accepted_urls", "accepted_bands")
      val urlExpr = expr("""CASE CAST(doc_id % 3 AS INT)
        |  WHEN 0 THEN concat('https://Docs.Example.com/d/', g, '?id=', g)
        |  WHEN 1 THEN concat('HTTPS://WWW.DOCS.EXAMPLE.COM:443/d/', g, '?id=', g, '#frag')
        |  ELSE concat('https://docs.example.com/d/', g, '/?id=', g, '&utm_source=x')
        |END""".stripMargin)
      def withUrlNorm(df: DataFrame) =
        df.withColumn("g", expr(
            "CAST(CASE WHEN doc_id % 10 = 7 THEN doc_id - 1 ELSE doc_id END AS STRING)"))
          .withColumn("url_norm", TextOps.normalizeUrl(urlExpr)).drop("g")
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") >= 10)
      g.increments(byParity(docs, "doc_id"): _*) { (batch, batchId) =>
        val inc = lit(batchId + 1).cast("int")
        val withUrl = withUrlNorm(batch).localCheckpoint(true)
        val urlDrop =
          if (s.catalog.tableExists(g("accepted_urls")))
            withUrl.join(g.read("accepted_urls"), Seq("url_norm"), "left_semi")
              .select("doc_id").localCheckpoint(true)
          else batch.select("doc_id").limit(0)
        val u = batch.join(urlDrop, Seq("doc_id"), "left_anti")
        val qualFlags = TextOps.qualityFilter(u,
            minTokens = 20, maxTokens = 100000,
            maxPunctRatio = 0.06, minStopwordRatio = 0.05)
        val qualDrop = qualFlags.filter(!col("keep"))
          .select("doc_id").localCheckpoint(true)
        val q2 = u.join(qualDrop, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        val nb = textBands(q2).localCheckpoint(true)
        val fuzzyDrop =
          if (s.catalog.tableExists(g("accepted_bands")))
            nb.join(g.read("accepted_bands"), Seq("band", "band_hash"), "left_semi")
              .select("doc_id").distinct().localCheckpoint(true)
          else batch.select("doc_id").limit(0)
        val f = q2.join(fuzzyDrop, Seq("doc_id"), "left_anti")
        val evalDocs = T(s, dir, "documents")
          .filter(col("doc_id") < 10).select("doc_id", "text")
        val d = Dedup.decontaminate(f, evalDocs, "doc_id", "text", 5)
          .localCheckpoint(true)
        val contamDrop = f.join(d.select("doc_id"), Seq("doc_id"), "left_anti")
          .select("doc_id")
        def tag(ids: DataFrame, o: String) =
          ids.select(col("doc_id"), inc.as("increment"), lit(o).as("outcome"))
        // Three independent sinks over already-checkpointed
        // frames: overlap the writes (guide §2.6) instead of
        // paying three sequential write-job latencies per batch.
        Overlap.all(Seq(
          () => tag(d.select("doc_id"), "accepted")
            .unionByName(tag(urlDrop, "url_dup"))
            .unionByName(tag(qualDrop, "quality"))
            .unionByName(tag(fuzzyDrop, "fuzzy_dup"))
            .unionByName(tag(contamDrop, "contaminated"))
            .write.mode("append").saveAsTable(g("outcomes")),
          () => withUrl.join(d.select("doc_id"), Seq("doc_id"), "left_semi")
            .select("url_norm")
            .write.mode("append").saveAsTable(g("accepted_urls")),
          () => nb.join(d.select("doc_id"), Seq("doc_id"), "left_semi")
            .write.mode("append").saveAsTable(g("accepted_bands"))))
      }
      g.read("outcomes").orderBy("doc_id")
    }, Some(s"""WITH ${LlmQueries.toksCte}, ${LlmQueries.shCte},
              |${LlmQueries.lshSigBandsCtes},
              |${LlmQueries.sh5Cte},
              |${LlmQueries.qualKeepAllCtes},
              |inc AS (SELECT doc_id,
              |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS increment
              |  FROM documents WHERE doc_id >= 10),
              |${LlmQueries.urlsCte("\n    FROM documents WHERE doc_id >= 10")},
              |${LlmQueries.urlNormCtes},
              |eval5 AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id < 10),
              |contam AS (SELECT DISTINCT t.doc_id FROM sh5 t
              |  JOIN eval5 e ON t.shingle = e.shingle WHERE t.doc_id >= 10),
              |q1 AS (SELECT doc_id FROM inc
              |  WHERE increment = 1 AND doc_id IN (SELECT doc_id FROM qual_keep_all)),
              |d1 AS (SELECT doc_id FROM q1
              |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
              |u2coll AS (SELECT DISTINCT n.rec_id AS doc_id
              |  FROM norm n JOIN inc ni ON ni.doc_id = n.rec_id AND ni.increment = 2
              |  JOIN norm a ON n.url_norm = a.url_norm
              |  JOIN d1 ON d1.doc_id = a.rec_id),
              |u2 AS (SELECT doc_id FROM inc WHERE increment = 2
              |  AND doc_id NOT IN (SELECT doc_id FROM u2coll)),
              |q2 AS (SELECT doc_id FROM u2
              |  WHERE doc_id IN (SELECT doc_id FROM qual_keep_all)),
              |f2coll AS (SELECT DISTINCT nb.doc_id
              |  FROM bands nb JOIN q2 ON q2.doc_id = nb.doc_id
              |  JOIN bands ab ON nb.band = ab.band AND nb.band_hash = ab.band_hash
              |  JOIN d1 ON d1.doc_id = ab.doc_id),
              |f2 AS (SELECT doc_id FROM q2
              |  WHERE doc_id NOT IN (SELECT doc_id FROM f2coll)),
              |d2 AS (SELECT doc_id FROM f2
              |  WHERE doc_id NOT IN (SELECT doc_id FROM contam))
              |SELECT i.doc_id, i.increment,
              |  CASE WHEN i.increment = 1 THEN
              |    CASE WHEN i.doc_id IN (SELECT doc_id FROM d1) THEN 'accepted'
              |      WHEN i.doc_id NOT IN (SELECT doc_id FROM qual_keep_all) THEN 'quality'
              |      ELSE 'contaminated' END
              |  ELSE
              |    CASE WHEN i.doc_id IN (SELECT doc_id FROM d2) THEN 'accepted'
              |      WHEN i.doc_id IN (SELECT doc_id FROM u2coll) THEN 'url_dup'
              |      WHEN i.doc_id NOT IN (SELECT doc_id FROM qual_keep_all) THEN 'quality'
              |      WHEN i.doc_id IN (SELECT doc_id FROM f2coll) THEN 'fuzzy_dup'
              |      ELSE 'contaminated' END
              |  END AS outcome
              |FROM inc i ORDER BY doc_id""".stripMargin), bench = true),

    "st24_stream_bpe_encode" -> Q((s, dir) => {
      // Tokenize AT INGEST: the nightly-trained BPE vocab (llm_bpe_train,
      // trained batch-side over the full corpus) applied to each
      // arriving micro-batch — the streaming matrix's stateless-
      // projection member (st9's shape, but carrying the tokenizer).
      // The trained vocab BROADCASTS into every batch's encode join; no
      // watermark, no state store — per-doc aggregation is batch-LOCAL
      // (a document arrives whole in one increment), so the streamed
      // result must equal the batch encode exactly, which is what the
      // shared oracle checks. Two AvailableNow increments under one
      // checkpoint (evens then odds) prove per-batch operation; the
      // increment column records which batch produced each row.
      import graft.llm.Bpe
      val g = new Gate(s, "st24", "encoded")
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val (_, vocab) = Bpe.trainMerges(Bpe.wordCensus(docs), k = 12)
      val vocabCk = vocab.localCheckpoint()
      g.increments(byParity(docs, "doc_id"): _*) { (batch, batchId) =>
        Bpe.encodeDocs(batch, vocabCk)
          .withColumn("increment", lit(batchId + 1).cast("int"))
          .write.mode("append").saveAsTable(g("encoded"))
      }
      g.read("encoded")
        .select("doc_id", "increment", "n_words", "n_tokens")
        .orderBy("doc_id")
    }, Some(LlmQueries.bpeOracle(12, encode = true, streamIncrement = true))))
}
