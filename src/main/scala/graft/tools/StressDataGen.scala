package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ~sf1 stress-corpus generator (10× the sf0.1 bench data)
  * mirroring the driver testdata's schemas, ranges, and distributions
  * (TESTDATA.md; ranges sampled from `/root/testdata/sf0.1`). Used by the
  * round-9 scale-stress run: bench + a DuckDB-oracle subset execute
  * against the generated corpus, so the comparison stays self-consistent
  * (both engines read the SAME parquet) and no driver file is touched.
  *
  * Everything derives from `spark.range` plus Murmur3/md5 hash columns —
  * fully distributed, seeded, no driver-side loops and no RNG state: the
  * same (sf, seed) always writes byte-identical data.
  *
  * Divergences from driver data, both deliberate:
  *   - `events.ts` is written as micros-aligned NANOSECONDS BIGINT (the
  *     driver's TIMESTAMP(NANOS) parquet arrives in Spark as a nanos long
  *     via `nanosAsLong=true`; writing the long directly gives gates the
  *     identical read shape; `tools/check.py` rebuilds a timestamp view
  *     for the DuckDB side).
  *   - ~5% of documents are near-copies of an earlier document (one word
  *     appended) so near-dup operators have real work at stress scale.
  */
object StressDataGen {

  private val vocab = Seq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "the", "a",
    "big", "small", "filter", "data", "column", "join", "customer", "query",
    "group", "stream", "vector", "order", "shuffle", "broadcast", "cache",
    "plan", "stage", "task", "executor", "driver", "codegen", "parquet")

  /** Corpus-scaled vocabulary size, Heaps-ish (~sqrt of the corpus).
    *
    * The r10 stress round found the FIXED 40-word vocab degenerate at
    * sf10: every winnow fingerprint had document frequency > 50, the
    * df-cap dropped all of them, and `llm_winnow_pairs` proved nothing
    * at stress scale (r10 verdict gap #2) — and every other df-capped
    * path was understressed the same way. Real corpora grow vocabulary
    * ~N^0.5 (Heaps' law), so the generator now does too: the 40 core
    * words stay (cross-document overlap for the dedup/jaccard ops) and
    * a Zipf-tailed synthetic vocabulary scales with sf.
    */
  private def vocabSize(sf: Double): Int =
    vocab.size + math.ceil(2000.0 * math.sqrt(sf)).toInt

  /** Zipf-ish (freq ∝ 1/rank) word index in [1, v]: floor(v^u) of a
    * uniform u — the log-uniform trick, pure hash math on both sides. */
  private def zipfIdx(u: org.apache.spark.sql.Column, v: Int) =
    least(floor(pow(lit(v.toDouble), u)) , lit((v - 1).toDouble)).cast("int")

  /** Word at 1-based index: the 40 core words, then synthetic tails. */
  private def wordAt(idx: org.apache.spark.sql.Column) =
    when(idx <= vocab.size, element_at(array(vocab.map(lit): _*), idx))
      .otherwise(concat(lit("w"), idx))

  private def h(cols: org.apache.spark.sql.Column*) = abs(hash(cols: _*))

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/stressdata"
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    // arg 3: "skew" = 1% hot (the r11 octave), "skew<pct>" (e.g. skew25)
    // = that percentage of orders redirected to customer 0 — used by the
    // SkewAb crossover sweep, where the salt only pays once the hot key
    // dominates a shuffle partition (share >> 1/numPartitions).
    val skewPct: Int =
      if (args.length > 2 && args(2).startsWith("skew"))
        args(2).stripPrefix("skew") match {
          case "" => 1
          case p  => p.toInt
        }
      else 0
    val spark = Measure.session(Measure.cpus(32))
    generate(spark, outDir, sf, skewPct)
    spark.stop()
  }

  /** Write all ten tables at `sf` (1.0 ≈ 10× the sf0.1 corpus).
    *
    * `skewPct` (CLI arg 3 = "skew" or "skew<pct>") is the SKEW OCTAVE
    * (r11 verdict stretch): that percentage of all orders — and
    * therefore of lineitem via the FK chain — are redirected to
    * customer 0, a Zipf-head join key orders of magnitude hotter than
    * uniform ("skew" alone keeps the original 1%). The salted join,
    * AQE skew handling, and every customer-grain aggregate get a
    * genuinely skewed key distribution; everything else (and every
    * oracle, which reads the same parquet) is unchanged.
    */
  def generate(spark: SparkSession, outDir: String, sf: Double,
      skewPct: Int = 0): Unit = {
    val nCust = (150000 * sf).toLong max 100
    val nSupp = (10000 * sf).toLong max 20
    val nPart = (200000 * sf).toLong max 200
    val nOrders = (1500000 * sf).toLong max 1000
    val nEvents = (1000000 * sf).toLong max 1000
    val nUsers = (15000 * sf).toLong max 50
    val nDocs = (50000 * sf).toLong max 500
    val nVecs = (20000 * sf).toLong max 200

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[stressgen] wrote $name")
    }

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name")), "region")

    write(spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    val mkts = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (h(col("id"), lit(1)) % 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + (h(col("id"), lit(2)) % 1100000) / 100.0, 2).as("c_acctbal"),
      element_at(mkts, (h(col("id"), lit(3)) % 5 + 1).cast("int")).as("c_mktsegment")),
      "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (h(col("id"), lit(4)) % 25).cast("int").as("s_nationkey"),
      round((h(col("id"), lit(5)) % 1000000) / 100.0, 2).as("s_acctbal")), "supplier")

    val adjs = array(Seq("small", "red", "blue", "green", "large", "tiny",
      "shiny", "matte").map(lit): _*)
    val nouns = array(Seq("ring", "widget", "bolt", "gear", "valve", "wheel",
      "plate", "spring").map(lit): _*)
    val ptypes = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD").map(lit): _*)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(element_at(adjs, (h(col("id"), lit(6)) % 8 + 1).cast("int")), lit(" "),
        element_at(nouns, (h(col("id"), lit(7)) % 8 + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (h(col("id"), lit(8)) % 25 + 1)).as("p_brand"),
      element_at(ptypes, (h(col("id"), lit(9)) % 6 + 1).cast("int")).as("p_type"),
      (h(col("id"), lit(10)) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")), "part")

    val statuses = array(Seq("F", "O", "P").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val epoch95 = to_timestamp(lit("1995-01-01 00:00:00"))
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      (if (skewPct > 0)
        when(h(col("id"), lit(26)) % 100 < skewPct, lit(0L))
          .otherwise(h(col("id"), lit(11)) % nCust)
      else h(col("id"), lit(11)) % nCust).as("o_custkey"),
      element_at(statuses, (h(col("id"), lit(12)) % 3 + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + (h(col("id"), lit(13)) % 49900000) / 100.0, 2).as("o_totalprice"),
      timestamp_add("DAY", (h(col("id"), lit(14)) % 2400).cast("int"), epoch95)
        .as("o_orderdate"),
      element_at(prios, (h(col("id"), lit(15)) % 5 + 1).cast("int")).as("o_orderpriority"))
    write(orders, "orders")

    // lineitem: 1-7 lines per order (avg 4, like the driver corpus).
    write(orders.select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (h(col("o_orderkey"), lit(16)) % 7 + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        (h(col("o_orderkey"), col("l_linenumber"), lit(17)) % nPart).as("l_partkey"),
        (h(col("o_orderkey"), col("l_linenumber"), lit(18)) % nSupp).as("l_suppkey"),
        col("l_linenumber"),
        (h(col("o_orderkey"), col("l_linenumber"), lit(19)) % 50 + 1)
          .cast("double").as("l_quantity"),
        round(lit(900.0) + (h(col("o_orderkey"), col("l_linenumber"), lit(20))
          % 10410000) / 100.0, 2).as("l_extendedprice"),
        ((h(col("o_orderkey"), col("l_linenumber"), lit(21)) % 11) / 100.0)
          .as("l_discount"),
        ((h(col("o_orderkey"), col("l_linenumber"), lit(22)) % 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(col("o_orderkey"), col("l_linenumber"), lit(23)) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (h(col("o_orderkey"), col("l_linenumber"), lit(24)) % 2 + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_add("DAY",
          (h(col("o_orderkey"), col("l_linenumber"), lit(25)) % 100 + 1).cast("int"),
          col("o_orderdate")).as("l_shipdate")), "lineitem")

    // events: ts in micros-aligned NANOS BIGINT (see object scaladoc);
    // roughly time-ordered by event_id across a 30-day window like the
    // driver corpus, ~2.6 s mean gap at sf1.
    val etypes = array(Seq("click", "error", "purchase", "signup", "view")
      .map(lit): _*)
    val epoch24ns = lit(1704067200L * 1000000000L) // 2024-01-01 UTC
    val gapNs = (30L * 86400 * 1000000000L) / nEvents
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      (epoch24ns + col("id") * gapNs +
        (h(col("id"), lit(26)) % (gapNs / 1000)) * 1000).as("ts"),
      (h(col("id"), lit(27)) % nUsers).as("user_id"),
      element_at(etypes, (h(col("id"), lit(28)) % 5 + 1).cast("int")).as("event_type"),
      round(lit(0.01) + (h(col("id"), lit(29)) % 49000) / 100.0, 2).as("value"),
      concat(lit("{\"k\": "), h(col("id"), lit(30)) % 100, lit("}")).as("props")),
      "events")

    // documents: 30-130 words, Zipf-drawn from the sf-scaled vocabulary
    // (see vocabSize — the 40 core words absorb ~40% of tokens at sf10,
    // keeping near-dup overlap, while the tail gives winnow/df-capped
    // paths rare fingerprints to keep); ~5% near-copies (doc_id % 20 ==
    // 7 clones doc_id-7's text + one appended word).
    val v = vocabSize(sf)
    val base = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(transform(
        sequence(lit(1), (h(col("id"), lit(31)) % 101 + 30).cast("int")),
        i => wordAt(zipfIdx((h(col("id"), i, lit(32)) % 1000000) / lit(1000000.0), v))),
        " ").as("text0"),
      element_at(array(Seq("de", "en", "es", "fr", "zh").map(lit): _*),
        (h(col("id"), lit(33)) % 5 + 1).cast("int")).as("lang"),
      concat(lit("src"), h(col("id"), lit(34)) % 20).as("source"))
    val nearSrc = base.select(col("doc_id").as("src_id"), col("text0").as("src_text"))
    val docs = base
      .join(nearSrc, base("doc_id") - 7 === nearSrc("src_id") &&
        base("doc_id") % 20 === 7, "left")
      .select(col("doc_id"),
        when(col("src_text").isNotNull, concat(col("src_text"), lit(" extra")))
          .otherwise(col("text0")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents")

    // embeddings: 64-dim floats in [-0.5, 0.5), 10 labels.
    write(spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => ((h(col("id"), j, lit(35)) % 1000) / 1000.0 - 0.5).cast("float"))
        .as("embedding"),
      (h(col("id"), lit(36)) % 10).cast("int").as("label")), "embeddings")
  }
}
