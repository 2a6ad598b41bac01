package graft

import org.apache.spark.sql.functions._

import graft.operators.Windowed
import graft.plans.AsOfJoin

/** The custom as-of merge join ([[graft.plans.AsOfJoin]]): row-for-row
  * agreement with the composed union+window spelling
  * ([[graft.operators.Windowed.asofJoin]]), left-outer null fill,
  * robustness to adversarial input partitioning (EnsureRequirements
  * must re-cluster both sides), and the pinned plan shape (the custom
  * exec node, no WindowExec, sorted merge inputs).
  */
class AsOfMergeJoinSpec extends SparkTestBase {
  import spark.implicits._
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  /** Minimal property driver over a Gen (no scalatestplus bridge in the
    * offline cache): deterministic seed, n samples. */
  private def forAllSampled[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  // Quotes: several keys, repeated ts advances, one key absent from
  // trades, one trade key absent from quotes, a trade before any quote.
  private def quotes = Seq(
    (1L, 10L, 100.0), (1L, 20L, 101.0), (1L, 30L, 99.5),
    (2L, 5L, 50.0), (2L, 25L, 51.0),
    (4L, 7L, 75.0)
  ).toDF("sym", "q_ts", "px")

  private def trades = Seq(
    (1L, 9L, "t1"),  // before any quote for sym 1 -> nulls
    (1L, 10L, "t2"), // inclusive: matches q_ts=10
    (1L, 29L, "t3"), // matches q_ts=20
    (1L, 35L, "t4"), // matches q_ts=30
    (2L, 26L, "t5"), // matches q_ts=25
    (3L, 15L, "t6")  // no quotes for sym 3 -> nulls
  ).toDF("sym", "t_ts", "tag")

  test("agrees row-for-row with the composed union+window spelling") {
    val exec = AsOfJoin.asof(trades, quotes, Seq("sym"), "t_ts", "q_ts")
      .select(col("tag"), col("q_ts"), col("px"))
    val composed = Windowed.asofJoin(trades, quotes, Seq("sym"),
        leftTs = "t_ts", rightTs = "q_ts", rightPayload = Seq("q_ts", "px"))
      .select(col("tag"), col("asof_q_ts").as("q_ts"), col("asof_px").as("px"))
    val a = exec.orderBy("tag").collect().map(_.toSeq)
    val b = composed.orderBy("tag").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    // And the exact expected matches:
    val byTag = exec.collect().map(r => r.getString(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(byTag("t1") === (None, None))            // before any quote
    assert(byTag("t2") === (Some(10L), Some(100.0))) // inclusive
    assert(byTag("t3") === (Some(20L), Some(101.0)))
    assert(byTag("t4") === (Some(30L), Some(99.5)))
    assert(byTag("t5") === (Some(25L), Some(51.0)))
    assert(byTag("t6") === (None, None))            // key absent on right
  }

  test("survives adversarial pre-partitioning (re-clustered by the planner)") {
    val badLeft = trades.repartition(7, col("t_ts"))   // wrong key, odd count
    val badRight = quotes.repartition(3, col("px"))
    val out = AsOfJoin.asof(badLeft, badRight, Seq("sym"), "t_ts", "q_ts")
      .select(col("tag"), col("px"))
    val byTag = out.collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(byTag("t4") === Some(99.5) && byTag("t6") === None)
    assert(out.count() === 6) // exactly one output row per left row
  }

  test("plans the custom exec: no WindowExec, sorted+clustered children") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = AsOfJoin.asof(trades, quotes, Seq("sym"), "t_ts", "q_ts")
    out.collect()
    // AQE wraps the exec inside ResultQueryStage (a leaf to collect()),
    // so pin the shape on the final plan STRING.
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val s = plan.toString
    assert("AsOfMergeJoin".r.findAllIn(s).size === 1,
      s"expected exactly the custom exec:\n$s")
    assert(!s.contains("WindowExec"), s"window machinery crept in:\n$s")
    assert("Exchange hashpartitioning".r.findAllIn(s).size === 2,
      s"both sides hash-cluster on the key:\n$s")
    assert(s.contains("Sort ["), s"merge inputs must be sorted:\n$s")
  }

  test("asof installs nothing on the session: the strategy comes from GraftExtensions") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val out = AsOfJoin.asof(trades, quotes, Seq("sym"), "t_ts", "q_ts")
    assert(out.collect().length === 6)
    assert(spark.experimental.extraStrategies.isEmpty,
      s"asof touched the session: ${spark.experimental.extraStrategies}")
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    assert(plan.contains("AsOfMergeJoin"), plan)
  }

  test("left-outer cardinality: every left row survives exactly once") {
    // 200 trades across 5 symbols, quotes only for 3 of them.
    val t = spark.range(200).select(
      (col("id") % 5).as("sym"), (col("id") * 3 % 97).as("t_ts"),
      col("id").as("trade_id"))
    val q = spark.range(40).select(
      (col("id") % 3).as("sym"), (col("id") * 7 % 89).as("q_ts"),
      (col("id") * 1.5).as("px"))
    val out = AsOfJoin.asof(t, q, Seq("sym"), "t_ts", "q_ts")
    assert(out.count() === 200)
    // Cross-check the full frame against the composed spelling.
    val composed = Windowed.asofJoin(t, q, Seq("sym"),
        leftTs = "t_ts", rightTs = "q_ts", rightPayload = Seq("q_ts", "px"),
        tieBreak = Seq("px"))
      .select(col("trade_id"), col("asof_q_ts"), col("asof_px"))
    // Collapse right-side (sym, ts) ties the same way for the exec: the
    // merge keeps the LAST tied row in sort order, which is engine-
    // dependent — pre-collapse to max px per (sym, q_ts) on both sides.
    val qq = q.groupBy("sym", "q_ts").agg(max("px").as("px"))
    val exec2 = AsOfJoin.asof(t, qq, Seq("sym"), "t_ts", "q_ts")
      .select(col("trade_id"), col("q_ts"), col("px"))
    val composed2 = Windowed.asofJoin(t, qq, Seq("sym"),
        leftTs = "t_ts", rightTs = "q_ts", rightPayload = Seq("q_ts", "px"))
      .select(col("trade_id"), col("asof_q_ts").as("q_ts"),
        col("asof_px").as("px"))
    assert(exec2.orderBy("trade_id").collect().map(_.toSeq).toSeq ===
      composed2.orderBy("trade_id").collect().map(_.toSeq).toSeq)
  }

  test("multi-column (string, long) keys merge correctly") {
    val l = Seq(("a", 1L, 10L, "L1"), ("a", 2L, 10L, "L2"), ("b", 1L, 5L, "L3"))
      .toDF("grp", "sub", "lts", "ltag")
    val r = Seq(("a", 1L, 8L, "R-a1"), ("a", 2L, 11L, "R-a2"), ("c", 1L, 1L, "R-c1"))
      .toDF("g2", "s2", "rts", "rtag")
    val out = AsOfJoin.asof(l, r, Seq("grp", "sub"), Seq("g2", "s2"), "lts", "rts")
      .select("ltag", "rtag").collect()
      .map(row => row.getString(0) -> Option(row.getString(1))).toMap
    assert(out === Map(
      "L1" -> Some("R-a1"),  // (a,1): rts=8 <= 10
      "L2" -> None,          // (a,2): rts=11 > 10
      "L3" -> None))         // (b,1): key absent on right
  }

  test("null keys group together (window-partition semantics, documented)") {
    // The exec mirrors the composed window spelling: a NULL key is its
    // own group (nulls sort first and compare equal), NOT SQL equality.
    val l = Seq((Some(1L), 10L, "a"), (None, 10L, "b")).toDF("k", "lts", "tag")
    val r = Seq((Some(1L), 5L, "r1"), (Option.empty[Long], 7L, "rn"))
      .toDF("rk", "rts", "pay")
    val out = AsOfJoin.asof(l, r, Seq("k"), Seq("rk"), "lts", "rts")
      .select("tag", "pay").collect()
      .map(row => row.getString(0) -> Option(row.getString(1))).toMap
    assert(out === Map("a" -> Some("r1"), "b" -> Some("rn")))
    // Same answer from the composed spelling on identical data.
    val composed = Windowed.asofJoin(l, r.withColumnRenamed("rk", "k"),
        Seq("k"), leftTs = "lts", rightTs = "rts", rightPayload = Seq("pay"))
      .filter(col("tag").isNotNull)
      .select("tag", "asof_pay").collect()
      .map(row => row.getString(0) -> Option(row.getString(1))).toMap
    assert(composed === out)
  }

  test("mismatched right-side key/ts types fail loudly at planning") {
    // keyOrd/tsOrd are built from LEFT types but compare both sides'
    // projections — an INT right ts against a LONG left ts must throw at
    // exec construction, not silently miscompare (r11 advice).
    val r32 = quotes.withColumn("q_ts", col("q_ts").cast("int"))
    val err = intercept[Exception] {
      AsOfJoin.asof(trades, r32, Seq("sym"), "t_ts", "q_ts").collect()
    }
    assert(err.getMessage.contains("ts types must match"),
      s"unexpected error: ${err.getMessage}")
    val rk32 = quotes.withColumn("sym", col("sym").cast("int"))
    val err2 = intercept[Exception] {
      AsOfJoin.asof(trades, rk32, Seq("sym"), "t_ts", "q_ts").collect()
    }
    assert(err2.getMessage.contains("key types must match"),
      s"unexpected error: ${err2.getMessage}")
  }

  test("property: agrees with Scala brute force on random (key, ts) data") {
    // Random left (dup keys/ts allowed) vs (key, ts)-unique right;
    // payload is derived from (key, ts) so the winner is checkable.
    // Covers empty sides, keys on one side only, and boundary ts ties.
    val pairGen = Gen.listOf(Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 30L)))
    forAllSampled(Gen.zip(pairGen, pairGen), n = 12) { case (lRaw, rRaw) =>
      val lRows = lRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val rPairs = rRaw.distinct
      val rRows = rPairs.map { case (k, t) => (k, t, k * 1000 + t) }
      val l = lRows.toDF("lid", "k", "lts")
      val r = rRows.toDF("rk", "rts", "pay")
      def run(direction: String) =
        AsOfJoin.asof(l, r, Seq("k"), Seq("rk"), "lts", "rts", direction)
          .select("lid", "pay").collect()
          .map(row => row.getLong(0) -> Option(row.get(1)).map(_.asInstanceOf[Long]))
          .toMap
      val expectedBack = lRows.map { case (lid, k, lts) =>
        val cand = rPairs.filter(p => p._1 == k && p._2 <= lts)
        lid -> (if (cand.isEmpty) None
                else { val best = cand.maxBy(_._2); Some(best._1 * 1000 + best._2) })
      }.toMap
      assert(run("backward") === expectedBack, s"backward left=$lRows right=$rPairs")
      val expectedFwd = lRows.map { case (lid, k, lts) =>
        val cand = rPairs.filter(p => p._1 == k && p._2 >= lts)
        lid -> (if (cand.isEmpty) None
                else { val best = cand.minBy(_._2); Some(best._1 * 1000 + best._2) })
      }.toMap
      assert(run("forward") === expectedFwd, s"forward left=$lRows right=$rPairs")
      // Tolerance: same nearest-match, nulled beyond the window.
      def runTol(direction: String, tol: Long) =
        AsOfJoin.asof(l, r, Seq("k"), Seq("rk"), "lts", "rts", direction, Some(tol))
          .select("lid", "pay").collect()
          .map(row => row.getLong(0) -> Option(row.get(1)).map(_.asInstanceOf[Long]))
          .toMap
      val expectedBackTol = lRows.map { case (lid, k, lts) =>
        val cand = rPairs.filter(p => p._1 == k && p._2 <= lts)
        lid -> (if (cand.isEmpty) None else {
          val best = cand.maxBy(_._2)
          if (lts - best._2 <= 7L) Some(best._1 * 1000 + best._2) else None
        })
      }.toMap
      assert(runTol("backward", 7L) === expectedBackTol,
        s"backward tol=7 left=$lRows right=$rPairs")
      val expectedFwdTol = lRows.map { case (lid, k, lts) =>
        val cand = rPairs.filter(p => p._1 == k && p._2 >= lts)
        lid -> (if (cand.isEmpty) None else {
          val best = cand.minBy(_._2)
          if (best._2 - lts <= 7L) Some(best._1 * 1000 + best._2) else None
        })
      }.toMap
      assert(runTol("forward", 7L) === expectedFwdTol,
        s"forward tol=7 left=$lRows right=$rPairs")
    }
  }
}
