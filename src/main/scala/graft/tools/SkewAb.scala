package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Measure.median

/** A/B wall-time evidence for the salted join on ACTUALLY-SKEWED data —
  * the r12 verdict's gap 4: the skew octave proved `j17` CORRECT on the
  * skewed corpus but never timed salted vs plain on it, so the repo had
  * no number for the salt's entire reason to exist.
  *
  * `runMain graft.tools.SkewAb <skewSfDir> [iters]` times four spellings
  * of the same hot-key join+agg (the j17 shape: lineitem⨝orders fact,
  * ~1% of rows on customer 0, joined to customer and aggregated by
  * mktsegment), each a (join strategy × AQE) cell:
  *
  *   - plain_noaqe:   shuffle hash/SMJ on the raw key, AQE off — the
  *                    naive plan whose hot partition serializes.
  *   - plain_aqe:     same, AQE + skewJoin on — Spark's built-in
  *                    runtime split of oversized partitions (SMJ/SHJ
  *                    only).
  *   - salted_noaqe:  Skew.saltedJoin(16) — the (key, salt) spread,
  *                    which also covers the cases AQE skew-join cannot
  *                    (aggregations, broadcast-ineligible plans on
  *                    engines without AQE).
  *   - broadcast:     broadcast(customer) — no fact shuffle at all; the
  *                    RIGHT plan whenever the dim fits an executor, and
  *                    the reference point salting must be judged
  *                    against.
  *
  * Broadcast is FORCED OFF (threshold -1) in the three shuffle cells so
  * the A/B measures shuffle-skew handling, not dim size. Each cell runs
  * `iters` times; prints one JSON line of medians for STRESS_r13.md.
  */
object SkewAb {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SkewAb <skewSfDir> [iters]")
    val sfDir = args(0)
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = Measure.session(Measure.cpus(32))

    def fact: DataFrame =
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .join(spark.read.parquet(s"$sfDir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("k"), col("l_extendedprice"))
    def cust: DataFrame =
      spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
    def agg(joined: DataFrame): DataFrame =
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"))

    def cell(name: String, aqe: Boolean, autoBroadcast: Boolean)
        (plan: => DataFrame): (String, Double, Long) = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        if (autoBroadcast) "10MB" else "-1")
      var rows = 0L
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        rows = plan.count()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[skewab] $name%-14s ${runs.map(t => f"$t%.2f").mkString(" ")} -> ${median(runs)}%.2f s ($rows rows)")
      (name, median(runs), rows)
    }

    val cells = Seq(
      cell("plain_noaqe", aqe = false, autoBroadcast = false)(
        agg(fact.join(cust, Seq("k")))),
      cell("plain_aqe", aqe = true, autoBroadcast = false)(
        agg(fact.join(cust, Seq("k")))),
      cell("salted_noaqe", aqe = false, autoBroadcast = false)(
        agg(graft.operators.Skew.saltedJoin(fact, cust, "k", saltFactor = 16))),
      cell("salted_aqe", aqe = true, autoBroadcast = false)(
        agg(graft.operators.Skew.saltedJoin(fact, cust, "k", saltFactor = 16))),
      cell("broadcast", aqe = true, autoBroadcast = false)(
        agg(fact.join(broadcast(cust), Seq("k")))))
    require(cells.map(_._3).distinct.size == 1,
      s"cells disagree on row count: ${cells.map(c => c._1 -> c._3)}")
    println(cells.map { case (n, s, _) => f""""$n":$s%.3f""" }
      .mkString("{", ",", s""","rows":${cells.head._3},"iters":$iters}"""))
    spark.stop()
  }
}
