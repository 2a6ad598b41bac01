package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopKByScore

/** Bounded-heap top-k-per-group aggregate (plans/TopKByScore): must
  * agree row-for-row with the window-rank spelling on every input,
  * stay partition/order invariant (merge correctness), and plan the
  * map-side-combinable no-window shape it exists for.
  */
class TopKByScoreSpec extends SparkTestBase {

  private def sample(partitions: Int) = {
    import spark.implicits._
    // 40 groups × ~50 rows with deterministic pseudo-random scores,
    // including exact score ties (i % 7) to exercise the id tiebreak.
    (1L to 2000L).map { i =>
      (s"g${i % 40}", (i % 7).toDouble + (i % 13) * 0.25, i)
    }.toDF("g", "score", "id").repartition(partitions)
  }

  private def viaHeap(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy("g").agg(TopKByScore.topK(col("score"), col("id"), k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.id").as("id"), col("col.score").as("score"))

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("rnk", row_number().over(
        Window.partitionBy("g").orderBy(col("score").desc, col("id"))))
      .filter(col("rnk") <= k)
      .select(col("g"), col("rnk").cast("int"), col("id"), col("score"))

  test("agrees row-for-row with the window-rank spelling (ties included)") {
    val df = sample(8)
    for (k <- Seq(1, 3, 10)) {
      val a = viaHeap(df, k).orderBy("g", "rnk").collect().toSeq
      val b = viaWindow(df, k).orderBy("g", "rnk").collect().toSeq
      assert(a === b, s"k=$k")
    }
  }

  test("groups smaller than k emit all their rows, rank-ordered") {
    import spark.implicits._
    val df = Seq(("a", 5.0, 1L), ("a", 7.0, 2L), ("b", 1.0, 3L))
      .toDF("g", "score", "id")
    val got = viaHeap(df, 10).orderBy("g", "rnk").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === Seq(("a", 1, 2L), ("a", 2, 1L), ("b", 1, 3L)))
  }

  test("result is invariant to partitioning and input order") {
    val base = viaHeap(sample(1), 3).orderBy("g", "rnk").collect().toSeq
    for (p <- Seq(2, 13, 32)) {
      val got = viaHeap(sample(p).orderBy(rand(seed = p)), 3)
        .orderBy("g", "rnk").collect().toSeq
      assert(got === base, s"partitions=$p")
    }
  }

  test("plans NO WindowExec and ONE exchange, with map-side partials") {
    val df = viaHeap(sample(16), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"),
      s"heap top-k must not plan a window:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_topk_by_score"),
      s"map-side partial aggregation missing:\n$plan")
  }

  test("SQL registration: topk_by_score(score, id, k) resolves") {
    sample(4).createOrReplaceTempView("topk_in")
    val n = spark.sql(
      "SELECT g, topk_by_score(score, id, 3) AS top FROM topk_in GROUP BY g")
      .selectExpr("g", "size(top) AS n").agg(sum("n")).head().getLong(0)
    assert(n === 120L) // 40 groups × 3
  }
}
