package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank
import graft.tools.Measure

/** PageRank ([[graft.operators.PageRank]]): mass conservation, hub
  * ordering on a star graph, symmetry on a cycle, dangling-mass
  * redistribution, partitioning-independence, an empty node set failing
  * on purpose, and the jobs one round costs.
  */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  private def nodes(n: Int) = (0L until n.toLong).toDF("id")

  test("total mass stays ~1 with dangling nodes") {
    // 0→1→2→3, 4 and 5 dangling
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = PageRank.run(nodes(6), e, "id", iters = 5)
    val mass = pr.agg(sum("pr")).first().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
  }

  test("star graph: the hub out-ranks every spoke") {
    // spokes 1..5 all point at 0; 0 spreads back across all spokes, so
    // each spoke receives 1/5 of the hub's mass while the hub gets all
    // of every spoke's.
    val e = ((1 to 5).map(i => (i.toLong, 0L)) ++
      (1 to 5).map(i => (0L, i.toLong))).toDF("src", "dst")
    val pr = PageRank.run(nodes(6), e, "id", iters = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1 to 5).forall(i => pr(0L) > pr(i.toLong)), pr.toString)
  }

  test("2-cycle: symmetric nodes get identical ranks") {
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val pr = PageRank.run(nodes(2), e, "id", iters = 6).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(0L) == pr(1L))
    assert(math.abs(pr(0L) - 0.5) < 1e-9)
  }

  test("ranks do not depend on input partitioning") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (4L, 2L)).toDF("src", "dst")
    val a = PageRank.run(nodes(5), e, "id", iters = 4).orderBy("id").collect().toSeq
    val b = PageRank.run(nodes(5).repartition(7), e.repartition(5), "id", iters = 4)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("an empty node set fails on purpose, naming PageRank and the cause") {
    val e = Seq((0L, 1L)).toDF("src", "dst").filter(lit(false))
    val ex = intercept[IllegalArgumentException](PageRank.run(nodes(0), e, "id", iters = 2))
    assert(ex.getMessage.contains("PageRank") && ex.getMessage.contains("node set is empty"),
      ex.getMessage)
  }

  test("one round costs 5 jobs: the dangling mass rides the round's checkpoint") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L), (4L, 2L)).toDF("src", "dst")
    def jobs(iters: Int): Int =
      Measure.counted(spark)(PageRank.run(nodes(6), e, "id", iters = iters).collect())._2.jobs
    val (two, four) = (jobs(2), jobs(4))
    assert(four - two === 2 * 5, s"jobs at 2 rounds $two, at 4 rounds $four")
  }
}
