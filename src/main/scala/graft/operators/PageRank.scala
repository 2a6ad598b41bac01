package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank (Brin & Page '98) in DataFrame algebra — the classic
  * link-centrality signal crawl-curation pipelines use to weight domains
  * and documents before sampling training data.
  *
  * Per iteration: contributions `pr/deg` flow along edges (one join
  * keyed on src: the ranks frame carries each vertex's out-degree `deg`
  * beside its rank), reduce per destination (one hash aggregate keyed on
  * dst — PageRank's irreducible communication pattern), and dangling
  * mass redistributes uniformly. At scale, hash-partition `edges` by src
  * ONCE up front: the per-iteration ranks join then reuses that
  * partitioning and only the dst-keyed aggregate shuffles. Ranks are
  * `localCheckpoint`ed each round (|V| small rows) so lineage stays flat
  * across iterations, the same shape as connected components'
  * label-propagation loop.
  *
  * Determinism (oracle contract): per-edge contributions and dangling
  * mass accumulate in FIXED POINT — `floor(x·10¹²)` summed as
  * DECIMAL(38,0), then one correctly-rounded division back to double.
  * The product x·10¹² is the same IEEE multiply on both engines and
  * floor is exact, where `round(x, 12)` is NOT portable: Spark rounds
  * the shortest string repr (`BigDecimal.valueOf`) while DuckDB rounds
  * the scaled double, and across ~10⁴ roundings per iteration a
  * divergent boundary cell is near-certain (observed at sf0.1). The
  * dangling mass is a per-iteration driver scalar — model state like a
  * GD weight vector, not row data — OBSERVED on the checkpoint each round
  * already runs ([[Reduce.observed]]), so a round is one job chain with
  * no aggregate, exchange or driver fetch of its own; the node count and
  * the dangling count are observed the same way on the one checkpoint of
  * the vertex set.
  */
object PageRank {

  /** Ranks after `iters` damped rounds. `nodes` must have one row per
    * vertex (column `idCol`) and at least one row; `edges` columns
    * (src, dst) reference those ids. Returns (idCol, pr); Σpr ≈ 1. */
  def run(nodes: DataFrame, edges: DataFrame, idCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.localCheckpoint(true)
    val (verts, sizes) = Reduce.observed(vertices(nodes, idCol, e),
      count(lit(1)).as("n"), count(when(col("dangling"), lit(1))).as("nd"))(
      _.localCheckpoint(true))
    val (n, nDangling) = (sizes.getLong(0), sizes.getLong(1))
    require(n > 0, "PageRank.run: the node set is empty, so the uniform start 1/|V| is undefined")
    val nD = n.toDouble
    // Round 0 is a projection: every rank is 1/|V|, so its dangling mass
    // is nDangling equal fixed-point terms — the sum the observed
    // aggregate would compute, exactly (at most 10¹², well inside the
    // 2⁵³ a double holds exactly).
    var ranks = verts.select(col("nid"), (lit(1.0) / lit(nD)).as("pr"), col("deg"), col("dangling"))
    var dm = (nDangling * math.floor((1.0 / nD) * 1.0e12).toLong).toDouble / 1.0e12
    for (_ <- 1 to iters) {
      val (next, mass) = Reduce.observed(round(verts, e, ranks, nD, dm, damping),
        coalesce(
          sum(when(col("dangling"), floor(col("pr") * lit(1.0e12)).cast("decimal(38,0)")))
            .cast("double") / lit(1.0e12),
          lit(0.0)).as("dm"))(_.localCheckpoint(true))
      ranks = next
      dm = mass.getDouble(0)
    }
    ranks.select(col("nid").as(idCol), col("pr"))
  }

  /** The vertex set as (nid, deg, dangling): `deg` is the out-degree as
    * a double, NULL for a `dangling` node — one with no out-edge, whose
    * rank redistributes uniformly. */
  private[graft] def vertices(nodes: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    nodes.select(col(idCol).as("nid"))
      .join(edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg")),
        col("nid") === col("src"), "left")
      .select(col("nid"), col("deg"), col("src").isNull.as("dangling"))

  /** ONE damped round, pre-checkpoint, given the previous ranks'
    * dangling mass `dm`; returns (nid, pr, deg, dangling) — exposed so
    * PlanGuardsSpec can pin the per-iteration plan shape (one rank
    * attach join, exactly one dst-keyed aggregate exchange, no cartesian
    * fallback) against the REAL iteration body rather than a re-derived
    * twin. */
  private[graft] def round(verts: DataFrame, e: DataFrame,
      ranks: DataFrame, nD: Double, dm: Double, damping: Double): DataFrame = {
    val inflow = e.join(ranks, col("src") === col("nid"))
      .select(col("dst"),
        floor((col("pr") / col("deg")) * lit(1.0e12)).cast("decimal(38,0)").as("c"))
      .groupBy("dst")
      .agg((sum(col("c")).cast("double") / lit(1.0e12)).as("inflow"))
    verts.join(inflow, col("nid") === col("dst"), "left")
      .select(col("nid"),
        (lit(1.0 - damping) / lit(nD) + lit(damping) *
          (coalesce(col("inflow"), lit(0.0)) + lit(dm) / lit(nD))).as("pr"),
        col("deg"), col("dangling"))
  }
}
