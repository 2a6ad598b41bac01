package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** Read-only registry gates over the TPC-H-style test tables, each timed as
  * `count()` as `graft.Bench` times them. The seed permutes the order. */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val order = new scala.util.Random(ctx.seed).shuffle(Gates)
  private val gateS = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
  private val counts = mutable.Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
  private val sqlS, llmS = mutable.ArrayBuffer.empty[Double]

  /** Check that every gate has a query and an oracle. The frames are built
    * inside the timed passes, as `graft.Bench` does, because building one
    * can already run Spark jobs. */
  def prepare(rep: Int): Unit = {
    val missing = Gates.filterNot(g => SparkEntry.queries.contains(g) && SparkEntry.oracleSql.contains(g))
    require(missing.isEmpty, s"gates without a query or oracle: ${missing.mkString(", ")}")
  }

  /** The first timed passes after one warm-up pass still speed up by a
    * tenth or more each (JIT), so two passes warm up. */
  override def warmupOps: Int = 2

  def op(warmup: Boolean): Double = {
    val secs = order.map { g =>
      val t0 = System.nanoTime()
      ctx.attempt(g)(ctx.tracer.span(s"gate.$g")(
        SparkEntry.queries(g)(spark, ctx.dataDir).count()))
        .foreach(n => counts(g) = counts(g) + n)
      g -> (System.nanoTime() - t0) / 1e9
    }
    if (!warmup) {
      secs.foreach { case (g, s) => gateS(g) = gateS(g) :+ s }
      sqlS += secs.filter(s => Relational.contains(s._1)).map(_._2).sum
      llmS += secs.filter(s => Llm.contains(s._1)).map(_._2).sum
    }
    secs.map(_._2).sum
  }

  def finish(opSeconds: Seq[Double], runSeconds: Double): Unit = {
    val m = ctx.metrics
    m("mix_s") = Main.median(opSeconds)
    m("sql_s") = Main.median(sqlS.toSeq)
    m("llm_s") = Main.median(llmS.toSeq)
    Gates.foreach(g => ctx.check(counts(g).size == 1, s"$g row counts ${counts(g)} differ across passes"))
    // The caller compares each count with the gate's oracle run in DuckDB.
    ctx.extra("gates") = Gates.map { g =>
      s"${Main.jsonString(g)}:{\"count\":${counts(g).headOption.getOrElse(-1L)}," +
        s"\"oracle\":${Main.jsonString(SparkEntry.oracleSql(g))}}"
    }.mkString("{", ",", "}")
    if (ctx.tracer.enabled) Gates.foreach(g => m(s"gate.${g}_s") = Main.median(gateS(g)))
  }
}

object QueryMix {
  val Relational = Seq("tpcds_q67_top_per_state", "tpcds_q70_top_states", "g_fact_claims")
  val Llm = Seq("llm_lr_train", "llm_link_pagerank")
  val Gates: Seq[String] = Relational ++ Llm
}
