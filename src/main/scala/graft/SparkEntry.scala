package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 (and the beyond-parity LLM
  * pipeline operators) is registered here as a named query over the
  * driver testdata, with an equivalent DuckDB oracle in [[oracleSql]].
  * Queries and oracles are authored together in `graft.queries.*`.
  */
object SparkEntry {

  /** Every gate, in registration order. A reused name fails here, naming
    * it: [[queries]] and [[oracleSql]] are Maps, so a second entry would
    * silently shadow the first. */
  private[graft] def registry: Seq[(String, Q)] = {
    val all = RelationalQueries.defs ++ WindowQueries.defs ++ PipelineQueries.defs ++
      SqlMartQueries.defs ++ LlmQueries.defs ++ StreamingQueries.defs ++
      GovernanceQueries.defs ++ TpchQueries.defs ++ TpcdsQueries.defs
    val reused = all.groupBy(_._1).collect { case (name, es) if es.size > 1 => name }
    require(reused.isEmpty, s"gate name(s) registered twice: ${reused.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.factClaimsQuery(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for ops whose result is not
    * SQL-expressible (driver then records a weaker rows-only check). */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, Q(_, Some(sql), _)) => name -> sql }.toMap

  /** Headline queries timed by [[Bench]] at sf0.1. */
  def benchQueries: Seq[String] =
    registry.collect { case (name, q) if q.bench => name }

  /** `names`, each required to be in `universe` ([[queries]]' keys or
    * [[benchQueries]]): a mistyped name fails loudly, naming it, instead
    * of selecting fewer gates. The one check behind Verify's
    * `SPARK_GRAFT_ONLY`, Bench's `SPARK_GRAFT_BENCH_ONLY` and
    * `TimeQueries`' arguments. */
  def knownGates(names: Seq[String], universe: Iterable[String]): Seq[String] = {
    val known = universe.toSet
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    names
  }
}
