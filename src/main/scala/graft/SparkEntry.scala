package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DedupQueries, EvalQueries, EventQueries, MultimodalQueries, NLQueries, PackingQueries, QueryPack, RelationalQueries, RetrievalQueries, SamplingQueries, TextQueries, VectorQueries}
import graft.sources.Sources

/** Driver contract — see SURVEY.md §7 and the builder prompt.
  *
  * Each [[QueryPack]] contributes driver-checkable queries (run over the
  * TESTDATA.md parquet tables at `sfDir`) plus DuckDB oracle SQL for the
  * hash compare. Packs are merged here; name collisions are a bug.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    EvalQueries,
    RelationalQueries,
    VectorQueries,
    DedupQueries,
    TextQueries,
    EventQueries,
    MultimodalQueries,
    SamplingQueries,
    PackingQueries,
    RetrievalQueries,
    NLQueries)

  /** The scale-factor directory the flagship query reads. */
  private[graft] val EntrySfDir = "/root/testdata/sf0.001"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's default description (agentic_workflow_transformation
    * .py:318) adapted to the customer table, through the full NL parse →
    * plan IR → compile path. */
  def entry(spark: SparkSession): DataFrame =
    Engine.run(
      "Filter rows where c_acctbal > 1000 and select columns c_name and c_acctbal.",
      Sources.table(spark, EntrySfDir, "customer"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = packs.flatMap(_.queries)
    require(merged.size == merged.map(_._1).distinct.size, "duplicate query names across packs")
    merged.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = packs.flatMap(_.oracleSql).toMap
}
