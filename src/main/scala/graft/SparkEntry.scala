package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered operator query (one per SURVEY.md §2 inventory row /
    * LLM-pipeline operator), each with a DuckDB oracle. */
  def registry: Seq[Q] =
    HrQueries.all ++ PipelineQueries.all ++ LlmQueries.all ++
      StatefulQueries.all ++ TemporalQueries.all ++ AnalyticsQueries.all ++
      CurationQueries.all ++ GovernanceQueries.all ++ LinkageQueries.all ++
      CorpusStatsQueries.all ++ SelectionQueries.all ++ IndexQueries.all ++
      StatsQueries.all ++ RetrievalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_gold_attrition_monthly")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
