package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §0.2 and §7.
  *
  * `queries` is assembled from the per-family QDef registries under
  * graft.ops; every key there is one line of SURVEY.md §2's inventory.
  * Operators are organized by family, not by when they were added: a
  * key goes to the module that already holds most keys with its prefix
  * (`graph_` in ClusterOps, `stats_` in DriftOps, `privacy_` in
  * PrivacyOps, …).
  */
object SparkEntry {

  /** All graded operators, one registry per family module. */
  def defs: Seq[QDef] =
    ops.Scans.all ++ ops.ProjectFilter.all ++ ops.Joins.all ++
      ops.Aggregates.all ++ ops.Windows.all ++ ops.SortSetOps.all ++
      ops.Functions.all ++ ops.Udx.all ++ ops.LlmPipeline.all ++
      ops.LlmExtras.all ++ ops.Streaming.all ++ ops.Sampling.all ++
      ops.HarmonizeQueries.all ++ ops.EventAnalytics.all ++
      ops.PipelineOps.all ++ ops.ClusterOps.all ++ ops.CorpusOps.all ++
      ops.EvolutionQueries.all ++ ops.DriftOps.all ++ ops.SketchOps.all ++
      ops.PrivacyOps.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Aggregates.q1PricingSummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.key -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.key -> _)).toMap
}
