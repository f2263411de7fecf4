package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 (and the training-data-pipeline
  * extensions) has one entry in [[queries]]; SQL-expressible ones carry a
  * DuckDB oracle in [[oracleSql]]. Query names are stable operator ids.
  */
object SparkEntry {
  private def registry: Seq[GraftQuery] =
    graft.queries.RelationalQueries.all ++
      graft.queries.AnalyticsQueries.all ++
      graft.queries.RowOpsQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.DedupQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.ProjectionQueries.all ++
      graft.queries.PreprocessQueries.all ++
      graft.queries.StreamingQueries.all ++
      graft.queries.EnrichQueries.all ++
      graft.queries.MultimodalQueries.all ++
      graft.queries.BucketingQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.IoQueries.all ++
      graft.queries.GraphQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** The query names in registry order. */
  def names: Seq[String] = registry.map(_.name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** What Bench times: the production form where one is declared
    * ([[GraftQuery.benchAs]] — the ε-band gates whose exact twins exist
    * only to prove the sketch), the gate form everywhere else.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.bench.getOrElse(q.run)).toMap
}
