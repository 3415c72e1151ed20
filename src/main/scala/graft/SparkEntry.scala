package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, AssocQueries, CurationQueries, DataPrepQueries, EvalQueries, ExtQueries, FinanceQueries, GenEvalQueries, GeoQueries, GrafanaQueries, HierQueries, LmQueries, MediaQueries, MlQueries, PqQueries, QueryDef, RankQueries, SamplingQueries, SketchQueries, TechQueries, TpchQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the training-data
  * extension operators) is exposed as a named query over the driver's
  * parquet tables, with a DuckDB oracle where the semantics are
  * SQL-expressible.
  */
object SparkEntry {

  val allQueries: Seq[QueryDef] =
    FinanceQueries.all ++ TpchQueries.all ++ DataPrepQueries.all ++
      AssocQueries.all ++
      ExtQueries.all ++ MediaQueries.all ++ GrafanaQueries.all ++
      CurationQueries.all ++ TechQueries.all ++ AnalyticsQueries.all ++
      PqQueries.all ++ MlQueries.all ++ RankQueries.all ++ LmQueries.all ++
      SamplingQueries.all ++ EvalQueries.all ++ HierQueries.all ++
      GeoQueries.all ++ SketchQueries.all ++ GenEvalQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    // the driver's smoke session may not configure
    // spark.sql.extensions=graft.GraftExtensions, so register imperatively
    // here (idempotent; identical expression either way). Oracle/bench/test
    // runs get the functions from the extension injector instead.
    GraftExtensions.register(spark)
    FinanceQueries.enrichedEvents(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
