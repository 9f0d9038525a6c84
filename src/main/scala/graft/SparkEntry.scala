package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryUtils.QFn
import graft.functions.{FnQueries, UdfQueries}
import graft.operators._
import graft.streaming.StreamQueries

/** Harness contract (SURVEY.md §2 inventory, §3.1 lifecycle): the
  * surface Verify, Bench and BenchSlice read. Each [[QueryFamily]]
  * object contributes a `queries` map of
  * `(SparkSession, sfDir) => DataFrame` and a matching DuckDB `oracles`
  * map. [[families]] is the one list of them; both maps below are
  * merged from it once, at initialization, which fails on a name
  * registered twice or an oracle without a query (see
  * [[QueryFamily.registry]]).
  *
  * Adding a query is one entry in a family's `queries` and one in its
  * `oracles`; adding a family is one more element of [[families]].
  */
object SparkEntry {

  /** Flagship query on sf0.001; the smoke check expects rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby_pricing")(spark, "/root/testdata/sf0.001")

  /** Every query family, each exactly once. */
  val families: Seq[QueryFamily] = Seq(
    ScanFilterQueries, JoinQueries, AggQueries, WindowQueries, SetQueries,
    FnQueries, GenQueries, StreamQueries, LlmQueries, UdfQueries,
    ScaleQueries, ExtraQueries, Round2Queries, PipelineQueries,
    SurfaceQueries, CurationQueries, CorpusStatsQueries, TrainPrepQueries,
    TpchQueries, StatSurfaceQueries, DepthQueries, CorpusHealthQueries,
    BehaviorQueries, Round3Queries, TpchDeepQueries, PipelineDepthQueries,
    AnalyticsDepthQueries, EvalDepthQueries, ModernSurfaceQueries,
    GraphEvalQueries, GraphStatsQueries, FinalDepthQueries,
    TpchSupplyQueries, TuningQueries, AnalyticsClassicsQueries,
    CorpusModelQueries, WideSurfaceQueries, CohortSignalQueries,
    QualitySignalQueries, RobustStatsQueries, SessionSurfaceQueries,
    VectorAuditQueries, CurationRulesQueries, Round6Queries, Round6bQueries,
    Round6cQueries, Round6dQueries, Round6eQueries, Round6fQueries,
    Round7Queries, Round7bQueries, Round7cQueries, Round7dQueries,
    Round7eQueries, Round7fQueries, Round7gQueries, Round7hQueries,
    Round7iQueries, Round7jQueries, Round8Queries, Round8bQueries,
    Round8cQueries, Round8dQueries, Round8eQueries, Round8fQueries,
    Round8gQueries, Round8hQueries, Round8iQueries, Round8jQueries,
    Round8kQueries, Round8lQueries, Round8mQueries, Round8nQueries,
    Round8oQueries, Round8pQueries, Round8qQueries, Round8rQueries,
    Round8sQueries, Round8tQueries, Round8uQueries, Round8vQueries,
    Round8wQueries, Round8xQueries, Round8yQueries, Round8zQueries,
    Round9aQueries, Round9bQueries, Round9cQueries, Round9dQueries,
    Round9fQueries, Round9gQueries, Round9hQueries, Round9iQueries,
    Round9jQueries, Round9kQueries, Round9lQueries, Round9mQueries,
    Round9nQueries, Round9oQueries, AnnQueries)
  private val registry = QueryFamily.registry(families)

  /** Every declared query by name. */
  val queries: Map[String, QFn] = registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = registry.oracleSql
}
