package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 registers here as a named query, and each
  * carries DuckDB oracle SQL with IDENTICAL column names and rounding (the
  * driver sorts columns by name and hashes values).
  */
object SparkEntry {

  /** All query packs, one per engine area. */
  def packs: Seq[Q] =
    CoreQueries.all ++ RelationalQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ MultimodalQueries.all ++
      StreamQueries.all ++ ExtrasQueries.all ++ StatsQueries.all ++
      TpchMoreQueries.all ++ PipelineQueries.all ++ SerdeQueries.all ++
      SketchQueries.all ++ SamplingQueries.all ++ CorpusQueries.all ++
      AnalyticsQueries.all ++ TpchFullQueries.all ++ TpchFinalQueries.all ++
      LambdaQueries.all ++ GraphQueries.all ++ WarehouseQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("check")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. The session
    * may be the caller's own rather than [[GraftSession]]'s, so each query
    * first [[GraftSession.adopt]]s it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map { q =>
      q.name -> ((s: SparkSession, d: String) => q.run(GraftSession.adopt(s), d))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    packs.map(q => q.name -> q.oracle).toMap
}
