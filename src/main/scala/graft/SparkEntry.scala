package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7. */
object SparkEntry {

  /** All registered capabilities, grouped as in SURVEY §2. */
  def catalog: Seq[QueryDef] =
    EtlQueries.all ++ AnalyticsQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ MlQueries.all ++
      PipelineQueries.all ++ StreamingQueries.all ++ CurationQueries.all ++
      TimeSeriesQueries.all ++ StatsQueries.all ++ GraphQueries.all ++
      GeoQueries.all ++ TableQueries.all ++ TpchQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's query1 (airflow.py:655-662) analog. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_topk_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
