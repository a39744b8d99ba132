package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private lazy val allQueries: Seq[Q] =
    CoreQueries.all ++ FunctionQueries.all ++ OperatorQueries.all ++
      PipelineQueries.all ++ WindowedQueries.all ++ CombinatorQueries.all ++
      DialectQueries.all ++ AggregateQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.toMaps(allQueries)._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    Q.toMaps(allQueries)._2
}
