package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §7. Both maps derive from one list of
  * [[Query]] declarations, one family object per name prefix; building
  * them throws on a repeated name.
  */
object SparkEntry {

  private val registry: Map[String, Query] = Query.byName(Seq(
    A1to24Queries.all, A25to36Queries.all, A37to48Queries.all, BQueries.all,
    C1to15Queries.all, C16to34Queries.all, DQueries.all, EQueries.all,
    FQueries.all, GQueries.all, HQueries.all, JQueries.all, MQueries.all,
    OQueries.all, PQueries.all, QQueries.all, SQueries.all, StQueries.all,
    TQueries.all, VQueries.all, WQueries.all, XQueries.all).flatten)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_sales_summary")(spark, "/root/testdata/sf0.001")

  /** Every query's body, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.body }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  val oracleSql: Map[String, String] =
    registry.collect { case (n, Query(_, _, Some(sql))) => n -> sql }
}
