package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common.{productAgg, productAggSql}

/** o*: the sort/limit rows of SURVEY.md §2, one oracle-checked query
  * each.
  */
object OQueries {

  val all: Seq[Query] = Seq(
    Query("o1_multisort", ((s, dir) =>
      productAgg(s, dir)
        .orderBy(col("total_sold").desc, col("total_revenue").desc, col("product_id"))),
      Some(Oracle.sql(
      s"""SELECT * FROM ($productAggSql)
         |ORDER BY total_sold DESC, total_revenue DESC, product_id""".stripMargin))),
    Query("o2_topk", ((s, dir) =>
      productAgg(s, dir)
        .orderBy(col("total_sold").desc, col("total_revenue").desc, col("product_id"))
        .limit(10)), Some(Oracle.sql(
      s"""SELECT * FROM ($productAggSql)
         |ORDER BY total_sold DESC, total_revenue DESC, product_id LIMIT 10""".stripMargin))))
}
