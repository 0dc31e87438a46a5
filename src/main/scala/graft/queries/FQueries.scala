package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Tables, TransformSales}

/** f*: the filter, dedup and null-fill operator rows of SURVEY.md §2, one
  * oracle-checked query each.
  */
object FQueries {

  val all: Seq[Query] = Seq(
    // — filters / cleaning (§2c) —
    Query("f1_dedup_first", ((s, dir) => {
      val w = Window
        .partitionBy(TransformSales.dedupKey.map(col): _*)
        .orderBy(col("src"), col("line_id"))
      Tables.dirtySales(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("order_id", "line_id", "product_id", "quantity")
        .orderBy("order_id", "line_id")
    }), Some(Oracle.sql(
      """SELECT order_id, line_id, product_id, quantity
        |FROM (SELECT d.*, ROW_NUMBER() OVER (
        |        PARTITION BY order_id, product_id, quantity, unit_price
        |        ORDER BY src, line_id) AS rn
        |      FROM dirty_sales d)
        |WHERE rn = 1 ORDER BY order_id, line_id""".stripMargin))),
    Query("f2_notnull_filter", ((s, dir) =>
      Tables.dirtyCustomers(s, dir)
        .filter(col("customer_id").isNotNull)
        .select("customer_id", "customer_name")
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id, customer_name FROM dirty_customers
        |WHERE customer_id IS NOT NULL ORDER BY customer_id""".stripMargin))),
    Query("f3_nadrop_critical", ((s, dir) =>
      Tables.dirtySales(s, dir)
        .na.drop("any", TransformSales.criticalCols)
        .select("order_id", "line_id", "src")
        .orderBy("order_id", "line_id", "src")), Some(Oracle.sql(
      """SELECT order_id, line_id, src FROM dirty_sales
        |WHERE order_id IS NOT NULL AND customer_id IS NOT NULL
        |  AND order_date IS NOT NULL AND quantity IS NOT NULL
        |  AND unit_price IS NOT NULL
        |ORDER BY order_id, line_id, src""".stripMargin))),
    Query("f4_fill_category", ((s, dir) =>
      Tables.dirtySales(s, dir)
        .na.fill(Map("category" -> "Unknown"))
        .select("order_id", "line_id", "src", "category")
        .orderBy("order_id", "line_id", "src")), Some(Oracle.sql(
      """SELECT order_id, line_id, src, COALESCE(category, 'Unknown') AS category
        |FROM dirty_sales ORDER BY order_id, line_id, src""".stripMargin))),
    Query("f5_fill_region", ((s, dir) =>
      Tables.customers(s, dir)
        .na.fill(Map("region" -> "Unknown"))
        .select("customer_id", "region")
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id, COALESCE(region, 'Unknown') AS region
        |FROM customers ORDER BY customer_id""".stripMargin))))
}
