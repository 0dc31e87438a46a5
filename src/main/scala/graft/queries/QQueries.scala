package graft
package queries

import org.apache.spark.sql.functions._

import graft.etl.Aggregates
import graft.etl.Pipelines.{cleanCustomers, cleanSales}

/** The reference's end-to-end derived tables (`main.py:71-76`), as driver
  * queries with DuckDB oracles. Every query ends in a total ORDER BY so both
  * engines produce identical row order even if the harness compares
  * unsorted. The sort is free for `Bench` (`count()` — Catalyst's
  * EliminateSorts removes a sort under an order-insensitive aggregate).
  */
object QQueries {

  val all: Seq[Query] = Seq(
    Query("q1_sales_summary", ((s, dir) =>
      Aggregates.salesSummary(cleanSales(s, dir))
        .orderBy("category", "month")), Some(Oracle.sql(
      """SELECT category, month,
        |       CAST(SUM(total_price) AS DOUBLE) AS total_sales,
        |       CAST(SUM(quantity) AS BIGINT) AS total_quantity,
        |       COUNT(DISTINCT order_id) AS order_count,
        |       COALESCE(CAST(SUM(total_price) AS DOUBLE) / NULLIF(COUNT(DISTINCT order_id), 0), 0.0) AS average_order_value,
        |       CAST(month || '-01' AS DATE) AS period_date
        |FROM clean_sales GROUP BY category, month
        |ORDER BY category, month""".stripMargin))),
    Query("q2_product_ranking", ((s, dir) =>
      Aggregates.productRanking(cleanSales(s, dir))
        .orderBy("rank_position")), Some(Oracle.sql(
      """SELECT product_id, product_name, total_sold, total_revenue, rank_position
        |FROM (SELECT product_id, product_name,
        |             CAST(SUM(quantity) AS BIGINT) AS total_sold,
        |             CAST(SUM(total_price) AS DOUBLE) AS total_revenue,
        |             ROW_NUMBER() OVER (ORDER BY SUM(quantity) DESC, SUM(total_price) DESC, product_id) AS rank_position
        |      FROM clean_sales GROUP BY product_id, product_name)
        |WHERE rank_position <= 5 ORDER BY rank_position""".stripMargin))),
    Query("q3_avg_check_by_region", ((s, dir) =>
      Aggregates.avgCheckByRegion(cleanSales(s, dir), cleanCustomers(s, dir))), Some(Oracle.sql(
      """SELECT region,
        |       CAST(SUM(order_total) AS DOUBLE) / COUNT(DISTINCT order_id) AS avg_check,
        |       COUNT(DISTINCT order_id) AS orders_count
        |FROM (SELECT t.order_id, t.order_total, COALESCE(c.region, 'Unknown') AS region
        |      FROM (SELECT order_id, customer_id, SUM(total_price) AS order_total
        |            FROM clean_sales GROUP BY order_id, customer_id) t
        |      LEFT JOIN clean_customers c ON t.customer_id = c.customer_id)
        |GROUP BY region ORDER BY avg_check DESC, region""".stripMargin))),
    Query("q4_clean_sales", ((s, dir) =>
      cleanSales(s, dir)
        .withColumn("unit_price", col("unit_price").cast("double"))
        .withColumn("total_price", col("total_price").cast("double"))
        .orderBy("order_id", "line_id")), Some(Oracle.sql(
      """SELECT order_id, line_id, product_id, product_name, category, quantity,
        |       CAST(unit_price AS DOUBLE) AS unit_price, order_date, customer_id,
        |       CAST(total_price AS DOUBLE) AS total_price, month
        |FROM clean_sales ORDER BY order_id, line_id""".stripMargin))),
    Query("q5_clean_customers", ((s, dir) =>
      cleanCustomers(s, dir).orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id, customer_name, email, registration_date, region,
        |       is_email_valid, customer_days
        |FROM clean_customers ORDER BY customer_id""".stripMargin))))
}
