package graft
package queries

import org.apache.spark.sql.functions._

import graft.etl.{Tables, TransformCustomers}
import graft.etl.Pipelines.cleanSales

/** p*: the projection rows of SURVEY.md §2 (derived columns, lenient
  * casts, regex checks), one oracle-checked query each.
  */
object PQueries {

  private val emailRe = TransformCustomers.emailPattern

  val all: Seq[Query] = Seq(
    // — projections / scalar functions (§2b) —
    Query("p1_total_price", ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          (col("quantity") * col("unit_price")).cast("double").as("total_price"))
        .orderBy("order_id", "line_id")), Some(Oracle.sql(
      """SELECT order_id, line_id, CAST(quantity * unit_price AS DOUBLE) AS total_price
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin))),
    Query("p2_month_bucket", ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          date_format(col("order_date"), "yyyy-MM").as("month"))
        .orderBy("order_id", "line_id")), Some(Oracle.sql(
      """SELECT order_id, line_id, strftime(order_date, '%Y-%m') AS month
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin))),
    Query("p3_lenient_cast", ((s, dir) =>
      Tables.dirtyCustomers(s, dir)
        .select(col("customer_name"),
          try_to_date(col("registration_raw")).as("registration_date"))
        .orderBy("customer_name")), Some(Oracle.sql(
      """SELECT customer_name, TRY_CAST(registration_raw AS DATE) AS registration_date
        |FROM dirty_customers ORDER BY customer_name""".stripMargin))),
    Query("p4_email_regex", ((s, dir) =>
      Tables.customers(s, dir)
        .select(col("customer_id"), col("email"),
          coalesce(col("email"), lit("")).rlike(emailRe).as("is_email_valid"))
        .orderBy("customer_id")), Some(Oracle.sql(
      s"""SELECT customer_id, email,
         |       regexp_matches(COALESCE(email, ''), '^[A-Za-z0-9_.-]+@[A-Za-z0-9_.-]+\\.[A-Za-z0-9_]+$$') AS is_email_valid
         |FROM customers ORDER BY customer_id""".stripMargin))),
    Query("p5_customer_days", ((s, dir) =>
      Tables.customers(s, dir)
        .select(col("customer_id"),
          datediff(lit(TransformCustomers.defaultSnapshot), col("registration_date"))
            .cast("int").as("customer_days"))
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id,
        |       CAST(date_diff('day', registration_date, DATE '2026-01-01') AS INTEGER) AS customer_days
        |FROM customers ORDER BY customer_id""".stripMargin))),
    Query("p6_period_date", ((s, dir) =>
      cleanSales(s, dir).select("month").distinct()
        .withColumn("period_date", to_date(concat(col("month"), lit("-01"))))
        .orderBy("month")), Some(Oracle.sql(
      """SELECT DISTINCT month, CAST(month || '-01' AS DATE) AS period_date
        |FROM clean_sales ORDER BY month""".stripMargin))))
}
