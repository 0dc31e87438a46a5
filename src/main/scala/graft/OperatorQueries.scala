package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Tables, TransformCustomers, TransformSales}
import graft.etl.Pipelines.cleanSales

/** One oracle-checked query per operator row of SURVEY.md §2, so the
  * inventory is individually verifiable. Naming follows §2 ids
  * (p* projections, f* filters, j* joins, a* aggregates, w* windows,
  * o* sort/limit). Ops not listed here are covered elsewhere:
  * S1-S5 CSV sources → [[graft.etl.Extract]] + ScalaTest (no CSV in the
  * oracle harness), P7 pruning/P9 drop → Catalyst-automatic (SURVEY §4),
  * F2/F6/O3 → inside q5/q3, K* sinks → [[graft.etl.Load]].
  */
object OperatorQueries {

  private val emailRe = TransformCustomers.emailPattern

  /** Product-level roll-up shared by a5/w1/o1/o2. */
  private def productAgg(s: SparkSession, dir: String): DataFrame =
    cleanSales(s, dir)
      .groupBy("product_id", "product_name")
      .agg(sum("quantity").cast("long").as("total_sold"),
        sum("total_price").cast("double").as("total_revenue"))

  private val productAggSql =
    """SELECT product_id, product_name,
      |       CAST(SUM(quantity) AS BIGINT) AS total_sold,
      |       CAST(SUM(total_price) AS DOUBLE) AS total_revenue
      |FROM clean_sales GROUP BY product_id, product_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — projections / scalar functions (§2b) —
    "p1_total_price" -> ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          (col("quantity") * col("unit_price")).cast("double").as("total_price"))
        .orderBy("order_id", "line_id")),
    "p2_month_bucket" -> ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          date_format(col("order_date"), "yyyy-MM").as("month"))
        .orderBy("order_id", "line_id")),
    "p3_lenient_cast" -> ((s, dir) =>
      Tables.dirtyCustomers(s, dir)
        .select(col("customer_name"),
          try_to_date(col("registration_raw")).as("registration_date"))
        .orderBy("customer_name")),
    "p4_email_regex" -> ((s, dir) =>
      Tables.customers(s, dir)
        .select(col("customer_id"), col("email"),
          coalesce(col("email"), lit("")).rlike(emailRe).as("is_email_valid"))
        .orderBy("customer_id")),
    "p5_customer_days" -> ((s, dir) =>
      Tables.customers(s, dir)
        .select(col("customer_id"),
          datediff(lit(TransformCustomers.defaultSnapshot), col("registration_date"))
            .cast("int").as("customer_days"))
        .orderBy("customer_id")),
    "p6_period_date" -> ((s, dir) =>
      cleanSales(s, dir).select("month").distinct()
        .withColumn("period_date", to_date(concat(col("month"), lit("-01"))))
        .orderBy("month")),

    // — filters / cleaning (§2c) —
    "f1_dedup_first" -> ((s, dir) => {
      val w = Window
        .partitionBy(TransformSales.dedupKey.map(col): _*)
        .orderBy(col("src"), col("line_id"))
      Tables.dirtySales(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("order_id", "line_id", "product_id", "quantity")
        .orderBy("order_id", "line_id")
    }),
    "f2_notnull_filter" -> ((s, dir) =>
      Tables.dirtyCustomers(s, dir)
        .filter(col("customer_id").isNotNull)
        .select("customer_id", "customer_name")
        .orderBy("customer_id")),
    "f3_nadrop_critical" -> ((s, dir) =>
      Tables.dirtySales(s, dir)
        .na.drop("any", TransformSales.criticalCols)
        .select("order_id", "line_id", "src")
        .orderBy("order_id", "line_id", "src")),
    "f4_fill_category" -> ((s, dir) =>
      Tables.dirtySales(s, dir)
        .na.fill(Map("category" -> "Unknown"))
        .select("order_id", "line_id", "src", "category")
        .orderBy("order_id", "line_id", "src")),
    "f5_fill_region" -> ((s, dir) =>
      Tables.customers(s, dir)
        .na.fill(Map("region" -> "Unknown"))
        .select("customer_id", "region")
        .orderBy("customer_id")),

    // — joins (§2d) —
    "j1_left_join_composite" -> ((s, dir) => {
      val cs = cleanSales(s, dir)
      val sums = cs.groupBy("category", "month")
        .agg(sum("total_price").cast("double").as("total_sales"))
      val counts = cs.groupBy("category", "month")
        .agg(countDistinct("order_id").as("order_count"))
      sums.join(counts, Seq("category", "month"), "left")
        .orderBy("category", "month")
    }),
    "j2_fact_dim_join" -> ((s, dir) =>
      Tables.sales(s, dir)
        .join(broadcast(Tables.customers(s, dir).select("customer_id", "region")),
          Seq("customer_id"), "left")
        .select("order_id", "line_id", "region")
        .orderBy("order_id", "line_id")),
    "j3_salted_join" -> ((s, dir) =>
      // row-identical to j2, executed through the skew-salting machinery
      graft.etl.Skew.saltedEquiJoin(
        Tables.sales(s, dir),
        Tables.customers(s, dir).select("customer_id", "region"),
        key = "customer_id",
        saltSource = col("order_id") * 8 + col("line_id"),
        nSalts = 8, joinType = "left")
        .select("order_id", "line_id", "region")
        .orderBy("order_id", "line_id")),

    // — aggregations (§2e) —
    "a1_group_sums" -> ((s, dir) =>
      cleanSales(s, dir).groupBy("category", "month")
        .agg(sum("total_price").cast("double").as("total_sales"),
          sum("quantity").cast("long").as("total_quantity"))
        .orderBy("category", "month")),
    "a2_distinct_count" -> ((s, dir) =>
      cleanSales(s, dir).groupBy("category", "month")
        .agg(countDistinct("order_id").as("order_count"))
        .orderBy("category", "month")),
    "a3_order_rollup" -> ((s, dir) =>
      cleanSales(s, dir).groupBy("order_id", "customer_id")
        .agg(sum("total_price").cast("double").as("order_total"))
        .orderBy("order_id", "customer_id")),
    "a4_group_mean" -> ((s, dir) =>
      Tables.customers(s, dir)
        .join(Tables.table(s, dir, "customer")
          .select(col("c_custkey").as("customer_id"), col("c_acctbal")), Seq("customer_id"))
        .groupBy("region")
        .agg((sum(col("c_acctbal").cast(Tables.Money)).cast("double") / count(lit(1)))
          .as("avg_acctbal"))
        .orderBy("region")),
    "a6_safe_ratio" -> ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          coalesce(
            try_divide((col("quantity") * col("unit_price")).cast("double"),
              (col("order_id") % 5).cast("int")),
            lit(0.0)).as("safe_ratio"))
        .orderBy("order_id", "line_id")),

    // — window / sort / limit (§2f, §2g) —
    "w1_rank_window" -> ((s, dir) =>
      productAgg(s, dir)
        .withColumn("rank_position",
          row_number().over(Window.orderBy(col("total_sold").desc,
            col("total_revenue").desc, col("product_id"))).cast("long"))
        .select("product_id", "rank_position")
        .orderBy("rank_position")),
    "o1_multisort" -> ((s, dir) =>
      productAgg(s, dir)
        .orderBy(col("total_sold").desc, col("total_revenue").desc, col("product_id"))),
    "o2_topk" -> ((s, dir) =>
      productAgg(s, dir)
        .orderBy(col("total_sold").desc, col("total_revenue").desc, col("product_id"))
        .limit(10)),

    // — set operations (§2h) —
    // EXCEPT/INTERSECT are set-distinct in both engines; Spark matches
    // columns by position, so both sides project the single key.
    "h1_except" -> ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .except(Tables.events(s, dir).select(col("user_id")))
        .orderBy("customer_id")),
    "h2_intersect" -> ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .intersect(Tables.events(s, dir).select(col("user_id")))
        .orderBy("customer_id")),
    // UNION DISTINCT (completes the set-op family with h1/h2): ids
    // active on EITHER side. Spark's union is bag semantics (UNION ALL);
    // the .distinct() makes it the SQL UNION — one hash-agg shuffle,
    // exactly an EXCEPT/INTERSECT's cost shape.
    "h3_union" -> ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .union(Tables.events(s, dir).select(col("user_id")))
        .distinct()
        .orderBy("customer_id")),

    // — pivot (fixed value list → deterministic schema; the dynamic-pivot
    //   two-pass variant belongs at the API layer, never at 100 TB) —
    "x1_pivot" -> ((s, dir) => pivotWide(s, dir).orderBy("category")),

    // — unpivot (melt): the wide region columns back to sparse long form.
    //   Narrow Expand over the wide frame (one output row per non-null
    //   cell, no shuffle beyond the pivot's own agg); nulls filtered so
    //   the long form matches DuckDB UNPIVOT's null-excluding semantics —
    "x2_unpivot" -> ((s, dir) =>
      pivotWide(s, dir)
        .unpivot(Array(col("category")),
          Array(col("africa"), col("america"), col("asia"), col("europe"),
            col("middle_east"), col("unknown")),
          "region", "total")
        .filter(col("total").isNotNull)
        .orderBy("category", "region")))

  /** Shared wide frame for x1 (pivot) and x2 (unpivot roundtrip). */
  private def pivotWide(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
      .select(col("customer_id"), col("region"))
    cleanSales(s, dir)
      .join(broadcast(cust), Seq("customer_id"), "left")
      .withColumn("region", coalesce(col("region"), lit("Unknown")))
      .groupBy("category")
      .pivot("region",
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST", "Unknown"))
      .agg(sum("total_price").cast("double"))
      .toDF("category", "africa", "america", "asia", "europe",
        "middle_east", "unknown")
  }

  private def regionCase(r: String) =
    s"CAST(SUM(CASE WHEN region = '$r' THEN total_price END) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "h1_except" -> Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |EXCEPT SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin),
    "h2_intersect" -> Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |INTERSECT SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin),
    "h3_union" -> Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |UNION SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin),
    "x1_pivot" -> Oracle.sqlWith(
      """joined AS (
        |  SELECT s.category, s.total_price,
        |         COALESCE(c.region, 'Unknown') AS region
        |  FROM clean_sales s
        |  LEFT JOIN clean_customers c ON s.customer_id = c.customer_id)""".stripMargin,
      s"""SELECT category,
         |       ${regionCase("AFRICA")} AS africa,
         |       ${regionCase("AMERICA")} AS america,
         |       ${regionCase("ASIA")} AS asia,
         |       ${regionCase("EUROPE")} AS europe,
         |       ${regionCase("MIDDLE EAST")} AS middle_east,
         |       ${regionCase("Unknown")} AS unknown
         |FROM joined GROUP BY category ORDER BY category""".stripMargin),
    "x2_unpivot" -> Oracle.sqlWith(
      s"""joined AS (
         |  SELECT s.category, s.total_price,
         |         COALESCE(c.region, 'Unknown') AS region
         |  FROM clean_sales s
         |  LEFT JOIN clean_customers c ON s.customer_id = c.customer_id),
         |wide AS (
         |  SELECT category,
         |         ${regionCase("AFRICA")} AS africa,
         |         ${regionCase("AMERICA")} AS america,
         |         ${regionCase("ASIA")} AS asia,
         |         ${regionCase("EUROPE")} AS europe,
         |         ${regionCase("MIDDLE EAST")} AS middle_east,
         |         ${regionCase("Unknown")} AS unknown
         |  FROM joined GROUP BY category)""".stripMargin,
      """SELECT category, region, total FROM (
        |  SELECT category, 'africa' AS region, africa AS total FROM wide
        |  UNION ALL SELECT category, 'america', america FROM wide
        |  UNION ALL SELECT category, 'asia', asia FROM wide
        |  UNION ALL SELECT category, 'europe', europe FROM wide
        |  UNION ALL SELECT category, 'middle_east', middle_east FROM wide
        |  UNION ALL SELECT category, 'unknown', unknown FROM wide)
        |WHERE total IS NOT NULL
        |ORDER BY category, region""".stripMargin),
    "p1_total_price" -> Oracle.sql(
      """SELECT order_id, line_id, CAST(quantity * unit_price AS DOUBLE) AS total_price
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin),
    "p2_month_bucket" -> Oracle.sql(
      """SELECT order_id, line_id, strftime(order_date, '%Y-%m') AS month
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin),
    "p3_lenient_cast" -> Oracle.sql(
      """SELECT customer_name, TRY_CAST(registration_raw AS DATE) AS registration_date
        |FROM dirty_customers ORDER BY customer_name""".stripMargin),
    "p4_email_regex" -> Oracle.sql(
      s"""SELECT customer_id, email,
         |       regexp_matches(COALESCE(email, ''), '^[A-Za-z0-9_.-]+@[A-Za-z0-9_.-]+\\.[A-Za-z0-9_]+$$') AS is_email_valid
         |FROM customers ORDER BY customer_id""".stripMargin),
    "p5_customer_days" -> Oracle.sql(
      """SELECT customer_id,
        |       CAST(date_diff('day', registration_date, DATE '2026-01-01') AS INTEGER) AS customer_days
        |FROM customers ORDER BY customer_id""".stripMargin),
    "p6_period_date" -> Oracle.sql(
      """SELECT DISTINCT month, CAST(month || '-01' AS DATE) AS period_date
        |FROM clean_sales ORDER BY month""".stripMargin),
    "f1_dedup_first" -> Oracle.sql(
      """SELECT order_id, line_id, product_id, quantity
        |FROM (SELECT d.*, ROW_NUMBER() OVER (
        |        PARTITION BY order_id, product_id, quantity, unit_price
        |        ORDER BY src, line_id) AS rn
        |      FROM dirty_sales d)
        |WHERE rn = 1 ORDER BY order_id, line_id""".stripMargin),
    "f2_notnull_filter" -> Oracle.sql(
      """SELECT customer_id, customer_name FROM dirty_customers
        |WHERE customer_id IS NOT NULL ORDER BY customer_id""".stripMargin),
    "f3_nadrop_critical" -> Oracle.sql(
      """SELECT order_id, line_id, src FROM dirty_sales
        |WHERE order_id IS NOT NULL AND customer_id IS NOT NULL
        |  AND order_date IS NOT NULL AND quantity IS NOT NULL
        |  AND unit_price IS NOT NULL
        |ORDER BY order_id, line_id, src""".stripMargin),
    "f4_fill_category" -> Oracle.sql(
      """SELECT order_id, line_id, src, COALESCE(category, 'Unknown') AS category
        |FROM dirty_sales ORDER BY order_id, line_id, src""".stripMargin),
    "f5_fill_region" -> Oracle.sql(
      """SELECT customer_id, COALESCE(region, 'Unknown') AS region
        |FROM customers ORDER BY customer_id""".stripMargin),
    "j1_left_join_composite" -> Oracle.sql(
      """SELECT a.category, a.month, a.total_sales, b.order_count
        |FROM (SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales
        |      FROM clean_sales GROUP BY category, month) a
        |LEFT JOIN (SELECT category, month, COUNT(DISTINCT order_id) AS order_count
        |           FROM clean_sales GROUP BY category, month) b
        |  ON a.category = b.category AND a.month = b.month
        |ORDER BY a.category, a.month""".stripMargin),
    "j2_fact_dim_join" -> Oracle.sql(
      """SELECT s.order_id, s.line_id, c.region
        |FROM sales s LEFT JOIN customers c ON s.customer_id = c.customer_id
        |ORDER BY s.order_id, s.line_id""".stripMargin),
    "j3_salted_join" -> Oracle.sql(
      """SELECT s.order_id, s.line_id, c.region
        |FROM sales s LEFT JOIN customers c ON s.customer_id = c.customer_id
        |ORDER BY s.order_id, s.line_id""".stripMargin),
    "a1_group_sums" -> Oracle.sql(
      """SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales,
        |       CAST(SUM(quantity) AS BIGINT) AS total_quantity
        |FROM clean_sales GROUP BY category, month ORDER BY category, month""".stripMargin),
    "a2_distinct_count" -> Oracle.sql(
      """SELECT category, month, COUNT(DISTINCT order_id) AS order_count
        |FROM clean_sales GROUP BY category, month ORDER BY category, month""".stripMargin),
    "a3_order_rollup" -> Oracle.sql(
      """SELECT order_id, customer_id, CAST(SUM(total_price) AS DOUBLE) AS order_total
        |FROM clean_sales GROUP BY order_id, customer_id
        |ORDER BY order_id, customer_id""".stripMargin),
    "a4_group_mean" -> Oracle.sql(
      """SELECT cu.region,
        |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
        |FROM customers cu JOIN customer c ON cu.customer_id = c.c_custkey
        |GROUP BY cu.region ORDER BY cu.region""".stripMargin),
    "a6_safe_ratio" -> Oracle.sql(
      """SELECT order_id, line_id,
        |       COALESCE(CAST(quantity * unit_price AS DOUBLE) / NULLIF(CAST(order_id % 5 AS INTEGER), 0), 0.0) AS safe_ratio
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin),
    "w1_rank_window" -> Oracle.sql(
      s"""SELECT product_id,
         |       ROW_NUMBER() OVER (ORDER BY total_sold DESC, total_revenue DESC, product_id) AS rank_position
         |FROM ($productAggSql)
         |ORDER BY rank_position""".stripMargin),
    "o1_multisort" -> Oracle.sql(
      s"""SELECT * FROM ($productAggSql)
         |ORDER BY total_sold DESC, total_revenue DESC, product_id""".stripMargin),
    "o2_topk" -> Oracle.sql(
      s"""SELECT * FROM ($productAggSql)
         |ORDER BY total_sold DESC, total_revenue DESC, product_id LIMIT 10""".stripMargin))
}
