package graft
package queries

import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.etl.Pipelines.cleanSales

/** h*: the set-operation rows of SURVEY.md §2 (EXCEPT, INTERSECT,
  * UNION), one oracle-checked query each.
  */
object HQueries {

  val all: Seq[Query] = Seq(
    // — set operations (§2h) —
    // EXCEPT/INTERSECT are set-distinct in both engines; Spark matches
    // columns by position, so both sides project the single key.
    Query("h1_except", ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .except(Tables.events(s, dir).select(col("user_id")))
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |EXCEPT SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin))),
    Query("h2_intersect", ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .intersect(Tables.events(s, dir).select(col("user_id")))
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |INTERSECT SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin))),
    // UNION DISTINCT (completes the set-op family with h1/h2): ids
    // active on EITHER side. Spark's union is bag semantics (UNION ALL);
    // the .distinct() makes it the SQL UNION — one hash-agg shuffle,
    // exactly an EXCEPT/INTERSECT's cost shape.
    Query("h3_union", ((s, dir) =>
      cleanSales(s, dir).select(col("customer_id"))
        .union(Tables.events(s, dir).select(col("user_id")))
        .distinct()
        .orderBy("customer_id")), Some(Oracle.sql(
      """SELECT customer_id FROM clean_sales
        |UNION SELECT user_id FROM events
        |ORDER BY customer_id""".stripMargin))))
}
