package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once: its name, its Spark body over
  * (session, data dir), and its DuckDB oracle SQL — `None` for a
  * rows-only query. Families declare these by name prefix under
  * `graft.queries`; [[SparkEntry]] derives the driver maps from the list.
  */
final case class Query(name: String, body: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {

  /** `qs` keyed by name; throws on a repeated name, which a `Map(...)`
    * literal or a `++` would silently drop.
    */
  def byName(qs: Seq[Query]): Map[String, Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"repeated query names: ${repeated.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
