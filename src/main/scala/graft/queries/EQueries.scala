package graft
package queries

import org.apache.spark.sql.functions._

import graft.etl.Tables

/** e*: JSON extraction — field extraction, schema inference, array
  * explode and corrupt-record handling over synthesized JSON payloads.
  */
object EQueries {

  val all: Seq[Query] = Seq(
    // — semi-structured extraction —
    Query("e1_json_extract", ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")), Some(Oracle.sql(
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin))),
    // — schema'd JSON parsing (from_json with explicit schema) —
    Query("e2_json_schema", ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy("event_id")), Some(Oracle.sql(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin))),
    // — JSON ARRAY parsing + explode: e1/e2 are scalar extracts; this is
    //   the one-row→many-rows semi-structured shape (tag lists, nested
    //   item arrays). The fixture synthesizes a 2-tag JSON array from
    //   props.k (the corpus carries only flat objects — same sanctioned
    //   injection device as docsPii); the operator under test is
    //   from_json(ArrayType) + explode, a narrow Generate at scan speed,
    //   zero shuffles before the presentation sort. The (event_id, tag)
    //   order is total: the two tags per event carry distinct prefixes. —
    Query("e3_json_explode", ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val tagsJson = concat(lit("[\"t"), pmod(k, lit(3)).cast("string"),
        lit("\",\"u"), pmod(k, lit(5)).cast("string"), lit("\"]"))
      // pre-parse spread (r19): the parse+explode is the per-row cost
      // and the events scan is 1 partition at sf0.1 — and the trailing
      // range sort samples its child, so the serial parse ran TWICE
      // (profiled: two single-task 0.7–1.4 s stages). The explicit
      // exchange moves the raw (event_id, props) rows once; both sort
      // passes re-run the parse 32-way off the materialized exchange.
      graft.PartitionOps.repartitionBeforeFanout(
          Tables.events(s, dir).select(col("event_id"), col("props")),
          col("event_id"))
        .select(col("event_id"), tagsJson.as("tags_json"))
        .select(col("event_id"),
          explode(from_json(col("tags_json"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))).as("tag"))
        .orderBy("event_id", "tag")
    }), Some(Oracle.sql(
      """SELECT event_id, unnest(json_transform(tags_json, '["VARCHAR"]')) AS tag
        |FROM (SELECT event_id,
        |             '["t' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 3)
        |               || '","u' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 5)
        |               || '"]' AS tags_json
        |      FROM events)
        |ORDER BY event_id, tag""".stripMargin))),
    // — corrupt-record JSON handling: the error-taxonomy leg of the
    //   e-family (e1/e2/e3 assume clean JSON; real feeds carry
    //   malformed rows). Every 7th event's props is mangled with a
    //   leading '{' (unparseable in ANY JSON dialect — the injection is
    //   chosen so Spark's Jackson and DuckDB's json_valid cannot
    //   disagree at the margin), and the per-type rollup counts
    //   corrupt rows beside the valid-row field sum — the
    //   ingest-monitoring signal a pipeline alerts on. Detection uses
    //   from_json's columnNameOfCorruptRecord channel (PERMISSIVE mode
    //   does NOT null the struct on malformed input — it nulls the
    //   FIELDS and, when asked, preserves the raw record in the corrupt
    //   column; a bare rec.isNull check silently counts zero). Narrow
    //   parse at scan speed + one small rollup. —
    // e4 oracle: the same '{'-prefix mangle; validity via json_valid,
    // field sum over valid rows only
    Query("e4_json_corrupt", ((s, dir) => {
      val mangled = when(col("event_id") % 7 === 0,
        concat(lit("{"), col("props"))).otherwise(col("props"))
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), mangled.as("props"))
        .withColumn("rec", from_json(col("props"),
          org.apache.spark.sql.types.StructType
            .fromDDL("k INT, _corrupt_record STRING"),
          Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("rec").getField("_corrupt_record").isNotNull, 1))
            .as("n_corrupt"),
          sum(col("rec").getField("k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    }), Some(Oracle.sqlWith(
      """ev4 AS (SELECT event_id, event_type,
        |          CASE WHEN event_id % 7 = 0 THEN '{' || props
        |          ELSE props END AS props
        |        FROM events)""".stripMargin,
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CASE WHEN NOT json_valid(props) THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_corrupt,
        |       CAST(SUM(CASE WHEN json_valid(props)
        |                THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |                END) AS BIGINT) AS sum_k
        |FROM ev4 GROUP BY event_type ORDER BY event_type""".stripMargin))))
}
