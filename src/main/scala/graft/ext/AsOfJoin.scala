package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join — for every left row, the latest right row with
  * `right.ts <= left.ts` on the same key (the time-series enrichment join
  * Spark lacks as a built-in; kdb's `aj`, DuckDB's ASOF JOIN).
  *
  * Implementation is the scalable tagged-union idiom rather than a range
  * join: union both sides, one shuffle+sort per key on (ts, side), then
  * `last(payload, ignoreNulls)` over an unbounded-preceding frame carries
  * the most recent right payload forward into each left row. Cost is ONE
  * shuffle of |L|+|R| rows — no quadratic range cross-product, no
  * per-row binary search; skew on the key column salts like any other
  * shuffle. Right rows sort before left rows at equal timestamps, so
  * `ts_left == ts_right` matches (>= semantics, like DuckDB's ASOF).
  *
  * Output: all left columns + the right side's non-key columns prefixed
  * `right_`. Inner semantics: left rows with no prior right row drop.
  */
object AsOfJoin {

  /** The tagged union both joins sort: right rows (`_side` 0) carry their
    * non-key columns as one `_payload` struct, left rows (`_side` 1) a
    * null one. Returns the payload's column names and the union.
    */
  private def tagged(left: DataFrame, right: DataFrame, key: String,
      ts: String): (Array[String], DataFrame) = {
    val payloadCols = right.columns.filterNot(_ == key)
    val payload = struct(payloadCols.map(col): _*)
    val r = right.select(Seq(col(key), col(ts)) :+ payload.as("_payload"): _*)
      .withColumn("_side", lit(0))
    val l = left
      .withColumn("_payload", lit(null).cast(r.schema("_payload").dataType))
      .withColumn("_side", lit(1))
    (payloadCols, l.unionByName(r.select(col(key), col(ts).as(ts),
      col("_payload"), col("_side")), allowMissingColumns = true))
  }

  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String): DataFrame = {
    val (payloadCols, unioned) = tagged(left, right, key, ts)
    // _payload as final sort key: a deterministic winner if two right rows
    // tie exactly on (key, ts)
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("_side"), col("_payload"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("_match", last(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_match").isNotNull)
    val rightOut = payloadCols.map(c => col("_match").getField(c).as(s"right_$c"))
    matched.select(left.columns.map(col) ++ rightOut: _*)
  }

  /** Nearest-neighbor as-of join with a tolerance — pandas
    * `merge_asof(direction='nearest', tolerance=…)`: for every left row,
    * the right row on the same key whose timestamp is CLOSEST in either
    * direction, provided |Δt| ≤ `tolUs`; unmatched left rows drop
    * (inner). Same ONE-shuffle tagged-union device as [[asofJoin]], run
    * in BOTH directions over the same exchange: the backward candidate
    * is `last(payload)` over the preceding frame (the latest prior
    * right — which is also the MINIMUM-delta prior, so one carry
    * suffices), the forward candidate is `first(payload)` over the
    * following frame, and the winner is the smaller delta with ties
    * PREFERRING the prior side (pinned; equal-timestamp rights sort
    * before the left row and therefore count as prior). Intra-direction
    * timestamp ties resolve through the payload struct order (largest
    * payload for prior, smallest for next — deterministic both engines).
    */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
      ts: String, tolUs: Long): DataFrame = {
    val (payloadCols, unioned) = tagged(left, right, key, ts)
    val order = Seq(col(ts), col("_side"), col("_payload"))
    val wBack = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros(col(ts))
    val db = us - unix_micros(col("_back").getField(ts))
    val df = unix_micros(col("_fwd").getField(ts)) - us
    val backOk = col("_back").isNotNull && db <= tolUs
    val fwdOk = col("_fwd").isNotNull && df <= tolUs
    val matched = unioned
      .withColumn("_back", last(col("_payload"), ignoreNulls = true).over(wBack))
      .withColumn("_fwd", first(col("_payload"), ignoreNulls = true).over(wFwd))
      .filter(col("_side") === 1)
      .withColumn("_match",
        when(backOk && (!fwdOk || db <= df), col("_back"))
          .when(fwdOk, col("_fwd")))
      .filter(col("_match").isNotNull)
      .withColumn("matched_dir",
        when(backOk && (!fwdOk || db <= df), lit("prior"))
          .otherwise(lit("next")))
      .withColumn("delta_us",
        abs(us - unix_micros(col("_match").getField(ts))))
    val rightOut = payloadCols.map(c =>
      col("_match").getField(c).as(s"right_$c"))
    matched.select(left.columns.map(col) ++ rightOut ++
      Seq(col("matched_dir"), col("delta_us")): _*)
  }
}
