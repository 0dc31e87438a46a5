package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.ext.Stats.bucketedPositions
import graft.queries.Common.{eventsThin, eventsThinSql, monthlyNationCents,
  monthlyNationCentsSql, productAgg, productAggSql}

/** w*: windows and time series — ranks, lags, moving averages, NTILE
  * and bucketed positions, range frames, EWMA/Holt folds, rolling
  * medians and anomalies, CUSUM, MASE, growth, ACF, Mann–Kendall and
  * seasonality.
  */
object WQueries {

  /** w11 core over an arbitrary orders frame. See the w11 registry
    * comment for the no-sqrt/no-float inequality argument.
    */
  private[graft] def rollingAnomalyOf(orders: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"), cents.as("c"))
      .groupBy("day").agg(sum("c").as("v"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    val nv = col("n").cast(d38) * col("v").cast(d38)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("v").cast(d38)).over(w))
      .withColumn("q", sum(col("v").cast(d38) * col("v").cast(d38)).over(w))
      .select(col("day"), col("v").as("revenue_cents"),
        col("n").cast("long").as("n_days"),
        (col("n") === 7 &&
          (nv - col("s")) * (nv - col("s")) >
            lit(9).cast(d38) *
              (col("n").cast(d38) * col("q") - col("s") * col("s")))
          .as("is_anomaly"))
      .orderBy("day")
  }

  /** w9 core on an arbitrary events frame (user_id, event_id, ts,
    * value).
    */
  private[graft] def mergeIntervals(events: DataFrame): DataFrame = {
    val us = unix_micros(col("ts"))
    val e = events.select(col("user_id"), col("event_id"),
      us.as("start_us"),
      (us + round(col("value") * 60000000.0).cast("long")).as("end_us"))
    val byUser = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    val prevMax = max("end_us")
      .over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    e.withColumn("new_island",
        when(prevMax.isNull || col("start_us") > prevMax, 1).otherwise(0))
      .withColumn("island", sum("new_island")
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .groupBy("user_id", "island")
      .agg(min("start_us").as("start_us"), max("end_us").as("end_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id", "island")
  }

  /** w18 core over an arbitrary (nation, ym, x_cents) spine. See the w18
    * registry comment.
    */
  private[graft] def mannKendallOf(spine0: DataFrame): DataFrame = {
    // four consumers (both pair-join sides, n_months, ties) read this
    // |nations|·|months|-row spine; without truncation each re-derives
    // the full fact-scan rollup — four fact scans at 100 TB instead of
    // one (caught in a PlanOne dump; the a36/s7 shared-lineage device)
    val spine = spine0.localCheckpoint()
    val pairs = spine.as("a").join(spine.as("b"),
        col("a.nation") === col("b.nation") && col("a.ym") < col("b.ym"))
      .groupBy(col("a.nation").as("nation"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("b.x_cents") > col("a.x_cents"), 1L)
          .when(col("b.x_cents") < col("a.x_cents"), -1L)
          .otherwise(0L)).as("s_stat"))
    val nm = spine.groupBy("nation").agg(count(lit(1)).as("n_months"))
    val ties = spine.groupBy("nation", "x_cents")
      .agg(count(lit(1)).as("t"))
      .groupBy("nation")
      .agg(sum(col("t") * (col("t") - 1L) * (col("t") * 2L + 5L))
        .as("tie_t"))
    val z = sqrt(col("var18").cast("double") / lit(18.0))
    pairs.join(broadcast(nm), Seq("nation"))
      .join(broadcast(ties), Seq("nation"))
      .withColumn("var18",
        col("n_months") * (col("n_months") - 1L) *
          (col("n_months") * 2L + 5L) - col("tie_t"))
      .select(col("nation"), col("n_months"), col("n_pairs"),
        col("s_stat"), col("var18"),
        (col("s_stat").cast("double") / col("n_pairs").cast("double"))
          .as("tau"),
        when(col("s_stat") > 0, (col("s_stat") - 1L).cast("double") / z)
          .when(col("s_stat") < 0,
            (col("s_stat") + 1L).cast("double") / z)
          .otherwise(lit(0.0)).as("z"))
      .orderBy("nation")
  }

  /** w8/w12 input: each user's thinned events as one `es` list of
    * (us, event_id, value) structs.
    */
  private def userEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    eventsThin(s, dir)
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("value")).as("e"))
      .groupBy("user_id")
      .agg(collect_list("e").as("es"))

  /** w8/w12: the `es` values in the pinned (us, event_id) order. */
  private def sortedValues: org.apache.spark.sql.Column =
    transform(array_sort(col("es")), e => e.getField("value"))

  /** w4/w4b oracle: ntile, percent_rank and cume_dist per event type. */
  private val positionsSql =
    """SELECT event_type, event_id, value,
      |       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, value, event_id""".stripMargin

  val all: Seq[Query] = Seq(
    // — window / sort / limit (§2f, §2g) —
    Query("w1_rank_window", ((s, dir) =>
      productAgg(s, dir)
        .withColumn("rank_position",
          row_number().over(Window.orderBy(col("total_sold").desc,
            col("total_revenue").desc, col("product_id"))).cast("long"))
        .select("product_id", "rank_position")
        .orderBy("rank_position")), Some(Oracle.sql(
      s"""SELECT product_id,
         |       ROW_NUMBER() OVER (ORDER BY total_sold DESC, total_revenue DESC, product_id) AS rank_position
         |FROM ($productAggSql)
         |ORDER BY rank_position""".stripMargin))),
    // lag/lead event-time deltas: per-user gap to the previous event —
    // the windowed navigation family (W2), exact integer microseconds.
    Query("w2_lag_delta", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .orderBy("user_id", "ts", "event_id")
    }), Some(Oracle.sql(
      """SELECT user_id, event_id, ts,
        |       epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin))),
    // Rolling 3-row average spend per customer — the moving-window shape
    // (trend smoothing) on the fact table. Exact-decimal window sum ÷
    // window count (the a4 recipe: decimal addition is associative, so
    // partial aggregation order can't drift the doubles). The window sort
    // key must be TOTAL or the 3-row frames drift between engines:
    // (l_orderkey, l_linenumber) is NOT unique in the generated testdata
    // (11,785 duplicate pairs at sf0.01 — TESTDATA.md), so the key extends
    // to the post-dedup unique key (order_id, product_id, quantity,
    // unit_price) from F1's dedup partition. Totality is lint-asserted in
    // SortKeySpec.
    Query("w3_moving_avg", ((s, dir) => {
      val key = Seq("order_date", "order_id", "line_id",
        "product_id", "quantity", "unit_price")
      val w = Window.partitionBy("customer_id")
        .orderBy(key.map(col): _*)
        .rowsBetween(-2, 0)
      Pipelines.cleanSales(s, dir)
        .withColumn("avg_3",
          sum(col("total_price")).over(w).cast("double")
            / count(lit(1)).over(w))
        .orderBy(("customer_id" +: key).map(col): _*)
        .select(col("customer_id"), col("order_id"), col("line_id"),
          col("order_date"), col("total_price").cast("double").as("total_price"),
          col("avg_3"))
    }), Some(Oracle.sql(
      """SELECT customer_id, order_id, line_id, order_date,
        |       CAST(total_price AS DOUBLE) AS total_price,
        |       CAST(SUM(total_price) OVER w AS DOUBLE)
        |         / COUNT(*) OVER w AS avg_3
        |FROM clean_sales
        |WINDOW w AS (PARTITION BY customer_id
        |             ORDER BY order_date, order_id, line_id,
        |                      product_id, quantity, unit_price
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY customer_id, order_date, order_id, line_id,
        |         product_id, quantity, unit_price""".stripMargin))),
    // Distribution-position window family (ntile / percent_rank /
    // cume_dist) — the quantile-bucketing shape c10 computes with
    // percentile cutoffs, here as pure rank arithmetic: every output is
    // an exact rational of ranks ((rank-1)/(n-1), rank/n), so doubles
    // are engine-identical. The ORDER BY extends to event_id (globally
    // unique) because ntile SPLITS ties across buckets — a non-total
    // order here is the r2/r6 determinism bug class (SortKeySpec lints
    // it). SCALE CAVEAT: partition cardinality is |event types| (5) —
    // at 100 TB each partition is one executor's sort, so this exact
    // form only scales with high-cardinality partitions. The production
    // swap for low-cardinality groups is w4b below — c10b's two-pass
    // histogram shape, same rank arithmetic, no giant per-type sort.
    Query("w4_ntile", ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .orderBy("event_type", "value", "event_id")
    }), Some(Oracle.sql(
      positionsSql))),
    // w4's PRODUCTION twin (the c10b precedent: document-then-ship, same
    // semantics, scale-safe plan). w4's exact form sorts each event_type
    // partition globally — 5 partitions means 5 executor-sized sorts at
    // 100×: the partition count stays |types| while each partition grows
    // with the data. This two-pass shape
    // eliminates the giant per-type sort: pass 1 aggregates the COMPACT
    // per-(type, value) histogram (bounded by |types|·|distinct values|,
    // not row count — for 2-decimal event values that is thousands, and
    // an unbounded-domain column would bucket first, exactly c10b's
    // cutoff argument) and prefix-sums it per type (a window over
    // histogram rows, not data rows); pass 2 ranks rows ONLY within their
    // (type, value) tie group — partitions of a few rows each, no skew —
    // and joins the broadcast histogram so every row's global rank is
    // cum_before + tie_rn. ntile/percent_rank/cume_dist are then pure
    // rank arithmetic: over the total order (value, event_id) every row
    // is its own peer group, so rank = row_number, cume_dist = r/n,
    // percent_rank = (r-1)/(n-1), and ntile's bucket boundaries are the
    // textbook base/remainder integer split — all exact rationals of
    // longs, engine-identical. Oracle: the SAME SQL as w4 (NTILE over the
    // window) — the driver hash pins the rank arithmetic to the window
    // semantics; AnalyticsSpec pins row equivalence with w4 and PlanSpec
    // asserts no Window partitioned by event_type alone remains.
    // w4b's oracle IS w4's window SQL: the histogram rank arithmetic must
    // reproduce NTILE/percent_rank/cume_dist semantics exactly
    Query("w4b_ntile_histogram", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val hist = ev.groupBy("event_type", "value")
        .agg(count(lit(1)).as("n_at"))
      val hw = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
      // the per-type total rides the SAME histogram exchange as the
      // prefix sum (a second Window over the identical partitioning —
      // no extra scan, no separate totals aggregate/join; the plan's
      // third events scan before r10.1 came from Catalyst recomputing
      // the histogram subtree for a standalone totals groupBy)
      val cum = hist
        .withColumn("cum_before", coalesce(sum("n_at").over(hw), lit(0L)))
        .withColumn("n",
          sum("n_at").over(Window.partitionBy("event_type")).cast("long"))
        .select("event_type", "value", "cum_before", "n")
      val tieW = Window.partitionBy("event_type", "value").orderBy("event_id")
      ev.withColumn("tie_rn", row_number().over(tieW))
        .join(broadcast(cum), Seq("event_type", "value"))
        .withColumn("r", col("cum_before") + col("tie_rn"))
        .withColumn("base", expr("n div 4"))
        .withColumn("rem", col("n") % 4)
        .withColumn("quartile",
          when(col("r") <= col("rem") * (col("base") + 1),
            expr("(r - 1) div (base + 1) + 1"))
            .otherwise(expr("rem + (r - rem * (base + 1) - 1) div base + 1"))
            .cast("long"))
        .withColumn("pct_rank",
          when(col("n") === 1, lit(0.0))
            .otherwise((col("r") - 1).cast("double")
              / (col("n") - 1).cast("double")))
        .withColumn("cume", col("r").cast("double") / col("n").cast("double"))
        .select(col("event_type"), col("event_id"), col("value"),
          col("quartile"), col("pct_rank"), col("cume"))
        .orderBy("event_type", "value", "event_id")
    }), Some(Oracle.sql(
      positionsSql))),
    // w4b for UNBOUNDED value domains — see [[bucketedPositions]]. events'
    // value column is the right fixture: at sf0.01 it is already ~66%
    // distinct, so w4b's raw-value histogram grows with the data while
    // w4c's stays |types|·8 forever.
    // w4c's oracle replays the WHOLE pipeline — exact discrete cutoffs,
    // the strict-comparison bucket rule, the histogram prefix arithmetic —
    // in DuckDB SQL, so the hash pins every phase, not just the output
    // shape. percentile_disc WITHIN GROUP is the identical standard
    // semantics on both engines (smallest value with cume_dist >= f).
    Query("w4c_bucketed_positions", ((s, dir) =>
      bucketedPositions(Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value")), 8)), Some(Oracle.sqlWith(
      """cuts_w4c AS (
        |  SELECT event_type,
        |         percentile_disc(0.125) WITHIN GROUP (ORDER BY value) AS c0,
        |         percentile_disc(0.25)  WITHIN GROUP (ORDER BY value) AS c1,
        |         percentile_disc(0.375) WITHIN GROUP (ORDER BY value) AS c2,
        |         percentile_disc(0.5)   WITHIN GROUP (ORDER BY value) AS c3,
        |         percentile_disc(0.625) WITHIN GROUP (ORDER BY value) AS c4,
        |         percentile_disc(0.75)  WITHIN GROUP (ORDER BY value) AS c5,
        |         percentile_disc(0.875) WITHIN GROUP (ORDER BY value) AS c6
        |  FROM events GROUP BY event_type),
        |b_w4c AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |         CAST(1 + (CASE WHEN e.value > c.c0 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c1 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c2 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c3 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c4 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c5 THEN 1 ELSE 0 END)
        |                + (CASE WHEN e.value > c.c6 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS bucket
        |  FROM events e JOIN cuts_w4c c ON e.event_type = c.event_type),
        |h_w4c AS (
        |  SELECT event_type, bucket, COUNT(*) AS n_at,
        |         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY event_type
        |           ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_before,
        |         SUM(COUNT(*)) OVER (PARTITION BY event_type) AS n
        |  FROM b_w4c GROUP BY event_type, bucket)""".stripMargin,
      """SELECT b.event_type, b.event_id, b.value, b.bucket,
        |       CAST(h.cum_before AS DOUBLE) / CAST(h.n AS DOUBLE) AS cume_lo,
        |       CAST(h.cum_before + h.n_at AS DOUBLE) / CAST(h.n AS DOUBLE)
        |         AS cume_hi
        |FROM b_w4c b JOIN h_w4c h
        |  ON b.event_type = h.event_type AND b.bucket = h.bucket
        |ORDER BY b.event_type, b.event_id""".stripMargin))),
    // first/last navigation over an unbounded frame (completes the
    // window-function family with w1 rank / w2 lag / w3 frame / w4
    // distribution): each user's first and last event value in event-time
    // order, one row per user. All three window functions (first, last,
    // row_number) share the one user_id exchange; the frame must be
    // UNBOUNDED FOLLOWING for last() or it reads "last so far" (the
    // default frame ends at CURRENT ROW — a classic silent-wrong-answer).
    // ORDER BY extends to event_id: (ts) alone is not provably unique,
    // and first/last READ tied rows' values (SortKeySpec fails closed on
    // them).
    Query("w5_first_last", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("first_value", first("value").over(full))
        .withColumn("last_value", last("value").over(full))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("first_value"), col("last_value"))
        .orderBy("user_id")
    }), Some(Oracle.sql(
      """SELECT user_id, first_value, last_value
        |FROM (SELECT user_id,
        |             FIRST_VALUE(value) OVER w AS first_value,
        |             LAST_VALUE(value) OVER w AS last_value,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS rn
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1 ORDER BY user_id""".stripMargin))),
    // RANGE-interval frame — the window class w3's ROWS frame can't
    // express: the 3-DAY trailing spend per customer includes every row
    // whose order_date falls in the value window, however many rows share
    // a day. Value-based frames are also determinism-free by
    // construction: all peer rows (same customer, same day) get the
    // identical frame, so no intra-day tiebreak is needed at all — the
    // w3 bug class can't exist here. Sum in exact integer cents (the a15
    // device); Spark's rangeBetween(-2, 0) over a day number ≡ DuckDB's
    // RANGE BETWEEN INTERVAL 2 DAYS PRECEDING over the date itself. At
    // 100 TB this is one customer-key exchange + a per-partition sort —
    // w2/w3's curve family.
    // oracle: the window ORDER BY carries the full post-dedup unique key so the
    // frame order is total (line_id alone is not a key — see the Spark side)
    // w6 oracle: the same value-based frame stated over the date itself;
    // peers share a frame so no tiebreak appears in either engine
    Query("w6_range_window", ((s, dir) => {
      val day = datediff(col("order_date"), lit("1992-01-01").cast("date"))
      val w = Window.partitionBy("customer_id").orderBy(col("day"))
        .rangeBetween(-2, 0)
      Pipelines.cleanSales(s, dir)
        .select(col("customer_id"), col("order_id"), col("line_id"),
          col("order_date"), day.as("day"),
          (col("total_price") * 100).cast("long").as("cents"))
        .withColumn("trailing_3d_cents", sum("cents").over(w).cast("long"))
        .select(col("customer_id"), col("order_id"), col("line_id"),
          col("order_date"), col("trailing_3d_cents"))
        .orderBy("customer_id", "order_id", "line_id")
    }), Some(Oracle.sql(
      """SELECT customer_id, order_id, line_id, order_date,
        |       CAST(SUM(CAST(total_price * 100 AS BIGINT)) OVER w AS BIGINT)
        |         AS trailing_3d_cents
        |FROM clean_sales
        |WINDOW w AS (PARTITION BY customer_id ORDER BY order_date
        |             RANGE BETWEEN INTERVAL 2 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY customer_id, order_id, line_id""".stripMargin))),
    // — cumulative distinct users over time, the scale-safe form: the
    //   naive COUNT(DISTINCT user) OVER (ORDER BY day) re-scans every
    //   prior day's users per frame (quadratic in the spine, unbounded
    //   running state). First-seen day per user — ONE partial-agg
    //   shuffle moving (user_id, date) pairs — turns it into a per-day
    //   count plus a running sum over the day spine, whose
    //   single-partition window is |days| rows at ANY corpus size.
    //   (events_thin: at full fixture density every user's first event
    //   lands on day one and the spine degenerates to a single row.) —
    // w7 oracle: the same first-seen rollup + day spine running sum
    Query("w7_new_users", ((s, dir) =>
      eventsThin(s, dir)
        .groupBy("user_id").agg(to_date(min(col("ts"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum("new_users").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("day")), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |fs7 AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS day
         |        FROM events_thin GROUP BY user_id),
         |dd7 AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
         |        FROM fs7 GROUP BY day)""".stripMargin,
      """SELECT day, new_users,
        |       CAST(SUM(new_users) OVER (ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM dd7 ORDER BY day""".stripMargin))),
    // — per-user EWMA (α = 1/4) of event value in event-time order —
    //   the recency-weighted feature (fraud scores, engagement decay)
    //   that no associative aggregate computes: EWMA_i = 3/4·EWMA_{i−1}
    //   + 1/4·x_i is a non-commutative fold, so it rides the repo's
    //   pinned-order fold device (t18/v1): per-user collect_list of
    //   (us, event_id, value) structs, array_sort pins the total
    //   order, aggregate() folds seeded with the FIRST value —
    //   exactly DuckDB's list_reduce shape, which is what the oracle
    //   states. α = 1/4 and 3/4 are exact binary fractions and both
    //   engines run the identical mul/add sequence in the same order →
    //   bit-equal doubles, no tolerance needed. One partial-agg
    //   shuffle; per-user state is that user's events (the fold is
    //   in-row) — the t18 boundedness note applies: at 100 TB cap the
    //   history per key (e.g. trailing N events via the w3 frame) or
    //   carry the EWMA as streaming state (st5's shape), both
    //   order-preserving. —
    // w8 oracle: list_reduce over the identically-pinned value order —
    // the same seed-with-first fold, the same exact binary coefficients
    Query("w8_ewma", ((s, dir) => {
      val vs = sortedValues
      userEvents(s, dir)
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          aggregate(slice(vs, lit(2), greatest(size(vs) - 1, lit(0))),
            element_at(vs, 1),
            (a, x) => a * lit(0.75) + x * lit(0.25)).as("ewma"))
        .orderBy("user_id")
    }), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |ew8 AS (SELECT user_id,
         |          CAST(COUNT(*) AS BIGINT) AS n_events,
         |          list_reduce(list(value ORDER BY epoch_us(ts), event_id),
         |            (a, x) -> a * CAST(0.75 AS DOUBLE)
         |                      + x * CAST(0.25 AS DOUBLE)) AS ewma
         |        FROM events_thin GROUP BY user_id)""".stripMargin,
      """SELECT user_id, n_events, ewma
        |FROM ew8 ORDER BY user_id""".stripMargin))),
    // — per-user overlapping-interval merge (gap-islands over RANGES —
    //   the calendar/coverage primitive behind "total engaged time",
    //   maintenance-window coalescing, span unions): each event opens an
    //   interval [ts, ts + value minutes]; overlapping-or-touching
    //   intervals per user merge into islands. The classic device: a
    //   running MAX(end) over PRECEDING rows (not lag(end) — an interval
    //   swallowed by a long predecessor must not restart an island),
    //   island id by cumulative sum of the start > prev_max flag, then
    //   one groupBy per island. Same single user_id exchange as b1's
    //   sessionization (island flag, island sum and the final groupBy
    //   share it); (start_us, event_id) is a total order (event_id
    //   unique). end_us rounds value·6e7 BEFORE the long cast on both
    //   engines — DuckDB's double→BIGINT cast rounds where Spark's
    //   truncates, so the explicit round() is what pins parity. At
    //   100 TB this scales exactly like b1: partition by user, skewed
    //   users split by AQE; no join, no pair blowup. —
    // w9 oracle: same gap-islands-over-ranges statement; the explicit round()
    // before the BIGINT cast is the parity pin (DuckDB's bare
    // double→BIGINT cast rounds, Spark's truncates)
    Query("w9_interval_merge", ((s, dir) =>
      mergeIntervals(Tables.events(s, dir))), Some(Oracle.sqlWith(
      """iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |              epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS end_us
        |       FROM events),
        |flagged AS (SELECT user_id, start_us, end_us, event_id,
        |              CASE WHEN MAX(end_us) OVER w IS NULL
        |                     OR start_us > MAX(end_us) OVER w
        |                   THEN 1 ELSE 0 END AS new_island
        |            FROM iv
        |            WINDOW w AS (PARTITION BY user_id ORDER BY start_us, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |islands AS (SELECT user_id, start_us, end_us,
        |              SUM(new_island) OVER (PARTITION BY user_id
        |                ORDER BY start_us, event_id
        |                ROWS UNBOUNDED PRECEDING) AS island
        |            FROM flagged)""".stripMargin,
      """SELECT user_id, CAST(island AS BIGINT) AS island,
        |       MIN(start_us) AS start_us, MAX(end_us) AS end_us,
        |       COUNT(*) AS n_intervals
        |FROM islands GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin))),
    // — per-user time-weighted average (TWAP — the metric/finance
    //   aggregate where a value holds UNTIL the next observation):
    //   Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first) over each user's ordered
    //   events, last observation carrying no weight. Numerator is the
    //   w8 pinned-order fold over per-interval products — each product
    //   is ONE IEEE multiply and the fold order is total (us,
    //   event_id), so both engines run the identical rounding sequence
    //   → bit-equal, no decimal needed. Per-user state is one sorted
    //   array (bounded by per-user event count; the w8 bounded-history
    //   note applies at 100 TB). Single-event users have no interval —
    //   filtered. —
    // w10 oracle: the w8 pinned-order fold over per-interval products — one
    // IEEE multiply per interval, identical fold order → bit-equal
    Query("w10_twap", ((s, dir) => {
      val es = array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))))
      val ts = transform(col("es"), e => e.getField("us"))
      val vs = transform(col("es"), e => e.getField("value"))
      val prods = zip_with(
        slice(vs, lit(1), size(col("es")) - 1),
        zip_with(slice(ts, lit(2), size(col("es")) - 1),
          slice(ts, lit(1), size(col("es")) - 1),
          (b, a) => (b - a).cast("double")),
        (v, d) => v * d)
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(es.as("es"))
        .filter(size(col("es")) >= 2)
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          (aggregate(slice(prods, lit(2), greatest(size(prods) - 1, lit(0))),
            element_at(prods, 1), (acc, x) => acc + x)
            / (element_at(ts, -1) - element_at(ts, 1)).cast("double"))
            .as("twap"))
        .orderBy("user_id")
    }), Some(Oracle.sql(
      """SELECT user_id, CAST(len(tl) AS BIGINT) AS n_events,
        |       list_reduce(list_transform(range(1, len(tl)),
        |                     i -> vl[i] * CAST(tl[i+1] - tl[i] AS DOUBLE)),
        |                   (a, x) -> a + x)
        |         / CAST(tl[len(tl)] - tl[1] AS DOUBLE) AS twap
        |FROM (SELECT user_id,
        |             list(epoch_us(ts) ORDER BY epoch_us(ts), event_id) AS tl,
        |             list(value ORDER BY epoch_us(ts), event_id) AS vl
        |      FROM events GROUP BY user_id HAVING COUNT(*) >= 2)
        |ORDER BY user_id""".stripMargin))),
    // — rolling anomaly flags over the daily revenue series (w11): the
    //   ops/monitoring primitive — flag any day whose revenue leaves the
    //   trailing-7-day 3σ band. No sqrt, no division, no float: with
    //   n, S = Σv, Q = Σv² over the frame, |x−μ| > 3σ is EXACTLY
    //   (n·x − S)² > 9·(n·Q − S²), a pure integer inequality — the a15b
    //   DECIMAL(38) discipline applied to a w-family frame, and the
    //   whole statistic hash-oracles where any float z-score would be
    //   summation-order luck. Flag only emitted for full frames (n = 7:
    //   warm-up days report false). Scale shape: the window input is
    //   the DAY-grain rollup — |days| rows at ANY fact volume (w7's
    //   spine device), so the unpartitioned window is a deliberate
    //   constant-size tail on a partial-agg'able daily shuffle; Q ≤
    //   7·v² keeps DECIMAL(38)-exact through ~10¹⁷ cents/day. —
    // w11 oracle: HUGEINT is DuckDB's 128-bit twin of the Spark DECIMAL(38,0)
    // side — both exact for every term, so the inequality is engine-exact
    Query("w11_rolling_anomaly", ((s, dir) =>
      rollingAnomalyOf(Tables.table(s, dir, "orders"))), Some(Oracle.sqlWith(
      """daily11 AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |                                 AS BIGINT)) AS BIGINT) AS v
        |            FROM orders GROUP BY 1),
        |r11 AS (SELECT day, v,
        |               COUNT(*) OVER w AS n,
        |               SUM(CAST(v AS HUGEINT)) OVER w AS s,
        |               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) OVER w AS q
        |        FROM daily11
        |        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT day, v AS revenue_cents, CAST(n AS BIGINT) AS n_days,
        |       (n = 7 AND
        |        (n * CAST(v AS HUGEINT) - s) * (n * CAST(v AS HUGEINT) - s)
        |          > 9 * (n * q - s * s)) AS is_anomaly
        |FROM r11 ORDER BY day""".stripMargin))),
    // — per-user Holt linear smoothing (w12): w8's EWMA tracks LEVEL
    //   only and lags any trending series; Holt's double-exponential
    //   form carries (level, trend) state — lₜ = α·xₜ + (1−α)(l+b),
    //   bₜ = β(lₜ−l) + (1−β)b — and forecasts l+b one step out (the
    //   workhorse short-horizon forecaster). α=1/2, β=1/4: exact binary
    //   fractions, and the non-commutative two-variable recurrence rides
    //   the SAME pinned-order fold device as w8 with a STRUCT
    //   accumulator — an ARRAY [l, b], deliberately not a struct:
    //   DuckDB 1.0's list_reduce evaluates a struct accumulator's
    //   fields sequentially against a mutating slot (field b reads the
    //   ALREADY-UPDATED l — measured: the 3-step fold returns the
    //   slot-mutated 0.390625 where the recurrence says 0.59375), and
    //   list elements don't exhibit the quirk. Seeded [x₁, 0] —
    //   list_reduce's implicit first-element seat on the DuckDB side,
    //   an explicit aggregate() zero on Spark's. lₜ appears twice in
    //   the update (once as the new level, once inside the trend delta)
    //   and is COMPUTED twice on both engines — neither lambda language
    //   binds intermediates, and recomputing the identical IEEE tree
    //   yields the identical double, so the hash still pins
    //   bit-equality. Same bounded-history note as w8 at 100 TB. —
    // w12 oracle: the same pinned order, LIST-wrapped [v, 0] values so
    // list_reduce's implicit first-element seed IS [x₁, 0] (array, not
    // struct — the slot-mutation quirk the registry comment documents);
    // the lₜ tree written out twice exactly as the Spark lambda
    // recomputes it
    Query("w12_holt", ((s, dir) => {
      val wrap = (v: org.apache.spark.sql.Column) => array(v, lit(0.0))
      val vs = sortedValues
      val newL = (acc: org.apache.spark.sql.Column,
          x: org.apache.spark.sql.Column) =>
        (lit(0.5) * element_at(x, 1)) +
          (lit(0.5) * (element_at(acc, 1) + element_at(acc, 2)))
      userEvents(s, dir)
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          aggregate(
            transform(slice(vs, lit(2), greatest(size(vs) - 1, lit(0))),
              wrap),
            wrap(element_at(vs, 1)),
            (acc, x) => array(newL(acc, x),
              (lit(0.25) * (newL(acc, x) - element_at(acc, 1))) +
                (lit(0.75) * element_at(acc, 2)))).as("st"))
        .select(col("user_id"), col("n_events"),
          element_at(col("st"), 1).as("level"),
          element_at(col("st"), 2).as("trend"),
          (element_at(col("st"), 1) + element_at(col("st"), 2))
            .as("forecast"))
        .orderBy("user_id")
    }), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |h12 AS (SELECT user_id,
         |          CAST(COUNT(*) AS BIGINT) AS n_events,
         |          list_reduce(
         |            list_transform(list(value ORDER BY epoch_us(ts), event_id),
         |              v -> [v, CAST(0.0 AS DOUBLE)]),
         |            (acc, x) -> [
         |              CAST(0.5 AS DOUBLE) * x[1]
         |                + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |              CAST(0.25 AS DOUBLE)
         |                * ((CAST(0.5 AS DOUBLE) * x[1]
         |                    + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
         |                + CAST(0.75 AS DOUBLE) * acc[2]]) AS st
         |        FROM events_thin GROUP BY user_id)""".stripMargin,
      """SELECT user_id, n_events, st[1] AS level, st[2] AS trend,
        |       st[1] + st[2] AS forecast
        |FROM h12 ORDER BY user_id""".stripMargin))),
    // — rolling exact median (w13): w3's moving AVERAGE is outlier-
    //   fragile (one fat-fingered price drags the whole frame); the
    //   7-row trailing MEDIAN is the robust smoother dashboards want.
    //   No engine has a median window aggregate that hash-agrees, so
    //   both sides state the identical bounded-frame algorithm:
    //   collect the ≤7-element frame, sort it, average the two middle
    //   CENTS (exact longs; their sum is < 2^31·100 so the /2.0 is an
    //   exact IEEE halving — bit-equal doubles). Same exchange and
    //   per-partition sort as w3 (the frame sort is O(7 log 7) per row,
    //   scan-speed); the w3 total-order key makes frames engine-stable
    //   (lint-asserted in SortKeySpec for that key). —
    // w13 oracle: the identical bounded-frame algorithm — windowed
    // list(), sort, average the two middle cents. DuckDB's own median()
    // window would interpolate in its own type system; stating the
    // algorithm keeps the hash meaningful.
    Query("w13_rolling_median", ((s, dir) => {
      val key = Seq("order_date", "order_id", "line_id",
        "product_id", "quantity", "unit_price")
      val w = Window.partitionBy("customer_id")
        .orderBy(key.map(col): _*)
        .rowsBetween(-6, 0)
      val arr = sort_array(collect_list(col("cents")).over(w))
      Pipelines.cleanSales(s, dir)
        .withColumn("cents", (col("total_price") * 100).cast("long"))
        .withColumn("frame", arr)
        .withColumn("nf", size(col("frame")))
        .select(col("customer_id"), col("order_id"), col("line_id"),
          col("order_date"), col("cents"),
          col("nf").cast("long").as("n_frame"),
          (expr("element_at(frame, cast((nf + 1) div 2 as int)) + " +
            "element_at(frame, cast(nf div 2 + 1 as int))")
            .cast("double") / 2.0).as("med_cents"))
        .orderBy(("customer_id" +: key).map(col): _*)
        .select("customer_id", "order_id", "line_id", "order_date",
          "cents", "n_frame", "med_cents")
    }), Some(Oracle.sqlWith(
      """rm13 AS (SELECT customer_id, order_id, line_id, order_date,
        |                CAST(total_price * 100 AS BIGINT) AS cents,
        |                list_sort(list(CAST(total_price * 100 AS BIGINT)) OVER (
        |                  PARTITION BY customer_id
        |                  ORDER BY order_date, order_id, line_id, product_id,
        |                           quantity, unit_price
        |                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS frame
        |         FROM clean_sales)""".stripMargin,
      """SELECT customer_id, order_id, line_id, order_date, cents,
        |       CAST(len(frame) AS BIGINT) AS n_frame,
        |       CAST(frame[(len(frame) + 1) // 2] + frame[len(frame) // 2 + 1]
        |            AS DOUBLE) / 2.0 AS med_cents
        |FROM rm13
        |ORDER BY customer_id, order_date, order_id, line_id, cents""".stripMargin))),
    // — CUSUM changepoint detection (w14): the sequential drift
    //   detector monitoring teams actually run (Page 1954) — EWMA (w8)
    //   smooths, CUSUM ACCUMULATES: S_t = max(0, S_{t−1} + x_t − k)
    //   grows only while the series sits persistently above the
    //   reference level k, so a sustained small shift fires where a
    //   3σ point rule (w11) stays silent. The recurrence looks like a
    //   fold but is window-expressible via the classic identity
    //   S_t = P_t − min(0, min_{j≤t} P_j) with P the prefix sum of
    //   (x − k) — a running SUM plus a running MIN over the
    //   nation×month spine, bounded by the calendar at ANY data volume
    //   (the w7/a22 spine discipline; fact rows stop at the first
    //   partial-agg). All integer cents: k = μ + μ/20 floor (5%
    //   allowance over the per-nation mean monthly revenue), alarm at
    //   S > μ/2 — pinned integer comparisons, hash-exact. —
    // w14 oracle: the same two-window identity S_t = P_t − min(0, min P)
    // over the same nation×month spine with the same integer k and h.
    Query("w14_cusum", ((s, dir) => {
      val ow = Window.partitionBy("nation").orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
      monthlyNationCents(s, dir)
        .withColumn("mu",
          expr("sum(x_cents) over (partition by nation) div " +
            "count(1) over (partition by nation)"))
        .withColumn("k", col("mu") + expr("mu div 20"))
        .withColumn("p", sum(col("x_cents") - col("k")).over(ow))
        .withColumn("cusum_cents",
          (col("p") - least(lit(0L), min("p").over(ow))).cast("long"))
        .select(col("nation"), col("month"), col("x_cents"),
          col("cusum_cents"),
          (col("cusum_cents") > expr("mu div 2")).as("alarm"))
        .orderBy("nation", "month")
    }), Some(Oracle.sqlWith(
      """mo14 AS (SELECT n.n_name AS nation,
        |                strftime(o.o_orderdate, '%Y-%m') AS month,
        |                CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
        |                     AS BIGINT)) AS BIGINT) AS x_cents
        |         FROM orders o
        |         JOIN customer c ON o.o_custkey = c.c_custkey
        |         JOIN nation n ON c.c_nationkey = n.n_nationkey
        |         GROUP BY 1, 2),
        |cu14 AS (SELECT nation, month, x_cents,
        |                SUM(x_cents) OVER (PARTITION BY nation)
        |                  // COUNT(*) OVER (PARTITION BY nation) AS mu
        |         FROM mo14),
        |pp14 AS (SELECT nation, month, x_cents, mu,
        |                SUM(x_cents - (mu + mu // 20)) OVER (
        |                  PARTITION BY nation ORDER BY month
        |                  ROWS UNBOUNDED PRECEDING) AS p
        |         FROM cu14)""".stripMargin,
      """SELECT nation, month, x_cents,
        |       CAST(p - LEAST(0, MIN(p) OVER (
        |         PARTITION BY nation ORDER BY month
        |         ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum_cents,
        |       (p - LEAST(0, MIN(p) OVER (
        |         PARTITION BY nation ORDER BY month
        |         ROWS UNBOUNDED PRECEDING))) > mu // 2 AS alarm
        |FROM pp14
        |ORDER BY nation, month""".stripMargin))),
    // — seasonal-forecast skill score (w15, MASE): the metric that
    //   decides whether a forecasting operator (w8/w12's smoothing
    //   family) earns its keep — Mean Absolute Scaled Error compares a
    //   seasonal-naive forecast (x̂_t = x_{t−12}) against the one-step
    //   naive baseline (x̂_t = x_{t−1}) on the same monthly nation
    //   series w14 monitors. Two LAG taps over the calendar-bounded
    //   spine, absolute errors summed as exact integer cents, and the
    //   scaled ratio emitted as the ×10⁶ cross-multiplied fixed-point
    //   floor (err_s·n_n·10⁶) div (n_s·err_n) — hash-exact, no float
    //   MAE anywhere. MASE < 1e6 ⟺ seasonality beats drift. —
    // w15 oracle: same spine, same two LAG taps, same integer-cents
    // error sums and cross-multiplied fixed-point MASE.
    Query("w15_mase", ((s, dir) => {
      val ow = Window.partitionBy("nation").orderBy("month")
      monthlyNationCents(s, dir)
        .withColumn("e_season", abs(col("x_cents") -
          lag(col("x_cents"), 12).over(ow)))
        .withColumn("e_naive", abs(col("x_cents") -
          lag(col("x_cents"), 1).over(ow)))
        .groupBy("nation")
        .agg(count(col("e_season")).as("n_season"),
          sum("e_season").as("err_season_cents"),
          count(col("e_naive")).as("n_naive"),
          sum("e_naive").as("err_naive_cents"))
        .select(col("nation"), col("n_season"), col("err_season_cents"),
          col("n_naive"), col("err_naive_cents"),
          // ×10⁶·errS·nN overflows a long at large SF — lift to
          // DECIMAL(38) before the products (the a29/a31 device)
          expr("""(1000000 * cast(err_season_cents as decimal(38,0))
                    * n_naive) div
                  (cast(n_season as decimal(38,0)) * err_naive_cents)""")
            .cast("long").as("mase_e6"))
        .orderBy("nation")
    }), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp15") + """,
        |lg15 AS (SELECT nation,
        |                abs(x_cents - LAG(x_cents, 12) OVER w) AS e_season,
        |                abs(x_cents - LAG(x_cents, 1) OVER w) AS e_naive
        |         FROM sp15
        |         WINDOW w AS (PARTITION BY nation ORDER BY month))""".stripMargin,
      """SELECT nation,
        |       CAST(COUNT(e_season) AS BIGINT) AS n_season,
        |       CAST(SUM(e_season) AS BIGINT) AS err_season_cents,
        |       CAST(COUNT(e_naive) AS BIGINT) AS n_naive,
        |       CAST(SUM(e_naive) AS BIGINT) AS err_naive_cents,
        |       CAST((1000000 * CAST(SUM(e_season) AS HUGEINT)
        |         * CAST(COUNT(e_naive) AS HUGEINT))
        |         // (CAST(COUNT(e_season) AS HUGEINT)
        |             * CAST(SUM(e_naive) AS HUGEINT)) AS BIGINT) AS mase_e6
        |FROM lg15 GROUP BY nation
        |ORDER BY nation""".stripMargin))),
    // — year-over-year growth (w16): the board-deck comparison on the
    //   w14/w15 nation-month spine — revenue vs the SAME month last
    //   year (seasonal comparison, where w15's lag-1 is drift). Delta
    //   in exact signed cents; the growth RATIO deliberately ships as
    //   a pinned double division, NOT a fixed-point floor — Spark's
    //   `div` truncates toward zero while DuckDB's `//` floors, so the
    //   integer device is only engine-exact on non-negative operands
    //   (the a29 caveat) and YoY deltas go negative. The prior-year
    //   tap is a RANGE frame pinned at exactly ym−12 over an integer
    //   month index, NOT a 12-row LAG — a sparse per-nation spine
    //   (gap months exist at small SF; a22's dense-spine lesson,
    //   re-caught here by the spec's calendar replay) would make a
    //   row-lag silently compare against the wrong month. —
    // w16 oracle: same spine, same lag-12 tap, signed exact delta,
    // growth as the pinned double division (see the registry comment
    // for why NOT a fixed-point floor: div/// disagree on
    // negatives)
    Query("w16_yoy_growth", ((s, dir) => {
      val ow = Window.partitionBy("nation")
        .orderBy(col("ym")).rangeBetween(-12, -12)
      monthlyNationCents(s, dir)
        .withColumn("ym",
          (substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long")))
        .withColumn("prev_year_cents", sum(col("x_cents")).over(ow))
        .filter(col("prev_year_cents").isNotNull)
        .select(col("nation"), col("month"), col("x_cents"),
          col("prev_year_cents"),
          (col("x_cents") - col("prev_year_cents")).as("delta_cents"),
          ((col("x_cents") - col("prev_year_cents")).cast("double") /
            col("prev_year_cents").cast("double")).as("growth"))
        .orderBy("nation", "month")
    }), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp16") + """,
        |lg16 AS (SELECT nation, month, x_cents,
        |                SUM(x_cents) OVER (PARTITION BY nation
        |                  ORDER BY CAST(substring(month, 1, 4) AS BIGINT) * 12
        |                           + CAST(substring(month, 6, 2) AS BIGINT)
        |                  RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING)
        |                  AS prev_year_cents
        |         FROM sp16)""".stripMargin,
      """SELECT nation, month, x_cents,
        |       CAST(prev_year_cents AS BIGINT) AS prev_year_cents,
        |       CAST(x_cents - prev_year_cents AS BIGINT) AS delta_cents,
        |       CAST(x_cents - prev_year_cents AS DOUBLE)
        |         / CAST(prev_year_cents AS DOUBLE) AS growth
        |FROM lg16 WHERE prev_year_cents IS NOT NULL
        |ORDER BY nation, month""".stripMargin))),
    // — autocorrelation function (w17): the seasonality/memory DETECTOR
    //   the forecasting family (w8/w12/w15) assumes but never measures —
    //   r_h for lags 1..6 of each nation's monthly revenue, the statistic
    //   that says "is there structure worth a seasonal model". Exactness
    //   by clearing the mean's denominator: with S = Σx and n months,
    //   (x_t − S/n)(x_{t−h} − S/n) scaled by n² is (n·x_t − S)(n·x_{t−h}
    //   − S) — dev = n·x − S stays an exact long (n ≤ calendar ≈ 10³,
    //   x ≤ ~4·10¹² cents/nation-month at extreme scale → n·x ~ 10¹⁵,
    //   ~2000× headroom; past that, DuckDB raises on BIGINT overflow
    //   while Spark wraps — swap dev to DECIMAL(38,0), the a15b device),
    //   products lift to DECIMAL(38,0) (dev² ~ 10³⁰ × 10³ terms — far
    //   inside 38 digits), r_h is ONE exact→double division. Lag taps
    //   are RANGE frames over the calendar index ym (the a22/w16
    //   lesson: a gap month must skip the pair, not slide it), so
    //   n_pairs is per-lag honest. Scale shape: everything after the
    //   one partial-agg rollup runs on the |nations|·|months|
    //   calendar-bounded spine; the stats join is a |nations|-row
    //   broadcast. —
    // w17 oracle: same spine, same cleared-denominator dev = n·x − S
    // (exact BIGINT), same RANGE lag taps, HUGEINT products where Spark
    // lifts to DECIMAL(38,0) (the same integers), one double division
    Query("w17_acf", ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val lags = 1 to 6
      val spine = monthlyNationCents(s, dir)
        .withColumn("ym",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
      val stats = spine.groupBy("nation")
        .agg(sum("x_cents").as("s_cents"), count(lit(1)).as("n_m"))
      val dev = spine.join(broadcast(stats), Seq("nation"))
        .select(col("nation"), col("ym"),
          (col("n_m") * col("x_cents") - col("s_cents")).as("dev"))
      val lagCols = lags.map(h =>
        sum(col("dev")).over(Window.partitionBy("nation").orderBy("ym")
          .rangeBetween(-h, -h)).as(s"dev_$h"))
      val withLags = dev.select(
        Seq(col("nation"), col("dev")) ++ lagCols: _*)
      val aggs =
        sum(col("dev").cast(d38) * col("dev")).as("den") +:
          lags.flatMap(h => Seq(
            count(col(s"dev_$h")).as(s"np_$h"),
            sum(col("dev").cast(d38) * col(s"dev_$h")).as(s"num_$h")))
      val g = withLags.groupBy("nation").agg(aggs.head, aggs.tail: _*)
      g.filter(col("den") > 0)
        .select(col("nation"), explode(array(lags.map(h =>
          struct(lit(h.toLong).as("lag"),
            col(s"np_$h").cast("long").as("n_pairs"),
            (col(s"num_$h").cast("double") / col("den").cast("double"))
              .as("acf"))): _*)).as("z"))
        .select(col("nation"), col("z.lag").as("lag"),
          col("z.n_pairs").as("n_pairs"), col("z.acf").as("acf"))
        .orderBy("nation", "lag")
    }), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp17",
        """CAST(substring(strftime(o.o_orderdate, '%Y-%m'),
          |                               1, 4) AS BIGINT) * 12
          |                + CAST(substring(strftime(o.o_orderdate, '%Y-%m'),
          |                                 6, 2) AS BIGINT) AS ym""".stripMargin) + s""",
         |mu17 AS (SELECT nation, CAST(SUM(x_cents) AS BIGINT) AS s_cents,
         |                CAST(COUNT(*) AS BIGINT) AS n_m
         |         FROM sp17 GROUP BY 1),
         |dv17 AS (SELECT s.nation, s.ym,
         |                CAST(t.n_m * s.x_cents - t.s_cents AS BIGINT)
         |                  AS dev
         |         FROM sp17 s JOIN mu17 t USING (nation)),
         |lg17 AS (SELECT nation, dev,
         |${(1 to 6).map(h =>
            s"""                SUM(dev) OVER (PARTITION BY nation
               |                  ORDER BY ym RANGE BETWEEN $h PRECEDING
               |                  AND $h PRECEDING) AS dev_$h""".stripMargin)
            .mkString(",\n")}
         |         FROM dv17),
         |ag17 AS (SELECT nation,
         |                SUM(CAST(dev AS HUGEINT) * dev) AS den,
         |${(1 to 6).map(h =>
            s"""                COUNT(dev_$h) AS np_$h,
               |                SUM(CAST(dev AS HUGEINT) * dev_$h)
               |                  AS num_$h""".stripMargin).mkString(",\n")}
         |         FROM lg17 GROUP BY nation)""".stripMargin,
      // HUGEINT→DOUBLE is NOT correctly rounded in DuckDB (off-by-ulp at
      // >2⁵³, measured); HUGEINT→VARCHAR→DOUBLE parses correctly rounded
      // and matches Spark's Decimal.toDouble exactly
      (1 to 6).map(h =>
        s"""SELECT nation, CAST($h AS BIGINT) AS lag,
           |       CAST(np_$h AS BIGINT) AS n_pairs,
           |       CAST(CAST(num_$h AS VARCHAR) AS DOUBLE)
           |         / CAST(CAST(den AS VARCHAR) AS DOUBLE) AS acf
           |FROM ag17 WHERE den > 0""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY nation, lag")))),
    // — Mann–Kendall trend test (w18): the nonparametric "is this series
    //   monotonically trending" DETECTOR — the w-family's missing
    //   hypothesis test (w16 measures YoY growth, w17 measures memory;
    //   neither says whether an apparent drift is signal). S = Σ
    //   sign(x_j − x_i) over all i<j month pairs per nation — pure
    //   integer comparisons on exact cents, no distributional
    //   assumption, robust to any monotone transform of revenue. The
    //   pair space is CALENDAR-bounded: |months|²/2 ≤ ~3.5k pairs per
    //   nation AT ANY CORPUS SIZE (the a38 discipline — the only
    //   corpus-sized work is monthlyNationCents' one partial-agg
    //   shuffle; the self-join is nation-equi over a |nations|·|months|
    //   spine). Exactness: S, the tie term Σt(t−1)(2t+5) and the
    //   18-scaled variance n(n−1)(2n+5) − tie_t are all exact longs
    //   (n ≤ calendar ≈ 10³ → var18 ~ 10⁹, thin); τ = S/pairs and the
    //   continuity-corrected z = (S∓1)/√(var18/18) are single pinned
    //   double trees (long→double exact casts; /, √ correctly rounded
    //   — the a25/a39 discipline). Kendall 1945; the Theil–Sen
    //   estimator (a41) is its magnitude companion. —
    // w18 oracle: same nation-month spine, same i<j sign pairs, same
    // exact tie/variance longs, same pinned z tree (the CASE, the /18.0,
    // the sqrt — textually the Spark expression)
    Query("w18_mann_kendall", ((s, dir) =>
      mannKendallOf(monthlyNationCents(s, dir)
        .withColumn("ym",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
        .select("nation", "ym", "x_cents"))), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp18") + """,
        |ym18 AS (SELECT nation,
        |                CAST(substring(month, 1, 4) AS BIGINT) * 12
        |                  + CAST(substring(month, 6, 2) AS BIGINT) AS ym,
        |                x_cents
        |         FROM sp18),
        |pr18 AS (SELECT a.nation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |                CAST(SUM(CASE WHEN b.x_cents > a.x_cents THEN 1
        |                              WHEN b.x_cents < a.x_cents THEN -1
        |                              ELSE 0 END) AS BIGINT) AS s_stat
        |         FROM ym18 a JOIN ym18 b
        |           ON a.nation = b.nation AND a.ym < b.ym
        |         GROUP BY 1),
        |nm18 AS (SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_months
        |         FROM ym18 GROUP BY 1),
        |ti18 AS (SELECT nation,
        |                CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |                  AS tie_t
        |         FROM (SELECT nation, x_cents,
        |                      CAST(COUNT(*) AS BIGINT) AS t
        |               FROM ym18 GROUP BY 1, 2)
        |         GROUP BY 1),
        |vr18 AS (SELECT nation, n_months, n_pairs, s_stat,
        |                n_months * (n_months - 1) * (2 * n_months + 5)
        |                  - tie_t AS var18
        |         FROM pr18 JOIN nm18 USING (nation)
        |         JOIN ti18 USING (nation))""".stripMargin,
      """SELECT nation, n_months, n_pairs, s_stat,
        |       CAST(var18 AS BIGINT) AS var18,
        |       CAST(s_stat AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS tau,
        |       CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |                 / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |            WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |                 / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |            ELSE 0.0 END AS z
        |FROM vr18 ORDER BY nation""".stripMargin))),
    // — classical seasonal decomposition (w19): the MEASURED monthly
    //   profile the forecasting family assumes — w15's MASE scores
    //   against a seasonal-naive the data may not have, w17 detects
    //   that structure exists, this says WHAT it is: per (nation,
    //   month-of-year), the mean deviation of revenue from its
    //   centered 13-tap moving trend (the classical additive
    //   ratio-to-MA recipe, Persons 1919, with half-weights at ±6 so
    //   the window spans exactly one year). Exactness by clearing
    //   denominators (the w17 device): 24·trend = x₋₆ + 2·Σ₋₅..₊₅ +
    //   x₊₆ is an exact long, detr24 = 24·x − that stays exact
    //   (24·x ~ 10¹⁴ at extreme nation-month scale — ~10⁴ headroom;
    //   past it, lift to DECIMAL(38,0), the a15b swap), and the index
    //   is ONE pinned double division num24/(24·n). Lag taps are
    //   RANGE frames over ym with a 13-tap completeness gate (n11 = 11
    //   AND both half-taps present) — a gap month DROPS its windows
    //   rather than sliding them (the a22/w16 lesson). All window work
    //   rides ONE nation hash exchange; output is the
    //   |nations|·12-row profile. —
    // w19 oracle: same spine, same RANGE-frame taps with the 13-tap
    // completeness gate, same cleared-denominator exact longs, same
    // single pinned division (HUGEINT sums funneled through BIGINT
    // before DOUBLE — the a25 single-rounding discipline)
    Query("w19_seasonal", ((s, dir) => {
      val spine = monthlyNationCents(s, dir)
        .withColumn("ym",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
        .withColumn("moy", substring(col("month"), 6, 2).cast("long"))
      val w11 = Window.partitionBy("nation").orderBy("ym")
        .rangeBetween(-5, 5)
      val wm6 = Window.partitionBy("nation").orderBy("ym")
        .rangeBetween(-6, -6)
      val wp6 = Window.partitionBy("nation").orderBy("ym")
        .rangeBetween(6, 6)
      spine
        .withColumn("s11", sum("x_cents").over(w11))
        .withColumn("n11", count(lit(1)).over(w11))
        .withColumn("tm6", sum("x_cents").over(wm6))
        .withColumn("tp6", sum("x_cents").over(wp6))
        .filter(col("n11") === 11 &&
          col("tm6").isNotNull && col("tp6").isNotNull)
        .withColumn("detr24",
          col("x_cents") * 24L -
            (col("tm6") + col("s11") * 2L + col("tp6")))
        .groupBy("nation", "moy")
        .agg(count(lit(1)).as("n_obs"), sum("detr24").as("num24"))
        .select(col("nation"), col("moy"), col("n_obs"), col("num24"),
          (col("num24").cast("double") /
            (col("n_obs") * 24L).cast("double")).as("seasonal_cents"))
        .orderBy("nation", "moy")
    }), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp19") + """,
        |ym19 AS (SELECT nation,
        |                CAST(substring(month, 1, 4) AS BIGINT) * 12
        |                  + CAST(substring(month, 6, 2) AS BIGINT) AS ym,
        |                CAST(substring(month, 6, 2) AS BIGINT) AS moy,
        |                x_cents
        |         FROM sp19),
        |tr19 AS (SELECT nation, moy, x_cents,
        |                SUM(x_cents) OVER (PARTITION BY nation ORDER BY ym
        |                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS s11,
        |                COUNT(*) OVER (PARTITION BY nation ORDER BY ym
        |                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS n11,
        |                SUM(x_cents) OVER (PARTITION BY nation ORDER BY ym
        |                  RANGE BETWEEN 6 PRECEDING AND 6 PRECEDING) AS tm6,
        |                SUM(x_cents) OVER (PARTITION BY nation ORDER BY ym
        |                  RANGE BETWEEN 6 FOLLOWING AND 6 FOLLOWING) AS tp6
        |         FROM ym19),
        |dt19 AS (SELECT nation, moy,
        |                x_cents * 24 - (tm6 + s11 * 2 + tp6) AS detr24
        |         FROM tr19
        |         WHERE n11 = 11 AND tm6 IS NOT NULL AND tp6 IS NOT NULL)""".stripMargin,
      """SELECT nation, moy, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |       CAST(SUM(detr24) AS BIGINT) AS num24,
        |       CAST(CAST(SUM(detr24) AS BIGINT) AS DOUBLE)
        |         / CAST(CAST(COUNT(*) * 24 AS BIGINT) AS DOUBLE)
        |         AS seasonal_cents
        |FROM dt19 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))))
}
