package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.Stats.markovStationaryIterate
import graft.queries.Common.{FunnelWindowUs, eventsThin, eventsThinSql}

/** b*: batch sessionization and event analytics — sessions, funnels,
  * retention, gap fill, transition matrices, attribution, survival and
  * Markov stationary distributions over the synthesized event feed.
  */
object BQueries {

  /** b2/b2b core: strict-ordered 3-stage funnel via chained window-mins
    * over ONE user_id hash partitioning (no orderBy → no sort), the
    * per-user groupBy reusing the same exchange. `windowUs` bounds each
    * stage's deadline after the previous stage's first qualifying event
    * (None = unbounded, b2's semantics). See the b2 registry comment.
    */
  private def funnelOf(events: DataFrame, windowUs: Option[Long]): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    def within(prev: org.apache.spark.sql.Column) = windowUs match {
      case Some(w) => col("us") >= prev && col("us") <= prev + w
      case None => col("us") >= prev
    }
    val staged = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("s_us", min(when(col("event_type") === "signup",
        col("us"))).over(byUser))
      .withColumn("c_us", min(when(col("event_type") === "click" &&
        within(col("s_us")), col("us"))).over(byUser))
      .withColumn("p_us", min(when(col("event_type") === "purchase" &&
        within(col("c_us")), col("us"))).over(byUser))
    val perUser = staged.groupBy("user_id")
      .agg(min("s_us").as("s_us"), min("c_us").as("c_us"),
        min("p_us").as("p_us"))
    // count(col) skips nulls: users reaching each stage
    perUser
      .agg(count(col("s_us")).as("n1"), count(col("c_us")).as("n2"),
        count(col("p_us")).as("n3"))
      .select(explode(array(
        struct(lit(1L).as("stage_idx"), lit("signup").as("stage"),
          col("n1").as("n_users")),
        struct(lit(2L).as("stage_idx"), lit("click").as("stage"),
          col("n2").as("n_users")),
        struct(lit(3L).as("stage_idx"), lit("purchase").as("stage"),
          col("n3").as("n_users")))).as("r"), col("n1"))
      .select(col("r.stage_idx").as("stage_idx"), col("r.stage").as("stage"),
        col("r.n_users").as("n_users"),
        // try_divide: an empty funnel (n1 = 0) gives NULL, not an error
        try_divide(col("r.n_users").cast("double"), col("n1").cast("double"))
          .as("pct_of_first"))
      .orderBy("stage_idx")
  }

  /** b15 core: the transition table stays a distributed plan (the one
    * user-key exchange + partial agg — the only part that scales with
    * volume), the power iteration runs driver-side on the collected
    * counts. See the b15 registry comment for why the collect is
    * domain-bounded (≤ |event_type|² rows at any corpus size).
    */
  private[graft] def markovStationaryOf(s: SparkSession,
      events: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum("n").over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"),
        expr("cast(cast(n as decimal(38,0)) * 1000000000000 div n_from as long)")
          .as("p_e12"))
    val edges = counts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val (v, _) = markovStationaryIterate(edges)
    val tot = v.values.foldLeft(BigInt(0))(_ + _)
    val rows = v.toSeq.sortBy(_._1).map { case (st, m) =>
      (st, m.toLong,
        if (tot == 0) 0L else ((BigInt(1000000) * m) / tot).toLong)
    }
    rows.toDF("state", "v", "share_e6").orderBy("state")
  }

  /** b10 core over an arbitrary events frame. See the b10 registry
    * comment for the product-limit derivation. Conversion = first BIG-TICKET purchase
    * (value ≥ 180): the fixture converts ~1/3 of users at every scale,
    * so right-censoring — the statistic's whole point — is genuinely
    * exercised (plain "first purchase" converts 100% of users and KM
    * degenerates to b7's lag).
    */
  private[graft] def kaplanMeierOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_type"), col("value"))
    val u = ev.groupBy("user_id").agg(min("us").as("first_us"),
      min(when(col("event_type") === "purchase" && col("value") >= 180.0,
        col("us"))).as("conv_us"))
    val endUs = ev.agg(max("us").as("end_us"))
    val day = u.crossJoin(broadcast(endUs))
      .select(
        expr("""(coalesce(conv_us, end_us) - first_us) div 86400000000""")
          .as("dur_day"),
        when(col("conv_us").isNotNull, 1L).otherwise(0L).as("ev"))
      .groupBy("dur_day")
      .agg(sum("ev").as("d"), count(lit(1)).as("m"),
        sum(lit(1L) - col("ev")).as("c"))
    val before = Window.orderBy("dur_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spine = day
      .withColumn("n_risk",
        sum("m").over(Window.partitionBy())
          - coalesce(sum("m").over(before), lit(0L)))
      .select("dur_day", "d", "c", "n_risk")
    spine
      .agg(array_sort(collect_list(
        struct(col("dur_day"), col("d"), col("c"), col("n_risk")))).as("a"))
      .select(col("a"), posexplode(col("a")))
      .select(col("col.dur_day").as("dur_day"),
        col("col.n_risk").as("n_risk"),
        col("col.d").as("n_events"),
        col("col.c").as("n_censored"),
        aggregate(transform(sequence(lit(0), col("pos")), j => {
          val e = element_at(col("a"), j + 1)
          lit(1.0) - (e.getField("d").cast("double")
            / e.getField("n_risk").cast("double"))
        }), lit(1.0), (acc, f) => acc * f).as("survival"))
      .orderBy("dur_day")
  }

  val all: Seq[Query] = Seq(
    // — sessionization (batch islands; streaming variant in st*) —
    Query("b1_sessionize", ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts"))
      val newSess = when(lag(us, 1).over(byUser).isNull ||
        us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1).otherwise(0)
      Tables.events(s, dir)
        .withColumn("sess_id", sum(newSess)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "sess_id")
    }), Some(Oracle.sql(
      """SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (SELECT user_id, ts,
        |             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM (SELECT user_id, ts, event_id,
        |                   CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                        THEN 1 ELSE 0 END AS new_sess
        |            FROM events))
        |GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin))),
    // — b1's NATIVE twin: batch sessionization via Spark's built-in
    //   session_window (the same operator st4 uses on the stream) —
    //   one groupBy, no lag/running-sum window chain; Catalyst plans
    //   the session merge directly (UpdatingSessionsExec + MergingSessionsExec
    //   fuse partial sessions in the same two-exchange shape a manual
    //   gap-islands needs, and the BATCH plan gets partial merging
    //   map-side). Gap semantics differ from b1 at the exact boundary:
    //   session_window closes at last_ts + gap EXCLUSIVE (a new session
    //   starts when diff ≥ 30 min) where b1's lag rule is strict >.
    //   The oracle states the native ≥ rule — correctness does not
    //   lean on the fixture lacking exact-1800s gaps (verified absent,
    //   but semantics are pinned regardless). sess_id is recovered as
    //   the per-user rank of the session start: the session groupBy
    //   leaves ≤ |sessions| rows per user for that window (b3's
    //   already-aggregated-frame argument). —
    // b1b oracle: b1's gap-islands form with the native session_window
    // boundary rule (new session when diff >= gap, not strict >)
    Query("b1b_session_window_native", ((s, dir) => {
      val g = Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
      val w = Window.partitionBy("user_id").orderBy(col("sw.start"))
      g.withColumn("sess_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("sess_id"), col("n_events"),
          col("session_start"), col("session_end"))
        .orderBy("user_id", "sess_id")
    }), Some(Oracle.sql(
      """SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (SELECT user_id, ts,
        |             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM (SELECT user_id, ts, event_id,
        |                   CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        |                        THEN 1 ELSE 0 END AS new_sess
        |            FROM events))
        |GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin))),
    // — ordered funnel (signup → click → purchase): the canonical
    //   conversion query, with STRICT ordering — each stage's first
    //   qualifying event must be at or after the previous stage's (a
    //   user who clicked before ever signing up has not converted).
    //   Three chained window-mins over ONE user_id hash partitioning
    //   (no orderBy → unbounded frame, no sort), then the per-user
    //   groupBy reuses the same exchange — one shuffle end to end, no
    //   self-joins (the textbook formulation joins events per stage).
    //   Timestamps compare in microseconds on both engines (b1's
    //   unix_micros/epoch_us convention). Counts are exact longs;
    //   pct_of_first is double division of exact longs. —
    Query("b2_funnel", ((s, dir) => funnelOf(eventsThin(s, dir), None)), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |w1 AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |           OVER (PARTITION BY user_id) AS s_us
         |       FROM events_thin),
         |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= s_us THEN us END)
         |         OVER (PARTITION BY user_id) AS c_us FROM w1),
         |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= c_us THEN us END)
         |         OVER (PARTITION BY user_id) AS p_us FROM w2),
         |pu AS (SELECT user_id, MIN(s_us) AS s_us, MIN(c_us) AS c_us, MIN(p_us) AS p_us
         |       FROM w3 GROUP BY user_id),
         |n AS (SELECT COUNT(s_us) AS n1, COUNT(c_us) AS n2, COUNT(p_us) AS n3 FROM pu)""".stripMargin,
      """SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) AS pct_of_first
        |FROM (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users, n1 FROM n
        |      UNION ALL SELECT CAST(2 AS BIGINT), 'click', n2, n1 FROM n
        |      UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3, n1 FROM n)
        |ORDER BY stage_idx""".stripMargin))),
    // — b2 with per-step conversion WINDOWS (b2b): each stage's first
    //   qualifying event must land within 10 days of the previous
    //   stage's — the form product funnels actually ship (an unbounded
    //   funnel overcounts: a purchase a month after the click is a
    //   return visit, not a conversion; Amplitude/GA both default to a
    //   bounded window). The deadline rides the SAME chained
    //   window-min CASE predicates over the SAME single user_id
    //   exchange as b2 — the timeout costs zero extra plan. At sf0.01
    //   the bound genuinely binds: 88→24→6 users vs b2's 88→44→10
    //   (pinned in ExtensionsSpec). —
    // b2b oracle: b2's oracle with the 10-day deadline added to the same CASE
    // predicates (864e9 us = FunnelWindowUs)
    Query("b2b_funnel_window", ((s, dir) =>
      funnelOf(eventsThin(s, dir), Some(FunnelWindowUs))), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |w1b AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |          MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |            OVER (PARTITION BY user_id) AS s_us
         |        FROM events_thin),
         |w2b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= s_us
         |                            AND us <= s_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS c_us FROM w1b),
         |w3b AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= c_us
         |                            AND us <= c_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS p_us FROM w2b),
         |pub AS (SELECT user_id, MIN(s_us) AS s_us, MIN(c_us) AS c_us, MIN(p_us) AS p_us
         |        FROM w3b GROUP BY user_id),
         |nb AS (SELECT COUNT(s_us) AS n1, COUNT(c_us) AS n2, COUNT(p_us) AS n3 FROM pub)""".stripMargin,
      """SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) AS pct_of_first
        |FROM (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users, n1 FROM nb
        |      UNION ALL SELECT CAST(2 AS BIGINT), 'click', n2, n1 FROM nb
        |      UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3, n1 FROM nb)
        |ORDER BY stage_idx""".stripMargin))),
    // — weekly cohort retention: users grouped by the week of their
    //   first event; n_active = distinct users from that cohort active
    //   k weeks later. Two shuffles by nature (first-event-per-user,
    //   then the (cohort, offset) count-distinct); the cohort_size
    //   denominator rides a window over the ALREADY-aggregated frame
    //   (≤ cohorts × offsets rows — trivial at any scale) instead of a
    //   self-join. week_offset is exact: both weeks are Monday-truncated
    //   so the day diff is a multiple of 7. —
    Query("b3_retention", ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
      val cohorted = eventsThin(s, dir)
        .select(col("user_id"), col("ts"))
        .withColumn("cohort_week",
          date_trunc("week", min(col("ts")).over(byUser)).cast("date"))
        .withColumn("week_offset",
          (datediff(date_trunc("week", col("ts")).cast("date"),
            col("cohort_week")) / lit(7)).cast("long"))
      val ret = cohorted.groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
      val byCohort = Window.partitionBy("cohort_week")
      ret
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0L, col("n_active"))).over(byCohort))
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy("cohort_week", "week_offset")
    }), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |fw AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
         |       FROM events_thin GROUP BY user_id),
         |ret AS (SELECT f.cohort_week,
         |          CAST(date_diff('day', f.cohort_week,
         |               CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT) AS week_offset,
         |          COUNT(DISTINCT e.user_id) AS n_active
         |        FROM events_thin e JOIN fw f ON e.user_id = f.user_id
         |        GROUP BY 1, 2)""".stripMargin,
      """SELECT r.cohort_week, r.week_offset, r.n_active, z.n0 AS cohort_size,
        |       CAST(r.n_active AS DOUBLE) / CAST(z.n0 AS DOUBLE) AS retention
        |FROM ret r JOIN (SELECT cohort_week, n_active AS n0 FROM ret
        |                 WHERE week_offset = 0) z USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin))),
    // — gap-filled daily balance: a dense (user × day) spine with each
    //   user's cumulative purchase total carried across days with no
    //   activity — the time-series resample/forward-fill shape (feature
    //   tables, training snapshots) that a bare groupBy cannot produce
    //   because missing days produce NO row to fill. The spine is
    //   users ⨯ broadcast(day range) — linear in users with a
    //   calendar-bounded constant, never a shuffle; the running sum is
    //   one window per user ordered by the spine's unique day (gap days
    //   contribute coalesce(0) and inherit the balance — forward-fill
    //   as arithmetic, no last(ignoreNulls) ordering subtleties).
    //   Cents stay exact longs until the final double division. —
    Query("b4_gap_fill", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
        .groupBy("user_id", "day")
        .agg(sum("cents").as("cents"))
      val days = ev.agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("day"))
      val spine = ev.select("user_id").distinct()
        .crossJoin(broadcast(days))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("bal_cents",
          sum(coalesce(col("cents"), lit(0L))).over(w))
        .select(col("user_id"), col("day"),
          (col("bal_cents").cast("double") / 100.0).as("balance"))
        .orderBy("user_id", "day")
    }), Some(Oracle.sqlWith(
      """pv AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |              SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        |           FROM events),
        |cal AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM bounds),
        |spine AS (SELECT u.user_id, c.day
        |          FROM (SELECT DISTINCT user_id FROM events) u, cal c)""".stripMargin,
      """SELECT s.user_id, s.day,
        |       CAST(SUM(COALESCE(p.cents, 0)) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day) AS DOUBLE) / 100.0
        |         AS balance
        |FROM spine s LEFT JOIN pv p ON p.user_id = s.user_id AND p.day = s.day
        |ORDER BY s.user_id, s.day""".stripMargin))),
    // — event-transition matrix (first-order Markov over the event
    //   stream): (from, to) counts from one lag window on the user
    //   exchange, conditional p = n / n_from as exact-count division.
    //   The from-totals come from a partition-only commutative sum
    //   window over the 25-row transition table — no self-join, and the
    //   lint exempts it by construction. At 100 TB: one user-key
    //   exchange (w2's family); the transition table is |types|² rows
    //   regardless of volume. —
    // b5 oracle: same lag + aggregation; from-totals as the plain
    // partition window
    Query("b5_transition_matrix", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("from_type", lag("event_type", 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("n_from",
          sum("n").over(Window.partitionBy("from_type")).cast("long"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    }), Some(Oracle.sqlWith(
      """tr5 AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS from_type,
        |               event_type AS to_type
        |        FROM events),
        |cnt5 AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |         FROM tr5 WHERE from_type IS NOT NULL GROUP BY 1, 2)""".stripMargin,
      """SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE)
        |         / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM cnt5 ORDER BY from_type, to_type""".stripMargin))),
    // — event-path trigrams (the path-analysis staple: which 3-step
    //   journeys dominate the product): per-user ordered (t1, t2, t3)
    //   event-type triples from two lag taps on the ONE user exchange
    //   (b5's window, one more tap — same single shuffle), then a
    //   partial-agg count and a top-20 with a full-key tiebreak. At
    //   100 TB the trigram space is |types|³ = 125 rows regardless of
    //   volume — like b5's matrix, the agg output is fixture-fixed and
    //   the cost is the one user-key exchange (w2's curve family). —
    // b6 oracle: the same two lag taps + count + tie-broken top-20
    Query("b6_event_trigrams", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t1", lag("event_type", 2).over(w))
        .withColumn("t2", lag("event_type", 1).over(w))
        .filter(col("t1").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }), Some(Oracle.sqlWith(
      """tr6 AS (SELECT LAG(event_type, 2) OVER w AS t1,
        |               LAG(event_type, 1) OVER w AS t2,
        |               event_type AS t3
        |        FROM events
        |        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM tr6 WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin))),
    // — conversion latency: per user, first 'view' → first 'purchase'
    //   at/after it, cohorted by the day of first view — the funnel
    //   companion answering "how long does conversion take", not just
    //   "how many convert". All sums are exact integer micros; the mean
    //   is a pinned division chain ((Σ/n)/1e6 — mirrored verbatim in
    //   the oracle). Two partial-agg shuffles: the per-user rollup
    //   (min-when carries just two longs per user) then the tiny day
    //   rollup; nothing windows over raw events. —
    // b7 oracle: same per-user min-when rollup, same division order
    Query("b7_conversion_lag", ((s, dir) => {
      val perUser = eventsThin(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"),
          min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
        .filter(col("v_us").isNotNull)
      perUser
        .select(col("v_us"),
          when(col("p_us") >= col("v_us"), col("p_us") - col("v_us"))
            .as("lag_us"))
        .withColumn("cohort_day", to_date(timestamp_micros(col("v_us"))))
        .groupBy("cohort_day")
        .agg(count(lit(1)).as("n_users"),
          count(col("lag_us")).as("n_converted"),
          sum(col("lag_us")).as("lag_sum_us"))
        .select(col("cohort_day"), col("n_users"), col("n_converted"),
          (col("lag_sum_us").cast("double") / col("n_converted").cast("double")
            / lit(1e6)).as("mean_lag_s"))
        .orderBy("cohort_day")
    }), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |pu7 AS (SELECT user_id,
         |          MIN(CASE WHEN event_type = 'view'
         |              THEN epoch_us(ts) END) AS v_us,
         |          MIN(CASE WHEN event_type = 'purchase'
         |              THEN epoch_us(ts) END) AS p_us
         |        FROM events_thin GROUP BY user_id),
         |cv7 AS (SELECT CAST(make_timestamp(v_us) AS DATE) AS cohort_day,
         |               CASE WHEN p_us >= v_us THEN p_us - v_us END AS lag_us
         |        FROM pu7 WHERE v_us IS NOT NULL)""".stripMargin,
      """SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(COUNT(lag_us) AS BIGINT) AS n_converted,
        |       CAST(SUM(lag_us) AS DOUBLE) / CAST(COUNT(lag_us) AS DOUBLE)
        |         / 1000000.0 AS mean_lag_s
        |FROM cv7 GROUP BY cohort_day ORDER BY cohort_day""".stripMargin))),
    // — last-touch attribution: each purchase credits the most recent
    //   PRIOR view/click by the same user (the marketing twin of b7's
    //   latency: WHICH channel converts, not how fast). last(…,
    //   ignoreNulls) over the running frame ending at −1 reads the
    //   latest engagement strictly before the purchase; purchases with
    //   no prior engagement credit 'direct'. The frame reads tied
    //   rows' VALUES, so the order key extends to event_id — total,
    //   SortKeySpec-visible. One user exchange for the window; the
    //   channel rollup is a ≤3-row frame whose share denominator rides
    //   a partition-less window over those 3 rows (never a self-join).
    //   At 100 TB: per-user window state is one string (the running
    //   last engagement) — Spark evaluates the running frame
    //   incrementally, nothing buffers the history. —
    // b8 oracle: the same running last-engagement frame (IGNORE NULLS,
    // frame ending at 1 PRECEDING) and the same window-sum share
    Query("b8_attribution", ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val credited = eventsThin(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("channel",
          last(when(col("event_type").isin("view", "click"),
            col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
      val rolled = credited
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"))
      rolled
        .withColumn("share", col("n_purchases").cast("double")
          / sum("n_purchases").over(Window.partitionBy()).cast("double"))
        .orderBy("channel")
    }), Some(Oracle.sqlWith(
      s"""$eventsThinSql,
         |att8 AS (SELECT event_type,
         |           last_value(CASE WHEN event_type IN ('view', 'click')
         |                      THEN event_type END IGNORE NULLS) OVER
         |             (PARTITION BY user_id
         |              ORDER BY epoch_us(ts), event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |             AS channel
         |         FROM events_thin),
         |ch8 AS (SELECT COALESCE(channel, 'direct') AS channel,
         |               CAST(COUNT(*) AS BIGINT) AS n_purchases
         |        FROM att8 WHERE event_type = 'purchase'
         |        GROUP BY 1)""".stripMargin,
      """SELECT channel, n_purchases,
        |       CAST(n_purchases AS DOUBLE)
        |         / CAST(SUM(n_purchases) OVER () AS DOUBLE) AS share
        |FROM ch8 ORDER BY channel""".stripMargin))),
    // — top session paths (the "what do users actually do" product
    //   query): b1's gap-islands sessionization, each session collapsed
    //   to its ordered event-type path (the x3 device: sort an array of
    //   (us, event_id, type) structs — total order, engine-identical —
    //   then project and join), then a global path frequency top-20.
    //   The path column is bounded by session length, not corpus size;
    //   the final TakeOrdered(20) sorts the |distinct paths| table with
    //   a total (count desc, path) key. Same single user exchange as b1
    //   up to the path rollup. —
    // b9 oracle: b1's session statement + ordered string_agg + global top-20
    Query("b9_top_paths", ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts"))
      val newSess = when(lag(us, 1).over(byUser).isNull ||
        us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1).otherwise(0)
      Tables.events(s, dir)
        .withColumn("sess_id", sum(newSess)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "sess_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }), Some(Oracle.sql(
      """SELECT path, COUNT(*) AS n_sessions
        |FROM (SELECT user_id, sess_id,
        |             string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
        |      FROM (SELECT user_id, event_id, ts, event_type,
        |                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                       ROWS UNBOUNDED PRECEDING) AS sess_id
        |            FROM (SELECT user_id, ts, event_id, event_type,
        |                         CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                              THEN 1 ELSE 0 END AS new_sess
        |                  FROM events))
        |      GROUP BY user_id, sess_id)
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin))),
    // — Kaplan–Meier survival curve, signup→purchase (b10): the
    //   censoring-aware time-to-convert statistic — b7's conversion lag
    //   answers "how fast do converters convert", KM answers "what
    //   fraction SURVIVES unconverted past day t" counting the users
    //   who never converted (right-censored at the study end, the
    //   in-plan global max event time — the g8/x9 one-row scalar
    //   device). Per-user rollup (first event, first purchase) is one
    //   partial-agg shuffle; durations quantize to days, so every
    //   downstream structure is the ≤|study-window-days| day spine (the
    //   w7 discipline — fact volume never reaches a window). At-risk
    //   n_i = N − Σ_{j<i} m_j by prefix sums over the spine; the
    //   product-limit Ŝ(tᵢ) = Π_{j≤i}(1 − dⱼ/nⱼ) is a non-associative
    //   ordered product → the w8 pinned-order fold over the collected
    //   spine array (one struct per day): each factor is ONE IEEE
    //   divide + subtract of exact longs and both engines fold in the
    //   same day order → bit-equal doubles, no tolerance. Zero-death
    //   days contribute an exact 1.0 factor — identity under IEEE
    //   multiply, so keeping censor-only days in the product is safe
    //   and keeps the output one row per observed duration. —
    // b10 oracle: the same day-spine prefix arithmetic, the same seeded fold in
    // the same day order — each (1 − d/n) factor is one IEEE divide, so
    // the product-limit doubles are bit-equal, no tolerance
    Query("b10_kaplan_meier", ((s, dir) => kaplanMeierOf(Tables.events(s, dir))),
      Some(Oracle.sqlWith(
      """u10 AS (SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |               MIN(CASE WHEN event_type = 'purchase' AND value >= 180.0
        |                        THEN epoch_us(ts) END) AS conv_us
        |        FROM events GROUP BY user_id),
        |mx10 AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |day10 AS (SELECT (COALESCE(conv_us, end_us) - first_us) // 86400000000
        |                   AS dur_day,
        |                 CAST(SUM(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END)
        |                      AS BIGINT) AS d,
        |                 CAST(COUNT(*) AS BIGINT) AS m,
        |                 CAST(SUM(CASE WHEN conv_us IS NULL THEN 1 ELSE 0 END)
        |                      AS BIGINT) AS c
        |          FROM u10, mx10 GROUP BY 1),
        |spine10 AS (SELECT dur_day, d, c,
        |                   SUM(m) OVER ()
        |                   - COALESCE(SUM(m) OVER (ORDER BY dur_day
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                     0) AS n_risk
        |            FROM day10),
        |arr10 AS (SELECT list(dur_day ORDER BY dur_day) AS days,
        |                 list(d ORDER BY dur_day) AS ds,
        |                 list(c ORDER BY dur_day) AS cs,
        |                 list(n_risk ORDER BY dur_day) AS ns
        |          FROM spine10)""".stripMargin,
      """SELECT days[i] AS dur_day, CAST(ns[i] AS BIGINT) AS n_risk,
        |       ds[i] AS n_events, cs[i] AS n_censored,
        |       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |         list_transform(range(i), j ->
        |           CAST(1.0 AS DOUBLE) - CAST(ds[CAST(j + 1 AS INTEGER)] AS DOUBLE)
        |                                 / CAST(ns[CAST(j + 1 AS INTEGER)] AS DOUBLE))),
        |         (a, x) -> a * x) AS survival
        |FROM arr10, unnest(range(1, len(days) + 1)) AS t(i)
        |ORDER BY dur_day""".stripMargin))),
    // — daily conversion rate with Wilson 95% interval (b11): the
    //   uncertainty-aware product metric — a 3/10 day and a 300/1000 day
    //   share p̂ = 0.3 but not the same evidence, and the Wilson score
    //   interval (the standard small-n-safe binomial CI — never leaves
    //   [0,1], behaves at p̂ ∈ {0,1} where Wald collapses) says so.
    //   Per-day distinct actives and distinct converters are one
    //   partial-agg'able rollup (the w7 spine discipline — output is
    //   |days| rows at any volume); the interval is pure arithmetic on
    //   (conv, n): z pinned at 1.96 with the same left-associated
    //   expression tree in both engines (z²/n folds identically, one
    //   correctly-rounded sqrt — the a25/a26 funnel discipline), so the
    //   doubles hash bit-equal. —
    // b11 oracle: identical left-associated Wilson tree — z²/n, the /(2n) and
    // /(4n) terms, one sqrt — so the CI doubles are bit-equal. Every
    // literal is CAST to DOUBLE (the w8 discipline): DuckDB parses bare
    // decimal literals as DECIMAL, and DECIMAL 3.8416 → double differs
    // from the folded 1.96·1.96 double by 1 ulp (measured).
    Query("b11_conversion_ci", ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"),
          col("event_type"))
        .groupBy("day")
        .agg(countDistinct("user_id").as("n"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("conv"))
      val z = lit(1.96)
      val nD = col("n").cast("double")
      val p = col("conv").cast("double") / nD
      val denom = lit(1.0) + z * z / nD
      val center = p + z * z / (lit(2.0) * nD)
      val margin = z * sqrt((p * (lit(1.0) - p) + z * z / (lit(4.0) * nD))
        / nD)
      d.select(col("day"), col("n"), col("conv"), p.as("p_hat"),
        ((center - margin) / denom).as("wilson_lo"),
        ((center + margin) / denom).as("wilson_hi"))
        .orderBy("day")
    }), Some(Oracle.sqlWith(
      """d11c AS (SELECT CAST(ts AS DATE) AS day,
        |                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
        |                CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
        |                     THEN user_id END) AS BIGINT) AS conv
        |         FROM events GROUP BY 1),
        |w11c AS (SELECT day, n, conv,
        |                CAST(conv AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |                CAST(n AS DOUBLE) AS nd,
        |                CAST(1.96 AS DOUBLE) AS z,
        |                CAST(1.0 AS DOUBLE) AS one,
        |                CAST(2.0 AS DOUBLE) AS two,
        |                CAST(4.0 AS DOUBLE) AS four
        |         FROM d11c)""".stripMargin,
      """SELECT day, n, conv, p AS p_hat,
        |       ((p + z * z / (two * nd))
        |        - z * sqrt((p * (one - p) + z * z / (four * nd)) / nd))
        |         / (one + z * z / nd) AS wilson_lo,
        |       ((p + z * z / (two * nd))
        |        + z * sqrt((p * (one - p) + z * z / (four * nd)) / nd))
        |         / (one + z * z / nd) AS wilson_hi
        |FROM w11c ORDER BY day""".stripMargin))),
    // — cohort LTV triangle (b12): the growth-analytics staple —
    //   cumulative purchase revenue per signup cohort by month age,
    //   normalized per cohort user ("how much has the March cohort
    //   spent by month 2"). Cohort = month of FIRST event (w7's
    //   first-seen device: one user-grain partial agg — fact rows
    //   never sort); revenue rolls up to the cohort×age grain before
    //   the cumulative window, so the running sum runs over a
    //   calendar-bounded spine (|cohorts|·|ages| rows at ANY volume —
    //   the a22/w14 spine discipline). Month arithmetic is integer
    //   (y·12+m), cents exact via the a15 decimal device, and the
    //   per-user LTV is the ×10⁶ fixed-point floor ratio — hash-exact
    //   end to end. —
    // b12 oracle: same first-seen cohort, same integer month index,
    // same rolled-up cumulative spine, same fixed-point floor ratio
    Query("b12_cohort_ltv", ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      val first = Tables.events(s, dir)
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
        .select(col("user_id"),
          date_format(col("t0"), "yyyy-MM").as("cohort"),
          (year(col("t0")) * 12 + month(col("t0"))).as("ym0"))
      val sizes = first.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"))
      val rev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (year(col("ts")) * 12 + month(col("ts"))).as("ym"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
        .join(first, Seq("user_id"))
        .groupBy(col("cohort"), (col("ym") - col("ym0")).as("age"))
        .agg(sum("cents").as("rev_cents"))
      val cw = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      rev
        .withColumn("cum_cents", sum("rev_cents").over(cw).cast("long"))
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("age").cast("long").as("age"),
          col("n_users").cast("long").as("n_users"),
          col("rev_cents").cast("long").as("rev_cents"), col("cum_cents"),
          // DECIMAL(38) lift — the a28 overflow class: ×10⁶ over an
          // unbounded cumulative cents sum must not ride a long
          expr("""(1000000 * cast(cum_cents as decimal(38,0))) div
                  cast(n_users as decimal(38,0))""").cast("long")
            .as("ltv_per_user_e6"))
        .orderBy("cohort", "age")
    }), Some(Oracle.sqlWith(
      """fs12 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
        |co12 AS (SELECT user_id, strftime(t0, '%Y-%m') AS cohort,
        |                year(t0) * 12 + month(t0) AS ym0
        |         FROM fs12),
        |sz12 AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
        |         FROM co12 GROUP BY cohort),
        |rv12 AS (SELECT c.cohort,
        |                CAST(year(e.ts) * 12 + month(e.ts) - c.ym0 AS BIGINT)
        |                  AS age,
        |                CAST(SUM(CAST(CAST(e.value AS DECIMAL(12,2)) * 100
        |                     AS BIGINT)) AS BIGINT) AS rev_cents
        |         FROM events e JOIN co12 c ON e.user_id = c.user_id
        |         WHERE e.event_type = 'purchase'
        |         GROUP BY 1, 2),
        |cm12 AS (SELECT cohort, age, rev_cents,
        |                CAST(SUM(rev_cents) OVER (PARTITION BY cohort
        |                  ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |                  AS cum_cents
        |         FROM rv12)""".stripMargin,
      """SELECT c.cohort, c.age, s.n_users, c.rev_cents, c.cum_cents,
        |       (1000000 * c.cum_cents) // s.n_users AS ltv_per_user_e6
        |FROM cm12 c JOIN sz12 s ON c.cohort = s.cohort
        |ORDER BY c.cohort, c.age""".stripMargin))),
    // — RFM customer segmentation (b13): the classic lifecycle
    //   segmentation (recency / frequency / monetary quintiles) every
    //   CRM team runs — and a textbook banned-global-window trap:
    //   naive RFM ntiles ALL customers through one partition three
    //   times. The a28/c10b cutoff device instead: one customer-grain
    //   rollup (fact rows stop at the partial agg), ONE 1-row agg
    //   computing 4 exact percentile_disc cutoffs per dimension,
    //   broadcast back, score = 1 + #cutoffs strictly below the value
    //   (monotone, tie-stable, hash-exact — quantile_disc ≡
    //   percentile_disc is the proven c10b parity), recency inverted
    //   so 5 always means "best". The segment taxonomy is a pinned
    //   CASE over the scores. Everything after the rollup is
    //   broadcast + narrow map — no sort of the customer table at any
    //   scale. —
    // b13 oracle: same customer-grain rollup, same quantile_disc
    // cutoffs (the c10b parity), same count-above scoring and CASE
    Query("b13_rfm_segments", ((s, dir) => {
      // customer-grain rollup is referenced twice (cutoff agg + scoring)
      // — checkpoint it so the fact scan runs ONCE (it is |customers|
      // rows, bounded; the s7/g10 shared-lineage discipline)
      val cg = graft.etl.Pipelines.cleanSales(s, dir)
        .groupBy(col("customer_id"))
        .agg(datediff(lit("1998-12-31").cast("date"), max(col("order_date")))
          .cast("long").as("r_days"),
          countDistinct("order_id").as("f_orders"),
          sum((col("total_price") * 100).cast("long")).as("m_cents"))
        .localCheckpoint()
      val qs = Seq("20", "40", "60", "80")
      val cutCols = for (d <- Seq("r_days", "f_orders", "m_cents"); q <- qs)
        yield expr(s"percentile_disc(0.$q) WITHIN GROUP (ORDER BY $d)")
          .as(s"${d.head}$q")
      val cuts = cg.agg(cutCols.head, cutCols.tail: _*)
      val above = (d: String) => qs.map(q =>
        when(col(d) > col(s"${d.head}$q"), 1L).otherwise(0L))
        .reduce(_ + _)
      cg.crossJoin(broadcast(cuts))
        .select(col("customer_id"), col("r_days"), col("f_orders"),
          col("m_cents"),
          (lit(5L) - above("r_days")).as("r_score"),
          (lit(1L) + above("f_orders")).as("f_score"),
          (lit(1L) + above("m_cents")).as("m_score"))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") >= 4, "recent")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .otherwise("regular"))
        .orderBy("customer_id")
    }), Some(Oracle.sqlWith(
      """cg13 AS (SELECT customer_id,
        |                CAST(DATE '1998-12-31' - MAX(order_date) AS BIGINT)
        |                  AS r_days,
        |                CAST(COUNT(DISTINCT order_id) AS BIGINT) AS f_orders,
        |                CAST(SUM(CAST(total_price * 100 AS BIGINT)) AS BIGINT)
        |                  AS m_cents
        |         FROM clean_sales GROUP BY customer_id),
        |ct13 AS (SELECT quantile_disc(r_days, 0.20) AS r20,
        |                quantile_disc(r_days, 0.40) AS r40,
        |                quantile_disc(r_days, 0.60) AS r60,
        |                quantile_disc(r_days, 0.80) AS r80,
        |                quantile_disc(f_orders, 0.20) AS f20,
        |                quantile_disc(f_orders, 0.40) AS f40,
        |                quantile_disc(f_orders, 0.60) AS f60,
        |                quantile_disc(f_orders, 0.80) AS f80,
        |                quantile_disc(m_cents, 0.20) AS m20,
        |                quantile_disc(m_cents, 0.40) AS m40,
        |                quantile_disc(m_cents, 0.60) AS m60,
        |                quantile_disc(m_cents, 0.80) AS m80
        |         FROM cg13),
        |sc13 AS (SELECT customer_id, r_days, f_orders, m_cents,
        |                5 - ((r_days > r20)::BIGINT + (r_days > r40)::BIGINT
        |                     + (r_days > r60)::BIGINT + (r_days > r80)::BIGINT)
        |                  AS r_score,
        |                1 + ((f_orders > f20)::BIGINT + (f_orders > f40)::BIGINT
        |                     + (f_orders > f60)::BIGINT + (f_orders > f80)::BIGINT)
        |                  AS f_score,
        |                1 + ((m_cents > m20)::BIGINT + (m_cents > m40)::BIGINT
        |                     + (m_cents > m60)::BIGINT + (m_cents > m80)::BIGINT)
        |                  AS m_score
        |         FROM cg13, ct13)""".stripMargin,
      """SELECT customer_id, r_days, f_orders, m_cents,
        |       r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |            WHEN r_score >= 4 THEN 'recent'
        |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |            ELSE 'regular' END AS segment
        |FROM sc13
        |ORDER BY customer_id""".stripMargin))),
    // — time-decay multi-touch attribution (b14): b8's last-touch gives
    //   100% of the credit to one event; the marketing-standard decay
    //   model splits it across EVERY touchpoint in the 14-day window
    //   before each conversion, weighted 2^(−age_days). The weights are
    //   dyadic on purpose: credit = 8192 >> age is an exact INTEGER
    //   (the repo's float-free discipline where an e^(−λt) decay would
    //   be rounding luck), so channel shares are ×10⁶ fixed-point
    //   ratios of exact longs. Join shape is the per-user history join
    //   (b1's family): conversions ⋈ touchpoints on ONE user key, the
    //   window predicate as join filters — per-user event counts bound
    //   the multiplicity, never |events|². Output at the
    //   (channel, age) grain a marketer actually reads. —
    // b14 oracle: same window join, same dyadic 8192 >> age credits,
    // same fixed-point shares
    Query("b14_decay_attribution", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t_us"))
      val credited = conv.join(touch, Seq("user_id"))
        .filter(col("t_us") <= col("p_us") &&
          col("p_us") - col("t_us") < lit(14L * 86400000000L))
        .withColumn("age_days",
          ((col("p_us") - col("t_us")) / lit(86400000000L)).cast("long"))
        .withColumn("credit", expr("shiftright(8192, cast(age_days as int))"))
      val byAge = credited.groupBy("event_type", "age_days")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit").as("credit"))
      val total = byAge.agg(sum("credit").as("total_credit"))
      byAge.crossJoin(broadcast(total))
        .select(col("event_type"), col("age_days"), col("n_touches"),
          col("credit").cast("long").as("credit"),
          expr("(1000000 * credit) div total_credit").cast("long")
            .as("share_e6"))
        .orderBy("event_type", "age_days")
    }), Some(Oracle.sqlWith(
      """cv14 AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
        |         WHERE event_type = 'purchase'),
        |tp14 AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
        |         FROM events WHERE event_type IN ('click', 'view')),
        |cr14 AS (SELECT t.event_type,
        |                CAST((c.p_us - t.t_us) // 86400000000 AS BIGINT)
        |                  AS age_days,
        |                8192 >> CAST((c.p_us - t.t_us) // 86400000000
        |                  AS INTEGER) AS credit
        |         FROM cv14 c JOIN tp14 t ON c.user_id = t.user_id
        |          AND t.t_us <= c.p_us
        |          AND c.p_us - t.t_us < 1209600000000),
        |ba14 AS (SELECT event_type, age_days,
        |                CAST(COUNT(*) AS BIGINT) AS n_touches,
        |                CAST(SUM(credit) AS BIGINT) AS credit
        |         FROM cr14 GROUP BY 1, 2),
        |tt14 AS (SELECT CAST(SUM(credit) AS BIGINT) AS total_credit
        |         FROM ba14)""".stripMargin,
      """SELECT event_type, age_days, n_touches, credit,
        |       CAST((1000000 * credit) // total_credit AS BIGINT)
        |         AS share_e6
        |FROM ba14, tt14
        |ORDER BY event_type, age_days""".stripMargin))),
    // — stationary distribution of the behavior chain (b15): where does
    //   the b5 Markov chain SETTLE — the long-run share of user
    //   attention per event type, the quantity capacity planning and
    //   "which surface dominates at equilibrium" questions actually
    //   need (b5 measures one step; this iterates it to the fixed
    //   point). g4's integer-PageRank device on the |types|²-row
    //   transition table: probabilities quantize ONCE to
    //   p_e12 = (n·10¹²) div n_from (exact longs) IN-PLAN, then the
    //   power iteration r'_to = (Σ_from r_from·p_e12) div 10¹² runs
    //   DRIVER-SIDE on the collected transition table — ≤ |types|²
    //   rows at ANY corpus volume, the SemDeDup-centroid /
    //   BPE-merge bounded-collect carve-out — with an early stop at
    //   the exact integer fixed point (v'==v persists: same vector in
    //   ⇒ same vector out, so stopping early is provably equal to the
    //   oracle's 20 unrolled rounds). The r14 in-plan unroll spent a
    //   fixed ~4.4 s scheduling 20 sequential 25-row stages at every
    //   scale; the distributed work (the one user-key exchange + agg)
    //   is unchanged. Target-only states get an implicit self-loop
    //   p_e12 = 10¹² (the PageRank dangling-node convention, mirrored
    //   in the oracle's sk15 CTE) instead of silently dropping their
    //   mass after round 1 — empty on the driver fixture, where every
    //   type occurs both ways. Shares as ×10⁶ floors of the total. —
    // b15 oracle: b5's transition counts quantized to the same e12
    // fixed-point, 20 unrolled power-iteration CTEs (the t20 unroll
    // device), HUGEINT products, floor division after each round's sum.
    // 20 full rounds here vs the query's exact-fixed-point early stop
    // is NOT a divergence: an integer fixed point persists, so rounds
    // past convergence reproduce the same vector bit-for-bit. sk15
    // mirrors the query's self-loop convention for target-only states
    // (empty on the driver fixture).
    Query("b15_markov_stationary", ((s, dir) =>
      markovStationaryOf(s, Tables.events(s, dir))), Some({
      val rounds = (1 to 20).map { k =>
        s"""rr$k AS (SELECT t.to_type AS state,
           |              CAST(SUM(CAST(r.v AS HUGEINT) * t.p_e12)
           |                // 1000000000000 AS BIGINT) AS v
           |         FROM rr${k - 1} r JOIN tp15 t
           |           ON r.state = t.from_type
           |         GROUP BY t.to_type)""".stripMargin
      }.mkString(",\n")
      Oracle.sqlWith(
        s"""tr15 AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
           |                  ORDER BY ts, event_id) AS from_type,
           |                event_type AS to_type
           |         FROM events),
           |cn15 AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
           |         FROM tr15 WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |tp15a AS (SELECT from_type, to_type,
           |                 CAST(CAST(n AS HUGEINT) * 1000000000000
           |                   // SUM(n) OVER (PARTITION BY from_type)
           |                   AS BIGINT) AS p_e12
           |          FROM cn15),
           |sk15 AS (SELECT DISTINCT to_type AS state FROM cn15
           |         EXCEPT SELECT DISTINCT from_type FROM cn15),
           |tp15 AS (SELECT * FROM tp15a
           |         UNION ALL
           |         SELECT state, state,
           |                CAST(1000000000000 AS BIGINT) AS p_e12
           |         FROM sk15),
           |st15b AS (SELECT DISTINCT from_type AS state FROM cn15
           |          UNION SELECT DISTINCT to_type FROM cn15),
           |rr0 AS (SELECT state, CAST(1000000000000 AS BIGINT) AS v
           |        FROM st15b),
           |$rounds""".stripMargin,
        """SELECT state, v,
          |       CAST((1000000 * CAST(v AS HUGEINT))
          |            // (SELECT SUM(CAST(v AS HUGEINT)) FROM rr20)
          |            AS BIGINT) AS share_e6
          |FROM rr20 ORDER BY state""".stripMargin)
    })))
}
