package graft
package queries

import graft.queries.Common.{BenfordE9, a35OracleSql, eventsThinSql}
import graft.streaming.Streams

/** Structured Streaming driver queries (st*), replayed with AvailableNow
  * into batch-comparable results (determinism contract in
  * [[graft.streaming.Streams]]). Oracles state the streaming semantics in
  * SQL: tumbling/sliding buckets via time_bucket (hour-aligned in both
  * engines), watermark emission as "window end ≤ max(ts) − delay" with the
  * watermark truncated to milliseconds exactly like Spark's event-time
  * tracker, and session windows as gap-islands with Spark's merge rule
  * (new session iff gap ≥ threshold; session end = last event + gap).
  */
object StQueries {

  private val tumblingAgg =
    """SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  val all: Seq[Query] = Seq(
    Query("st1_stream_tumbling", ((s, dir) =>
      Streams.tumblingByType(s, dir)
        .orderBy("event_type", "window_start")), Some(Oracle.sql(
      s"""SELECT * FROM ($tumblingAgg)
         |ORDER BY event_type, window_start""".stripMargin))),
    Query("st2_stream_watermark", ((s, dir) =>
      Streams.watermarkedTumbling(s, dir)
        .orderBy("event_type", "window_start")), Some(Oracle.sqlWith(
      "m AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM events)",
      s"""SELECT event_type, window_start, n_events, total_value
         |FROM ($tumblingAgg) a, m
         |WHERE epoch_us(window_start + INTERVAL '1 hour') <= m.wm_ms * 1000
         |ORDER BY event_type, window_start""".stripMargin))),
    Query("st3_stream_sliding", ((s, dir) =>
      Streams.slidingByType(s, dir)
        .orderBy("event_type", "window_start")), Some(Oracle.sql(
      """SELECT event_type, window_start, COUNT(*) AS n_events
        |FROM (SELECT event_type,
        |             time_bucket(INTERVAL '15 minutes', ts) - to_minutes(k * 15) AS window_start
        |      FROM events, (SELECT unnest(range(4)) AS k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))),
    Query("st4_stream_session", ((s, dir) =>
      Streams.sessionWindows(s, dir)
        .orderBy("user_id", "session_start")), Some(Oracle.sqlWith(
      """sess AS (
        |  SELECT user_id, sess_id, MIN(ts) AS session_start,
        |         MAX(ts) + INTERVAL '30 minutes' AS session_end,
        |         COUNT(*) AS n_events
        |  FROM (SELECT user_id, ts,
        |               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        |        FROM (SELECT user_id, ts, event_id,
        |                     CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                            OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        |                          THEN 1 ELSE 0 END AS new_sess
        |              FROM events))
        |  GROUP BY user_id, sess_id),
        |m AS (SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events)""".stripMargin,
      """SELECT user_id, session_start, session_end, n_events
        |FROM sess, m
        |WHERE epoch_us(session_end) <= m.wm_ms * 1000
        |ORDER BY user_id, session_start""".stripMargin))),
    Query("st5_stream_stateful", ((s, dir) =>
      Streams.userProfiles(s, dir)
        .orderBy("user_id")), Some(Oracle.sql(
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS total_value,
        |       MAX(ts) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))),
    Query("st6_stream_join", ((s, dir) =>
      Streams.signupPurchaseJoin(s, dir)
        .orderBy("user_id", "signup_id", "purchase_id")), Some(Oracle.sql(
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |       s.ts AS signup_ts, p.ts AS purchase_ts
        |FROM events s JOIN events p
        |  ON s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.user_id = s.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'
        |ORDER BY s.user_id, signup_id, purchase_id""".stripMargin))),
    Query("st7_stream_dedup", ((s, dir) =>
      Streams.dedupKeys(s, dir)
        .orderBy("user_id", "event_type")), Some(Oracle.sql(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin))),
    Query("st8_stream_static_join", ((s, dir) =>
      Streams.enrichedEvents(s, dir)
        .orderBy("event_id")), Some(Oracle.sql(
      """SELECT e.user_id, e.event_id, e.event_type, c.c_name AS customer_name
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin))),
    Query("st9_stream_ingest_dedup", ((s, dir) =>
      Streams.ingestDedup(s, dir)
        .orderBy("event_id")), Some(Oracle.sql(
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id % 3 <> 0 ORDER BY event_id""".stripMargin))),
    // streaming CMS heavy-hitter watchlist — a14's pinned-hash sketch as
    // bounded keyed state; ORACLED since the PinnedCms swap (the counter
    // state is portable integer arithmetic — DuckDB replays the cells),
    // and the CMS bound stays pinned in StreamAndMultimodalSpec at two
    // scales. Keep-final max() lives inside sketchWatchlist (monotone
    // estimates under growing counters — the st17 device).
    // st10 oracle: a14's pinned-hash CMS device at the streaming geometry —
    // the final per-type counters over ALL events (adds commutative →
    // batching-invariant), min-estimate for the 7 watch keys; a cell no
    // row hit reads 0 (left join + coalesce, mirroring estJvm)
    Query("st10_stream_sketch", ((s, dir) =>
      Streams.sketchWatchlist(s, dir)), Some(Oracle.sqlWith(
      s"""k10 AS (SELECT event_type,
         |               CASE WHEN user_id % 3 = 0 THEN user_id % 7
         |               ELSE user_id END AS key
         |        FROM events),
         |c10 AS (SELECT event_type, CAST(dd.d AS INT) AS d,
         |               CAST(('0x' || substring(md5(CAST(dd.d AS VARCHAR)
         |                       || ':' || CAST(key AS VARCHAR)), 1, 15))
         |                    AS BIGINT) % ${Streams.SketchWidth} AS cell,
         |               CAST(count(*) AS BIGINT) AS cnt
         |        FROM k10, range(${Streams.SketchDepth}) dd(d)
         |        GROUP BY 1, 2, 3),
         |w10 AS (SELECT et.event_type, kk.key, CAST(dd.d AS INT) AS d,
         |               CAST(('0x' || substring(md5(CAST(dd.d AS VARCHAR)
         |                       || ':' || CAST(kk.key AS VARCHAR)), 1, 15))
         |                    AS BIGINT) % ${Streams.SketchWidth} AS cell
         |        FROM (SELECT DISTINCT event_type FROM k10) et,
         |             range(7) kk(key),
         |             range(${Streams.SketchDepth}) dd(d))""".stripMargin,
      """SELECT w10.event_type, CAST(w10.key AS BIGINT) AS key,
        |       CAST(MIN(COALESCE(c10.cnt, 0)) AS BIGINT) AS est_n
        |FROM w10 LEFT JOIN c10
        |  ON w10.event_type = c10.event_type AND w10.d = c10.d
        |     AND w10.cell = c10.cell
        |GROUP BY w10.event_type, w10.key
        |ORDER BY w10.event_type, w10.key""".stripMargin))),
    Query("st11_stream_outer_join", ((s, dir) =>
      Streams.signupPurchaseOuterJoin(s, dir)
        .orderBy("user_id", "signup_id", "purchase_id")), Some(Oracle.sqlWith(
      // the GLOBAL watermark is the MIN over the two watermarked inputs
      // (each side is filtered to its own event type BEFORE the watermark,
      // so each tracks its own max event time) — using max(ts) over all
      // events here over-advances it and emits ~3 extra rows at sf0.01
      """wm AS (SELECT LEAST(
        |  (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'signup'),
        |  (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'))
        |  - 7200000 AS wm_ms)""".stripMargin,
      """SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
        |       s.ts AS signup_ts, p.ts AS purchase_ts
        |FROM events s JOIN events p
        |  ON s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.user_id = s.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '1 hour'
        |UNION ALL
        |SELECT s.user_id, s.event_id, CAST(NULL AS BIGINT),
        |       s.ts, CAST(NULL AS TIMESTAMP)
        |FROM events s, wm
        |WHERE s.event_type = 'signup'
        |  AND NOT EXISTS (SELECT 1 FROM events p
        |                  WHERE p.event_type = 'purchase'
        |                    AND p.user_id = s.user_id
        |                    AND p.ts >= s.ts
        |                    AND p.ts <= s.ts + INTERVAL '1 hour')
        |  AND epoch_us(s.ts + INTERVAL '1 hour') < wm.wm_ms * 1000
        |ORDER BY user_id, signup_id, purchase_id""".stripMargin))),
    // — streaming first-seen + day rollup, w7's streaming twin: the
    //   stateful first-sight emission happens in the stream (1-byte
    //   state per user); the day spine count + running sum are batch
    //   transforms over the emitted (user, first_us) rows. Shares w7's
    //   oracle shape verbatim — the gate pins stream ≡ batch. —
    // st12 oracle: w7's first-seen rollup verbatim (same thinning) —
    // the streaming first-sight emission must equal the batch min
    Query("st12_stream_new_users", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      Streams.firstSeenUsers(s, dir)
        .select(to_date(timestamp_micros(col("first_us"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum("new_users").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("day")
    }), Some(Oracle.sqlWith(
      """thin12 AS (SELECT * FROM events
        |           WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'),
        |fs12 AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS day
        |         FROM thin12 GROUP BY user_id),
        |dd12 AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        |         FROM fs12 GROUP BY day)""".stripMargin,
      """SELECT day, new_users,
        |       CAST(SUM(new_users) OVER (ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM dd12 ORDER BY day""".stripMargin))),
    // w9's streaming twin — dynamic-gap session windows (see
    // Streams.intervalSessions for the two pinned deltas vs w9)
    // st13 oracle: w9's island statement with the two documented deltas —
    // whole-second gaps and STRICT-overlap merging (>=, not >) — plus
    // st4's watermark-close filter
    Query("st13_stream_interval_merge", ((s, dir) =>
      Streams.intervalSessions(s, dir)
        .orderBy("user_id", "start_us")), Some(Oracle.sqlWith(
      """iv13 AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |                epoch_us(ts) + CAST(round(value * 60) AS BIGINT) * 1000000 AS end_us
        |         FROM events
        |         -- third pinned delta (surfaced by the sf0.1 sweep, round
        |         -- 12): session_window FILTERS rows whose gap quantizes to
        |         -- a non-positive duration — a zero-dwell event neither
        |         -- forms a zero-length island nor counts into a covering
        |         -- one; the oracle drops it at the source like the engine
        |         WHERE round(value * 60) > 0),
        |fl13 AS (SELECT user_id, start_us, end_us, event_id,
        |               CASE WHEN MAX(end_us) OVER w IS NULL
        |                      OR start_us >= MAX(end_us) OVER w
        |                    THEN 1 ELSE 0 END AS new_island
        |             FROM iv13
        |             WINDOW w AS (PARTITION BY user_id ORDER BY start_us, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |is13 AS (SELECT user_id, start_us, end_us,
        |               SUM(new_island) OVER (PARTITION BY user_id
        |                 ORDER BY start_us, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |             FROM fl13),
        |ag13 AS (SELECT user_id, MIN(start_us) AS start_us,
        |                MAX(end_us) AS end_us, COUNT(*) AS n_intervals
        |         FROM is13 GROUP BY user_id, island),
        |m13 AS (SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events)""".stripMargin,
      """SELECT user_id, start_us, end_us, n_intervals
        |FROM ag13, m13
        |WHERE end_us <= m13.wm_ms * 1000
        |ORDER BY user_id, start_us""".stripMargin))),
    // b2b's streaming twin — per-user deadline funnel as custom keyed
    // state (see Streams.funnelStages for the out-of-order caveat)
    // st14 oracle: b2b's per-user CTE chain restated; stage from the same
    // nullable mins the batch query counts
    Query("st14_stream_funnel", ((s, dir) =>
      Streams.funnelStages(s, dir)
        .orderBy("user_id")), Some(Oracle.sqlWith(
      s"""${eventsThinSql},
         |w1f AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |          MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |            OVER (PARTITION BY user_id) AS s_us
         |        FROM events_thin),
         |w2f AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= s_us
         |                            AND us <= s_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS c_us FROM w1f),
         |w3f AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= c_us
         |                            AND us <= c_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS p_us FROM w2f),
         |puf AS (SELECT user_id, MIN(s_us) AS s_us, MIN(c_us) AS c_us,
         |               MIN(p_us) AS p_us
         |        FROM w3f GROUP BY user_id)""".stripMargin,
      """SELECT user_id,
        |       CASE WHEN p_us IS NOT NULL THEN CAST(3 AS BIGINT)
        |            WHEN c_us IS NOT NULL THEN CAST(2 AS BIGINT)
        |            WHEN s_us IS NOT NULL THEN CAST(1 AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS stage_reached,
        |       s_us, c_us, p_us
        |FROM puf ORDER BY user_id""".stripMargin))),
    // c20's streaming twin — per-window event-type drift vs a static
    // baseline (see Streams.typeDrift for the grain/determinism notes)
    // st15 oracle: same day buckets (both engines epoch-align '1 day'), same
    // fixed-point shares and single-division TV terms as c20
    Query("st15_stream_drift", ((s, dir) =>
      Streams.typeDrift(s, dir)
        .orderBy("window_start", "event_type")), Some(Oracle.sqlWith(
      """w15 AS (SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
        |               event_type, CAST(COUNT(*) AS BIGINT) AS a
        |        FROM events GROUP BY 1, 2),
        |b15 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS b
        |        FROM events GROUP BY 1),
        |t15d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM events),
        |n15 AS (SELECT window_start, CAST(SUM(a) AS BIGINT) AS n_w
        |        FROM w15 GROUP BY 1)""".stripMargin,
      """SELECT w.window_start, w.event_type, w.a, n.n_w,
        |       CAST((1000000 * w.a) // n.n_w AS BIGINT) AS share_w_e6,
        |       CAST((1000000 * b.b) // t.n_tot AS BIGINT) AS share_base_e6,
        |       CAST(abs(CAST(w.a AS HUGEINT) * t.n_tot
        |                - CAST(b.b AS HUGEINT) * n.n_w) AS DOUBLE)
        |         / (2.0 * CAST(n.n_w AS DOUBLE) * CAST(t.n_tot AS DOUBLE))
        |         AS tv_term
        |FROM w15 w
        |JOIN b15 b USING (event_type)
        |JOIN n15 n USING (window_start), t15d t
        |ORDER BY window_start, event_type""".stripMargin))),
    // w14's streaming twin — per-type daily CUSUM vs a static reference
    // level as bounded keyed state (see Streams.streamCusum)
    // st16 oracle: the batch statement of the same per-type daily CUSUM —
    // w14's prefix-sum/running-min identity over the day spine with the
    // same integer μ, k, and alarm threshold
    Query("st16_stream_cusum", ((s, dir) =>
      Streams.streamCusum(s, dir)), Some(Oracle.sqlWith(
      """dy16 AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |                CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100
        |                     AS BIGINT)) AS BIGINT) AS x_cents
        |         FROM events GROUP BY 1, 2),
        |mu16 AS (SELECT event_type,
        |                CAST(SUM(x_cents) // COUNT(*) AS BIGINT) AS mu
        |         FROM dy16 GROUP BY event_type),
        |pp16 AS (SELECT d.event_type, d.day, d.x_cents, m.mu,
        |                SUM(d.x_cents - (m.mu + m.mu // 20)) OVER (
        |                  PARTITION BY d.event_type ORDER BY d.day
        |                  ROWS UNBOUNDED PRECEDING) AS p
        |         FROM dy16 d JOIN mu16 m USING (event_type))""".stripMargin,
      """SELECT event_type, day, x_cents,
        |       CAST(p - LEAST(0, MIN(p) OVER (
        |         PARTITION BY event_type ORDER BY day
        |         ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS cusum_cents,
        |       (p - LEAST(0, MIN(p) OVER (
        |         PARTITION BY event_type ORDER BY day
        |         ROWS UNBOUNDED PRECEDING))) > mu // 2 AS alarm
        |FROM pp16
        |ORDER BY event_type, day""".stripMargin))),
    // — streaming KMV distinct, a35's sketch as keyed state: the ORIGIN
    //   of the pinned-hash oracle device st10 now shares — the k-min
    //   sketch over the pinned md5 hash is batching-invariant, so the
    //   stream's final state is the batch a35 answer and st17 shares
    //   a35's oracle SQL verbatim (stream ≡ batch, pinned by the
    //   driver's hash compare, not just a spec). keep-max(rows_seen)
    //   selects each group's FINAL
    //   update-mode emission; the counter is monotone per group, so the
    //   selection is exact under any micro-batch split (see
    //   Streams.kmvDistinct). —
    // st17 IS a35 after the keep-final selection — one oracle, two
    // execution models (the stream ≡ batch contract as a hash equality)
    Query("st17_stream_kmv", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("event_type")
        .orderBy(col("rows_seen").desc)
      Streams.kmvDistinct(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("n_kept"), col("kmv_est"))
        .orderBy("event_type")
    }), Some(a35OracleSql)),
    // — a40's streaming twin (st18): the Benford audit as ≤9-row
    //   streaming aggregation state (see Streams.digitCensus); the
    //   share/expectation/deviation math is the identical a40 device
    //   (×10⁶ DECIMAL(38) floors, pinned BenfordE9 literals) applied
    //   batch-side to the final census. Keep-final = max count per
    //   digit (update-mode counts are monotone). —
    // st18 oracle: a40's census/share/deviation device over events — the
    // stream's final state must equal this batch census exactly
    Query("st18_stream_benford", ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("digit").orderBy(col("n_obs").desc)
      val census = Streams.digitCensus(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("digit"), col("n_obs"))
      val total = census.groupBy().agg(sum("n_obs").as("n_total"))
      val caseE6 = BenfordE9.zipWithIndex.map {
        case (l, i) => s"WHEN ${i + 1} THEN ${l / 1000L}L" }
        .mkString("CASE digit ", " ", " END")
      census.crossJoin(broadcast(total))
        .select(col("digit"), col("n_obs"),
          expr("""(1000000 * cast(n_obs as decimal(38,0))) div
                  cast(n_total as decimal(38,0))""").cast("long")
            .as("share_e6"),
          expr(caseE6).as("benford_e6"))
        .withColumn("dev_e6", abs(col("share_e6") - col("benford_e6")))
        .orderBy("digit")
    }), Some(Oracle.sqlWith(
      s"""dg18 AS (SELECT CAST(substring(CAST(CAST(CAST(value
         |                  AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR),
         |                  1, 1) AS BIGINT) AS digit
         |         FROM events
         |         WHERE CAST(CAST(value AS DECIMAL(12,2)) * 100
         |               AS BIGINT) > 0),
         |ct18 AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
         |         FROM dg18 GROUP BY 1),
         |sh18 AS (SELECT digit, n_obs,
         |                CAST((1000000 * CAST(n_obs AS HUGEINT))
         |                  // (SELECT SUM(n_obs) FROM ct18) AS BIGINT)
         |                  AS share_e6,
         |                CAST(CASE digit ${BenfordE9
                            .zipWithIndex.map { case (l, i) =>
                              s"WHEN ${i + 1} THEN ${l / 1000L}"
                            }.mkString(" ")} END AS BIGINT) AS benford_e6
         |         FROM ct18)""".stripMargin,
      """SELECT digit, n_obs, share_e6, benford_e6,
        |       abs(share_e6 - benford_e6) AS dev_e6
        |FROM sh18 ORDER BY digit""".stripMargin))),
    // x14's streaming twin — per-(type, day) ingest-integrity register
    // maintained incrementally (see Streams.streamChecksum: the
    // sum-mod register is commutative-associative, so streaming
    // partial-agg merges ARE the batch register)
    // st19 oracle: the batch statement of the same day registers — identical
    // serialization/digest/mod as x14, day buckets epoch-aligned on
    // both engines (the st15 note), st2's watermark cut on closed days
    Query("st19_stream_checksum", ((s, dir) =>
      Streams.streamChecksum(s, dir)
        .orderBy("event_type", "day_start")), Some(Oracle.sqlWith(
      """h19 AS (SELECT event_type,
        |               time_bucket(INTERVAL '1 day', ts) AS day_start,
        |               CAST(('0x' || substring(md5(concat_ws('|',
        |                 CAST(event_id AS VARCHAR),
        |                 CAST(user_id AS VARCHAR),
        |                 event_type,
        |                 CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100
        |                   AS BIGINT) AS VARCHAR),
        |                 CAST(epoch_us(ts) AS VARCHAR))), 1, 15))
        |                 AS BIGINT) AS h
        |        FROM events),
        |m19 AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM events)""".stripMargin,
      """SELECT event_type, day_start, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(h AS HUGEINT)) % 1000000000000000000
        |         AS BIGINT) AS checksum
        |FROM h19, m19
        |WHERE epoch_us(day_start + INTERVAL '1 day') <= wm_ms * 1000
        |GROUP BY event_type, day_start
        |ORDER BY event_type, day_start""".stripMargin))))
}
