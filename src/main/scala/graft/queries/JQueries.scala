package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.etl.Pipelines.cleanSales
import graft.queries.Common.scd2History

/** j*: joins — composite-key, fact/dimension, salted, as-of, bloom
  * semi-join, range, overlap, anti, point-in-time SCD2 and fuzzy-name
  * joins.
  */
object JQueries {

  /** j11 core over an arbitrary part frame. See the j11 registry
    * comment.
    */
  private[graft] def fuzzyNameMatchOf(part: DataFrame): DataFrame = {
    val names = part
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_parts"))
    val tok = names.select(col("name"),
      explode(split(col("name"), " ")).as("t"))
    val cand = tok.as("a").join(tok.as("b"),
        col("a.t") === col("b.t") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand
      .filter(levenshtein(col("name_a"), col("name_b")) <= 4)
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .join(broadcast(names.select(col("name").as("name_a"),
        col("n_parts").as("parts_a"))), "name_a")
      .join(broadcast(names.select(col("name").as("name_b"),
        col("n_parts").as("parts_b"))), "name_b")
      .select(col("name_a"), col("name_b"), col("lev"),
        col("parts_a"), col("parts_b"))
      .orderBy("name_a", "name_b")
  }

  /** j4/j13's two as-of sides: the purchase and the signup events, each
    * as (user_id, ts, event_id).
    */
  private def purchasesAndSignups(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    (ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id"),
      ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id")))
  }

  /** j2/j3 oracle: every sales line with its customer's region. */
  private val salesRegionSql =
    """SELECT s.order_id, s.line_id, c.region
      |FROM sales s LEFT JOIN customers c ON s.customer_id = c.customer_id
      |ORDER BY s.order_id, s.line_id""".stripMargin

  val all: Seq[Query] = Seq(
    // — joins (§2d) —
    Query("j1_left_join_composite", ((s, dir) => {
      val cs = cleanSales(s, dir)
      val sums = cs.groupBy("category", "month")
        .agg(sum("total_price").cast("double").as("total_sales"))
      val counts = cs.groupBy("category", "month")
        .agg(countDistinct("order_id").as("order_count"))
      sums.join(counts, Seq("category", "month"), "left")
        .orderBy("category", "month")
    }), Some(Oracle.sql(
      """SELECT a.category, a.month, a.total_sales, b.order_count
        |FROM (SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales
        |      FROM clean_sales GROUP BY category, month) a
        |LEFT JOIN (SELECT category, month, COUNT(DISTINCT order_id) AS order_count
        |           FROM clean_sales GROUP BY category, month) b
        |  ON a.category = b.category AND a.month = b.month
        |ORDER BY a.category, a.month""".stripMargin))),
    Query("j2_fact_dim_join", ((s, dir) =>
      Tables.sales(s, dir)
        .join(broadcast(Tables.customers(s, dir).select("customer_id", "region")),
          Seq("customer_id"), "left")
        .select("order_id", "line_id", "region")
        .orderBy("order_id", "line_id")), Some(Oracle.sql(salesRegionSql))),
    Query("j3_salted_join", ((s, dir) =>
      // row-identical to j2, executed through the skew-salting machinery
      graft.etl.Skew.saltedEquiJoin(
        Tables.sales(s, dir),
        Tables.customers(s, dir).select("customer_id", "region"),
        key = "customer_id",
        saltSource = col("order_id") * 8 + col("line_id"),
        nSalts = 8, joinType = "left")
        .select("order_id", "line_id", "region")
        .orderBy("order_id", "line_id")), Some(Oracle.sql(salesRegionSql))),
    // As-of join: latest signup at-or-before each purchase per user,
    // via the tagged-union + last-non-null window idiom (one shuffle).
    // DuckDB's native ASOF JOIN is the oracle.
    Query("j4_asof_join", ((s, dir) => {
      val (purchases, signups) = purchasesAndSignups(s, dir)
      graft.ext.AsOfJoin.asofJoin(purchases, signups, key = "user_id", ts = "ts")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("right_event_id").as("signup_id"),
          col("right_ts").as("signup_ts"))
        .orderBy("user_id", "purchase_id")
    }), Some(Oracle.sql(
      """SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
        |       s.event_id AS signup_id, s.ts AS signup_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.user_id, purchase_id""".stripMargin))),
    // Bloom-filter semi-join: build a bloom sketch over the dim keys
    // (order-independent bit array → deterministic), pre-filter the fact
    // stream with might_contain BEFORE the join. At 100 TB this is the
    // standard shuffle-volume cut for selective joins: the bloom is a few
    // KB broadcast, drops most non-matching rows at scan speed, and has
    // no false negatives — so the exact semi-join after it returns
    // precisely the true matches (which is what the oracle states).
    Query("j5_bloom_semijoin", ((s, dir) => {
      val custKeys = Pipelines.cleanCustomers(s, dir)
        .filter(col("region") === "EUROPE")
        .select(col("customer_id"))
      // the sketch (a few KB) comes back to the driver — the DATA never
      // does — and folds into the scan filter as a constant, exactly how
      // Spark's own runtime row-group filtering injects blooms. It is the
      // aggregate `stat.bloomFilter` runs, kept serialized: over zero keys
      // it is NULL, so might_contain is NULL and every row drops
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      val bridge = org.apache.spark.sql.graft.ColumnBridge
      val sketch = custKeys.select(bridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          bridge.expression(col("customer_id")), Literal(5000L),
          Literal(org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(5000L, 0.001)))
          .toAggregateExpression())).head().getAs[Array[Byte]](0)
      val mightContain = bridge.column(BloomFilterMightContain(
        Literal(sketch, org.apache.spark.sql.types.BinaryType),
        bridge.expression(col("user_id"))))
      Tables.events(s, dir)
        .filter(mightContain)
        .join(broadcast(custKeys),
          col("user_id") === col("customer_id"), "left_semi")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }), Some(Oracle.sql(
      """SELECT event_id, user_id, event_type
        |FROM events e
        |WHERE EXISTS (SELECT 1 FROM clean_customers c
        |              WHERE c.customer_id = e.user_id AND c.region = 'EUROPE')
        |ORDER BY event_id""".stripMargin))),
    // Range join (point-in-interval) the scale-correct way: Spark plans a
    // bare `point BETWEEN start AND end` predicate as a nested-loop join
    // (quadratic); instead the bounded-width interval is exploded into its
    // day buckets and the point equi-joins its exact day — the standard
    // range-join binning rewrite, equi-joins only (so it passes the
    // repo-wide anti-quadratic invariant mechanically). Cost is
    // rows(intervals)·width replication of SLIM interval keys, linear for
    // bounded widths; the exact-day buckets make the range filter itself
    // redundant. Fixture: every 97th order opens a 7-day promo window for
    // its customer; find that customer's orders inside the window.
    // the oracle states the range join as the plain inequality predicate —
    // verifying the day-bucket rewrite IS the BETWEEN semantics
    Query("j6_range_join", ((s, dir) => {
      val ord = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          // orders carries a TIMESTAMP; promo windows are whole days
          to_date(col("o_orderdate")).as("o_orderdate"))
      val promos = ord.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_id"), col("o_custkey").as("cust"),
          col("o_orderdate").as("promo_start"))
      val buckets = promos.select(col("promo_id"), col("cust"),
        col("promo_start"),
        explode(expr("sequence(promo_start, date_add(promo_start, 6))"))
          .as("day"))
      ord.join(buckets,
          col("o_custkey") === col("cust") && col("o_orderdate") === col("day"))
        .select(col("promo_id"), col("o_orderkey").as("order_id"),
          datediff(col("o_orderdate"), col("promo_start")).cast("long")
            .as("day_offset"))
        .orderBy("promo_id", "order_id")
    }), Some(Oracle.sql(
      """SELECT p.promo_id, o.o_orderkey AS order_id,
        |       CAST(CAST(o.o_orderdate AS DATE) - p.promo_start AS BIGINT) AS day_offset
        |FROM orders o
        |JOIN (SELECT o_orderkey AS promo_id, o_custkey AS cust,
        |             CAST(o_orderdate AS DATE) AS promo_start
        |      FROM orders WHERE o_orderkey % 97 = 0) p
        |  ON o.o_custkey = p.cust
        | AND CAST(o.o_orderdate AS DATE) BETWEEN p.promo_start AND p.promo_start + 6
        |ORDER BY promo_id, order_id""".stripMargin))),
    // Interval-overlap join (both sides intervals — the j6 shape's big
    // sibling): promo windows × restock windows that overlap in time,
    // via exact-day bucketing. Each interval explodes to its days
    // (bounded width ⇒ linear replication), candidates equi-join on the
    // day key, and the `day = greatest(starts)` filter keeps exactly ONE
    // row per overlapping pair — the overlap's first day lies in both
    // intervals by definition, so no distinct/dedup pass is needed. At
    // 100 TB the day key can hot-spot on busy days: salt the day bucket
    // or sub-bucket by hour exactly as j3 does for customer keys.
    // the oracle states the overlap join as the plain inequality pair —
    // verifying the day-bucket + first-overlap-day rewrite IS the
    // interval-overlap semantics
    Query("j7_overlap_join", ((s, dir) => {
      val ord = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
      val promos = ord.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("promo_id"), col("d").as("p_start"),
          date_add(col("d"), 13).as("p_end"))
      val restocks = ord.filter(col("o_orderkey") % 89 === 0)
        .select(col("o_orderkey").as("restock_id"), col("d").as("r_start"),
          date_add(col("d"), 9).as("r_end"))
      val pDays = promos.select(col("promo_id"), col("p_start"), col("p_end"),
        explode(expr("sequence(p_start, p_end)")).as("day"))
      val rDays = restocks.select(col("restock_id"), col("r_start"),
        col("r_end"), explode(expr("sequence(r_start, r_end)")).as("rday"))
      pDays.join(rDays, col("day") === col("rday"))
        .filter(col("day") === greatest(col("p_start"), col("r_start")) &&
          col("promo_id") =!= col("restock_id"))
        .select(col("promo_id"), col("restock_id"),
          col("day").as("overlap_start"),
          (datediff(least(col("p_end"), col("r_end")), col("day")) + 1)
            .cast("long").as("overlap_days"))
        .orderBy("promo_id", "restock_id")
    }), Some(Oracle.sqlWith(
      """promos AS (SELECT o_orderkey AS promo_id,
        |                  CAST(o_orderdate AS DATE) AS p_start,
        |                  CAST(o_orderdate AS DATE) + 13 AS p_end
        |           FROM orders WHERE o_orderkey % 97 = 0),
        |restocks AS (SELECT o_orderkey AS restock_id,
        |                    CAST(o_orderdate AS DATE) AS r_start,
        |                    CAST(o_orderdate AS DATE) + 9 AS r_end
        |             FROM orders WHERE o_orderkey % 89 = 0)""".stripMargin,
      """SELECT promo_id, restock_id,
        |       greatest(p_start, r_start) AS overlap_start,
        |       CAST(least(p_end, r_end) - greatest(p_start, r_start) + 1
        |         AS BIGINT) AS overlap_days
        |FROM promos p JOIN restocks r
        |  ON p.p_start <= r.r_end AND r.r_start <= p.p_end
        | AND p.promo_id <> r.restock_id
        |ORDER BY promo_id, restock_id""".stripMargin))),
    // Anti join — j5's complement (orphan/exclusion detection): events
    // from users NOT in the European customer dim. The dim is broadcast
    // (same as j5); at 100 TB with an un-broadcastable dim this becomes
    // a shuffle anti-join on user_id. NOTE the bloom shortcut j5 uses is
    // NOT sound here: a bloom's false positives would DROP valid
    // non-members from an anti join (j5's semi join keeps exactness
    // because the exact join runs after the pre-filter; an anti join has
    // no second chance) — the exact anti join must see every row.
    Query("j8_anti_join", ((s, dir) => {
      val eu = Pipelines.cleanCustomers(s, dir)
        .filter(col("region") === "EUROPE")
        .select(col("customer_id"))
      Tables.events(s, dir)
        .join(broadcast(eu), col("user_id") === col("customer_id"),
          "left_anti")
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    }), Some(Oracle.sql(
      """SELECT event_id, user_id, event_type
        |FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM clean_customers c
        |                  WHERE c.customer_id = e.user_id
        |                    AND c.region = 'EUROPE')
        |ORDER BY event_id""".stripMargin))),
    // — SCD2 point-in-time feature join (j10): for each order, the
    //   customer's priority AS OF the day BEFORE the order — the
    //   leakage-safe temporal join every ML feature store runs (a
    //   feature computed "as of" event time must exclude the event's
    //   own contribution, or training sees the label; hence the d−1
    //   probe date, strictly before the order). Consumes x8's history:
    //   LEFT equi-join on custkey with the half-open interval
    //   [valid_from, valid_to) as join FILTERS — per-order matches are
    //   ≤ 1 by interval disjointness, per-key multiplicity is the
    //   customer's version count (bounded by attribute churn, not
    //   order volume), so the plan is one custkey exchange each side,
    //   never a range-join device (j6's day-bucket trick is for
    //   intervals over ARBITRARY keys; here the equi key already
    //   confines candidates). Orders before their customer's first
    //   change see NULL priority — the honest cold-start answer. —
    // j10 oracle: x8's history CTE verbatim, then the point-in-time
    // probe at d−1 as the plain interval predicate — one version per
    // order by interval disjointness, NULL before the first change
    Query("j10_scd2_pit_join", ((s, dir) => {
      val hist = scd2History(s, dir)
      val orders = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d"))
      val probe = date_sub(col("d"), 1)
      orders.join(hist,
          col("o_custkey") === hist("custkey") &&
            hist("valid_from") <= probe &&
            (hist("valid_to").isNull || hist("valid_to") > probe),
          "left")
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          col("priority").as("prior_priority"), col("version"))
        .orderBy("o_orderkey")
    }), Some(Oracle.sqlWith(
      """scd10 AS (SELECT o_custkey, o_orderkey,
        |                 CAST(o_orderdate AS DATE) AS d,
        |                 o_orderpriority AS priority,
        |                 LAG(o_orderpriority) OVER
        |                   (PARTITION BY o_custkey
        |                    ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |                   AS prev
        |          FROM orders),
        |hist10 AS (SELECT o_custkey AS custkey,
        |                  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |                  priority, d AS valid_from, LEAD(d) OVER w AS valid_to
        |           FROM (SELECT * FROM scd10
        |                 WHERE prev IS NULL OR prev <> priority)
        |           WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey))""".stripMargin,
      """SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS d,
        |       h.priority AS prior_priority, h.version
        |FROM orders o
        |LEFT JOIN hist10 h
        |  ON h.custkey = o.o_custkey
        | AND h.valid_from <= CAST(o.o_orderdate AS DATE) - 1
        | AND (h.valid_to IS NULL OR h.valid_to > CAST(o.o_orderdate AS DATE) - 1)
        |ORDER BY o.o_orderkey""".stripMargin))),
    // — fuzzy entity-resolution join over product names (j11): the
    //   record-linkage shape (catalog matching, vendor reconciliation)
    //   — which DISTINCT names refer to the same thing? The naive
    //   statement is an all-pairs edit-distance scan; the shipped plan
    //   is blocking-then-verify (d11's discipline on a JOIN): collapse
    //   to the DISTINCT-name table first (the t21 device — the name
    //   domain is vocabulary-bounded, so everything downstream is
    //   corpus-size-independent), block on a shared whitespace token
    //   (one token-index self equi-join, candidates linear in the name
    //   domain), then verify candidates with levenshtein ≤ 4 — a
    //   predicate the injected BandedLevenshteinRule (d12) rewrites to
    //   Spark's O(k·n) banded kernel in-plan. Per-name part counts ride
    //   back on two broadcast joins of the bounded name table. ASCII
    //   names make Spark's byte order ≡ DuckDB's collation for the
    //   a < b pair canonicalization (the BPE code-point caveat does not
    //   bite). MEASURED recall gap (the d13 honesty discipline): shared-
    //   token blocking is full-recall at lev ≤ 3 on these two-word
    //   names — a miss needs edits in BOTH words — and drops exactly
    //   the lev-4 pairs with no common word ("cold ring"/"old rod");
    //   the spec pins that contract against all-pairs brute force. —
    // j11 oracle: same block-then-verify statement; DuckDB's levenshtein is the
    // un-banded semantics proof for the rule-rewritten Spark predicate
    Query("j11_fuzzy_name_match", ((s, dir) =>
      fuzzyNameMatchOf(Tables.table(s, dir, "part"))), Some(Oracle.sqlWith(
      """n11 AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
        |        FROM part GROUP BY p_name),
        |tok11 AS (SELECT name, unnest(string_split(name, ' ')) AS t FROM n11),
        |cand11 AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |           FROM tok11 a JOIN tok11 b
        |             ON a.t = b.t AND a.name < b.name)""".stripMargin,
      """SELECT name_a, name_b,
        |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev,
        |       na.n_parts AS parts_a, nb.n_parts AS parts_b
        |FROM cand11
        |JOIN n11 na ON name_a = na.name
        |JOIN n11 nb ON name_b = nb.name
        |WHERE levenshtein(name_a, name_b) <= 4
        |ORDER BY name_a, name_b""".stripMargin))),
    // — nearest as-of join with tolerance (j13): pandas
    //   merge_asof(direction='nearest', tolerance=2d) — j4 only looks
    //   BACKWARD, but attribution questions ("which signup does this
    //   purchase belong to") often want the nearest event either way
    //   within a window. Same ONE-shuffle tagged-union device, both
    //   directions carried over the SAME exchange (a preceding-frame
    //   last + a following-frame first — no second shuffle, no range
    //   join); winner = smaller delta, ties prefer the prior side
    //   (pinned — equal-timestamp signups sort as prior). Unmatched
    //   purchases drop (inner, pinned both sides). —
    // j13 oracle: candidates within ±tol ranked by (delta, prior-first,
    // direction-specific id tiebreak) — the statement of the window
    // device's pick order: prior = latest prior (max id on equal ts),
    // next = earliest next (min id on equal ts), prior wins delta ties.
    Query("j13_asof_nearest", ((s, dir) => {
      val (purchases, signups) = purchasesAndSignups(s, dir)
      graft.ext.AsOfJoin.asofNearest(purchases, signups, key = "user_id",
          ts = "ts", tolUs = 172800000000L)
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("right_event_id").as("signup_id"),
          col("right_ts").as("signup_ts"), col("matched_dir"),
          col("delta_us"))
        .orderBy("user_id", "purchase_id")
    }), Some(Oracle.sqlWith(
      """pj13 AS (SELECT user_id, ts, event_id FROM events
        |         WHERE event_type = 'purchase'),
        |sj13 AS (SELECT user_id, ts, event_id FROM events
        |         WHERE event_type = 'signup'),
        |cn13 AS (SELECT p.user_id, p.event_id AS purchase_id,
        |                p.ts AS purchase_ts, s.event_id AS signup_id,
        |                s.ts AS signup_ts,
        |                abs(epoch_us(p.ts) - epoch_us(s.ts)) AS delta_us,
        |                CASE WHEN s.ts <= p.ts THEN 0 ELSE 1 END AS dir
        |         FROM pj13 p JOIN sj13 s ON p.user_id = s.user_id
        |          AND abs(epoch_us(p.ts) - epoch_us(s.ts)) <= 172800000000),
        |rk13 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
        |           ORDER BY delta_us, dir,
        |             CASE WHEN dir = 0 THEN -signup_id ELSE signup_id END)
        |           AS rn
        |         FROM cn13)""".stripMargin,
      """SELECT user_id, purchase_id, purchase_ts, signup_id, signup_ts,
        |       CASE WHEN dir = 0 THEN 'prior' ELSE 'next' END
        |         AS matched_dir,
        |       CAST(delta_us AS BIGINT) AS delta_us
        |FROM rk13 WHERE rn = 1
        |ORDER BY user_id, purchase_id""".stripMargin))))
}
