package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.etl.Pipelines.cleanSales
import graft.ext.Stats.{decimalMoments, longMoments}

/** a*: aggregates — group sums, rollups, cubes, percentiles, sketches and
  * robust outlier rules. Each query's body and its DuckDB oracle sit
  * side by side; ids a1–a24 live here, the rest of the family in the
  * other `A…Queries` files.
  */
object A1to24Queries {

  /** Deterministic hot-key injection for the sketch heavy-hitter demo
    * (a14) and its exactness test: 1/13 of lineitem rows collapse onto 7
    * hot keys (~6.6 k rows each at sf0.1 vs ~30 for the uniform tail) —
    * the j3 hot-key scenario, derived from data so layout never matters.
    * The testdata's own partkey distribution is near-uniform (top count
    * ~50 of 600 k), which no sub-linear sketch can meaningfully rank.
    */
  def skewedKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(pmod(c, lit(13L)) === 0L, pmod(c, lit(7L))).otherwise(c)

  /** a14's full pipeline over a prepared single-column (key: long) frame.
    * Build the pinned-hash CMS counter table with one exploded
    * partial-agg pass (bounded ≤ depth·width cells — collected like the
    * sketch object it replaced), then generate candidates per
    * partition: an m-bounded heap of local keys ranked by (estimate
    * desc, key asc) against the SAME counter array the final probe
    * uses. The ranking is a pure function of the key, so the union of
    * local top-m sets is a deterministic, layout-independent superset
    * of the global top-m (a key with rank ≤ m has < m keys above it in
    * ANY partition containing it) — no global key distinct remains; the
    * only shuffle moves ≤ partitions·m candidate rows. The final probe
    * is IN-PLAN over the broadcast counter table (PinnedCms
    * .estimateAll), which is what makes a14 oracle-replayable: DuckDB
    * recomputes the identical cells, estimates, and top-k.
    */
  def heavyHitters(keys: DataFrame, topK: Int = 20): DataFrame = {
    import graft.ext.PinnedCms
    val sess = keys.sparkSession
    import sess.implicits._
    // the a48 pre-fan-out sizing lesson, measured here too: the keys
    // arrive as ONE input partition (a single parquet file at the gate
    // scales), so the ×depth md5 counter build AND the candidate heap
    // pass both ran single-threaded (counters alone 4.6 s at sf0.1).
    // Repartition ONCE to the session's shuffle parallelism and pin
    // (two consumers read it); 5 MB of longs through one exchange buys
    // 32-way md5 parallelism: counters 4.6 → ~0.4 s.
    // Cache lifecycle: the checkpointed blocks stay until the CALLER
    // clears them — the library-wide contract (see Bench's
    // dropPersistedState comment). Bench and the dev timing mains clear
    // between queries; a bespoke driver looping this
    // call must do the same or the pinned partitions accumulate.
    val keysPar = PartitionOps.repartitionBeforeFanout(keys)
      .localCheckpoint()
    val ctr = PinnedCms.counters(keysPar)
    // bounded collect: ≤ Depth·Width = 14 k cell rows (the geometry, not
    // the data, sizes this — the same driver state the serialized Spark
    // sketch object used to hold), rebuilt as a local relation so the
    // heap pass and the in-plan probe read ONE set of counters
    val ctrRows = ctr.collect()
    val flat = PinnedCms.flatten(ctrRows)
    val bFlat = sess.sparkContext.broadcast(flat)
    val ctrLocal = sess.createDataFrame(
      sess.sparkContext.parallelize(ctrRows.toIndexedSeq, 1), ctr.schema)
    val m = topK // superset bound needs m ≥ the emitted top-k
    val cand = keysPar.as[Long].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val arr = bFlat.value
      val ord = Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)
      val best = scala.collection.mutable.TreeSet.empty[(Long, Long)](ord)
      it.foreach { k =>
        val t = (PinnedCms.estJvm(md, arr, k), k)
        if (best.size < m || ord.lt(t, best.last)) {
          best += t
          if (best.size > m) best -= best.last
        }
      }
      best.iterator.map(_._2).toSeq.iterator
    }.toDF("key").distinct()
    PinnedCms.estimateAll(cand, ctrLocal)
      .orderBy(col("est_n").desc, col("key"))
      .limit(topK)
  }

  /** a8b's Greenwald-Khanna accuracy (1/ε): rank error ≤ n/PctAccuracy,
    * shared with the AnalyticsSpec bound test. 10 000 → ≤ 2 ranks at the
    * sf0.1 group sizes (~20 k), and the sketch is exact below 10 k rows.
    */
  val PctAccuracy = 10000

  val all: Seq[Query] = Seq(
    // — aggregations (§2e) —
    Query("a1_group_sums", ((s, dir) =>
      cleanSales(s, dir).groupBy("category", "month")
        .agg(sum("total_price").cast("double").as("total_sales"),
          sum("quantity").cast("long").as("total_quantity"))
        .orderBy("category", "month")), Some(Oracle.sql(
      """SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales,
        |       CAST(SUM(quantity) AS BIGINT) AS total_quantity
        |FROM clean_sales GROUP BY category, month ORDER BY category, month""".stripMargin))),
    Query("a2_distinct_count", ((s, dir) =>
      cleanSales(s, dir).groupBy("category", "month")
        .agg(countDistinct("order_id").as("order_count"))
        .orderBy("category", "month")), Some(Oracle.sql(
      """SELECT category, month, COUNT(DISTINCT order_id) AS order_count
        |FROM clean_sales GROUP BY category, month ORDER BY category, month""".stripMargin))),
    Query("a3_order_rollup", ((s, dir) =>
      cleanSales(s, dir).groupBy("order_id", "customer_id")
        .agg(sum("total_price").cast("double").as("order_total"))
        .orderBy("order_id", "customer_id")), Some(Oracle.sql(
      """SELECT order_id, customer_id, CAST(SUM(total_price) AS DOUBLE) AS order_total
        |FROM clean_sales GROUP BY order_id, customer_id
        |ORDER BY order_id, customer_id""".stripMargin))),
    Query("a4_group_mean", ((s, dir) =>
      Tables.customers(s, dir)
        .join(Tables.table(s, dir, "customer")
          .select(col("c_custkey").as("customer_id"), col("c_acctbal")), Seq("customer_id"))
        .groupBy("region")
        .agg((sum(col("c_acctbal").cast(Tables.Money)).cast("double") / count(lit(1)))
          .as("avg_acctbal"))
        .orderBy("region")), Some(Oracle.sql(
      """SELECT cu.region,
        |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_acctbal
        |FROM customers cu JOIN customer c ON cu.customer_id = c.c_custkey
        |GROUP BY cu.region ORDER BY cu.region""".stripMargin))),
    Query("a6_safe_ratio", ((s, dir) =>
      Tables.salesBase(s, dir)
        .select(col("order_id"), col("line_id"),
          coalesce(
            try_divide((col("quantity") * col("unit_price")).cast("double"),
              (col("order_id") % 5).cast("int")),
            lit(0.0)).as("safe_ratio"))
        .orderBy("order_id", "line_id")), Some(Oracle.sql(
      """SELECT order_id, line_id,
        |       COALESCE(CAST(quantity * unit_price AS DOUBLE) / NULLIF(CAST(order_id % 5 AS INTEGER), 0), 0.0) AS safe_ratio
        |FROM sales_base ORDER BY order_id, line_id""".stripMargin))),
    // approx_count_distinct: the A2 swap-in at 100 TB (±~1% HLL). No
    // oracle — estimator internals are engine-specific; tolerance vs the
    // exact count is asserted in AnalyticsSpec.
    Query("a7_approx_distinct", ((s, dir) =>
      Pipelines.cleanSales(s, dir)
        .groupBy("category")
        .agg(approx_count_distinct("order_id", 0.01).as("approx_orders"))
        .orderBy("category")), None),
    // Exact discrete percentiles (no interpolation arithmetic → engine-
    // agnostic: the result is an actual data value).
    Query("a8_percentiles", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"))
        .orderBy("event_type")), Some(Oracle.sql(
      """SELECT event_type, quantile_disc(value, 0.5) AS p50,
        |       quantile_disc(value, 0.9) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))),
    // The a8 swap-in at 100 TB: exact percentile_disc buffers every group
    // value; percentile_approx keeps a fixed-size Greenwald-Khanna sketch
    // per group (mergeable partials, bounded memory at ANY group size)
    // with rank error ≤ n/accuracy. No oracle (GK compaction is engine
    // state, like a7's HLL); AnalyticsSpec pins the rank-error bound
    // against exact order statistics at sf0.01 AND sf0.1 — the a7/a14
    // exact↔approx pair discipline.
    Query("a8b_approx_percentiles", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
          lit(PctAccuracy)).as("ps"))
        .select(col("event_type"),
          col("ps").getItem(0).as("p50"), col("ps").getItem(1).as("p90"))
        .orderBy("event_type")), None),
    // ROLLUP with subtotal rows (category/month never null post-clean, so
    // the NULL markers are unambiguous).
    Query("a9_rollup", ((s, dir) => {
      // rollup/cube take free-standing col() expressions, not Dataset-
      // resolved strings: string resolution tags columns with the Dataset
      // id, and on the long-lived SHARED cleanSales plan (cached, reused by
      // a dozen queries) that trips Spark's ambiguous-self-join detection
      // as a false positive. Plain col() carries no dataset metadata.
      Pipelines.cleanSales(s, dir)
        .rollup(col("category"), col("month"))
        .agg(sum("total_price").cast("double").as("total_sales"),
          sum("quantity").cast("long").as("total_quantity"))
        .orderBy(asc_nulls_first("category"), asc_nulls_first("month"))
    }), Some(Oracle.sql(
      """SELECT category, month,
        |       CAST(SUM(total_price) AS DOUBLE) AS total_sales,
        |       CAST(SUM(quantity) AS BIGINT) AS total_quantity
        |FROM clean_sales GROUP BY ROLLUP(category, month)
        |ORDER BY category NULLS FIRST, month NULLS FIRST""".stripMargin))),
    // Custom typed Aggregator: per-category top-3 products by revenue with
    // k-bounded partial buffers (shuffle k rows per group, no full sort).
    Query("a10_topk_per_group", ((s, dir) => {
      val sess = s
      import sess.implicits._
      val revenue = Pipelines.cleanSales(s, dir)
        .groupBy("category", "product_id")
        .agg(sum("total_price").cast("double").as("revenue"))
        .as[(String, Long, Double)]
      revenue.groupByKey(_._1)
        .agg(new graft.functions.TopKAggregator(3).toColumn.name("top"))
        .flatMap { case (cat, items) =>
          items.zipWithIndex.map { case ((id, v), i) => (cat, id, v, (i + 1).toLong) }
        }
        .toDF("category", "product_id", "revenue", "rank")
        .orderBy("category", "rank")
    }), Some(Oracle.sql(
      """SELECT category, product_id, revenue, rank
        |FROM (SELECT category, product_id, revenue,
        |             ROW_NUMBER() OVER (PARTITION BY category
        |               ORDER BY revenue DESC, product_id) AS rank
        |      FROM (SELECT category, product_id,
        |                   CAST(SUM(total_price) AS DOUBLE) AS revenue
        |            FROM clean_sales GROUP BY category, product_id))
        |WHERE rank <= 3 ORDER BY category, rank""".stripMargin))),
    // CUBE: all grouping-set combinations (subtotals per category, per
    // month, and the grand total).
    Query("a11_cube", ((s, dir) => {
      Pipelines.cleanSales(s, dir)
        .cube(col("category"), col("month"))
        .agg(sum("total_price").cast("double").as("total_sales"))
        .orderBy(asc_nulls_first("category"), asc_nulls_first("month"))
    }), Some(Oracle.sql(
      """SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales
        |FROM clean_sales GROUP BY CUBE(category, month)
        |ORDER BY category NULLS FIRST, month NULLS FIRST""".stripMargin))),
    // Explicit GROUPING SETS (beyond rollup/cube): per-category and
    // per-month marginals plus the grand total in one pass, with
    // grouping_id disambiguating the subtotal rows.
    Query("a12_grouping_sets", ((s, dir) =>
      Pipelines.cleanSales(s, dir)
        .groupingSets(Seq(Seq(col("category")), Seq(col("month")), Seq()),
          col("category"), col("month"))
        .agg(sum("total_price").cast("double").as("total_sales"),
          grouping_id().cast("long").as("gid"))
        .orderBy(asc_nulls_first("category"), asc_nulls_first("month"))), Some(Oracle.sql(
      """SELECT category, month, CAST(SUM(total_price) AS DOUBLE) AS total_sales,
        |       CAST(GROUPING(category, month) AS BIGINT) AS gid
        |FROM clean_sales GROUP BY GROUPING SETS ((category), (month), ())
        |ORDER BY category NULLS FIRST, month NULLS FIRST""".stripMargin))),
    // Fixed-bin value histogram (20 × width-25 bins, top bin clamps the
    // tail) — the data-profiling shape: one partial-aggregated shuffle on
    // (type, bin), bin bounds are LITERALS so the binning is
    // engine-independent scan-speed arithmetic, never a per-run quantile.
    Query("a13_histogram", ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          least(floor(col("value") / lit(25.0)), lit(19L)).cast("long")
            .as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")), Some(Oracle.sql(
      """SELECT event_type,
        |       CAST(LEAST(FLOOR(value / 25.0), 19) AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin))),
    // Approximate heavy hitters — c12's exact skew profile costs a
    // count-per-key shuffle over EVERY distinct key; when key cardinality
    // itself explodes (URLs, ngrams at 100 TB) the sketch path replaces
    // it with (a) one Count-Min counter table over the PINNED md5 cell
    // hash (graft.ext.PinnedCms — the a35 KMV device applied to CMS)
    // built by one exploded partial-agg pass (≤ depth·width = 14 k cells
    // regardless of data volume, mergeable — the same artifact st10
    // keeps as streaming state), and (b) estimates probed in-plan over
    // the broadcast counter table. Candidate generation is per-partition
    // local top-m (NOT a global distinct — at billions of distinct keys
    // the distinct shuffle IS the cost): each partition keeps an
    // m-bounded heap of its keys ranked by (estimate desc, key asc)
    // against the SAME counter array the final probe reads. Because the
    // ranking is a pure function of the key (the broadcast counters are
    // constant), a key in the global top-m has at most m−1 keys above it
    // in ANY partition that contains it — so the union of local top-m
    // sets is a deterministic, layout-independent superset of the global
    // top-m, and the only shuffle left moves ≤ partitions·m candidate
    // rows. The m-bounded heap is genuine per-partition imperative logic
    // (the RDD.top shape) — the sanctioned mapPartitions carve-out.
    // Output equivalence with the distinct-based form and the no-global-
    // distinct plan shape are pinned in AnalyticsSpec, the CMS bound
    // est ∈ [exact, exact + ε·N] at sf0.01 AND sf0.1 with the 7 injected
    // hot keys ranked top-7. ORACLED since the pinned-hash swap (closing
    // the r15 task): DuckDB recomputes the identical width×depth integer
    // counters, min-estimates, and (est desc, key) top-20 — the sketch
    // is portable arithmetic now, not engine state.
    // a14 oracle: the exact pinned-hash CMS replay (PinnedCms scaladoc) —
    // the same md5 cell hash, the same width×depth integer counters, the
    // min-estimate per distinct key, the same (est desc, key) top-20.
    // The oracle states the distinct-based form; the engine's local-top-m
    // candidate pruning is output-equivalent (superset argument pinned in
    // AnalyticsSpec), so the rows match exactly.
    Query("a14_heavy_hitters_sketch", ((s, dir) =>
      heavyHitters(Tables.table(s, dir, "lineitem")
        .select(skewedKey(col("l_partkey")).as("key")))), Some(Oracle.sqlWith(
      s"""k14 AS (SELECT CASE WHEN l_partkey % 13 = 0 THEN l_partkey % 7
         |               ELSE l_partkey END AS key
         |        FROM lineitem),
         |${graft.ext.PinnedCms.oracleCells("c14", "k14")},
         |dk14 AS (SELECT DISTINCT key FROM k14),
         |kc14 AS (SELECT key, CAST(dd.d AS INT) AS d,
         |                CAST(('0x' || substring(md5(CAST(dd.d AS VARCHAR)
         |                        || ':' || CAST(key AS VARCHAR)), 1, 15))
         |                     AS BIGINT) % ${graft.ext.PinnedCms.Width} AS cell
         |         FROM dk14, range(${graft.ext.PinnedCms.Depth}) dd(d))""".stripMargin,
      """SELECT kc14.key, CAST(MIN(COALESCE(c14.cnt, 0)) AS BIGINT) AS est_n
        |FROM kc14 LEFT JOIN c14
        |  ON kc14.d = c14.d AND kc14.cell = c14.cell
        |GROUP BY kc14.key
        |ORDER BY est_n DESC, key
        |LIMIT 20""".stripMargin))),
    // — per-group dispersion (mean / sample variance / stddev) with the
    //   repo's exact-arithmetic discipline: float var_samp is summation-
    //   order-dependent across engines, so the moments are integer CENTS
    //   sums (the st5 oracle device) and the textbook identity
    //   var = (n·Σx² − (Σx)²) / (n(n−1)) is evaluated on exact longs,
    //   then divided as doubles in a pinned order. Headroom at the gate
    //   scales: Σx² ≤ 2e4 rows × 1e10 cents² ≈ 2e14, n·Σx² ≈ 4e18 < 2^63.
    //   At 100 TB the longs overflow — a15b below is the shipped
    //   DECIMAL(38) flip (same partial-agg shape).
    //   One partial-agg shuffle; sqrt (correctly-rounded) not log. —
    Query("a15_group_stats", ((s, dir) => {
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      longMoments(Tables.events(s, dir)
        .select(col("event_type"), cents.as("x")))
    }), Some(Oracle.sql(
      """SELECT event_type, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        |       CAST(n * sxx - sx * sx AS DOUBLE)
        |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0 AS var_samp,
        |       sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0) AS stddev
        |FROM (SELECT event_type, COUNT(*) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx,
        |             CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM (SELECT event_type,
        |                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |            FROM events)
        |      GROUP BY event_type)
        |ORDER BY event_type""".stripMargin))),
    // a15's 100 TB twin: identical semantics, sums in DECIMAL(38,0) so
    // the exact identity survives the scales where n·Σx² overflows 2^63
    // — see [[decimalMoments]]; the overflow is proven by a synthetic
    // test in AnalyticsSpec (large cents where the long path throws
    // under ANSI and this path matches BigInt arithmetic).
    // a15b oracle: the same identity with HUGEINT (128-bit, exact like
    // DECIMAL(38)) sums — values coincide with a15 wherever both are
    // exact, which is the point
    Query("a15b_group_stats_decimal", ((s, dir) => {
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      decimalMoments(Tables.events(s, dir)
        .select(col("event_type"), cents.as("x")))
    }), Some(Oracle.sql(
      """SELECT event_type, n,
        |       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        |       CAST(n * sxx - sx * sx AS DOUBLE)
        |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0 AS var_samp,
        |       sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0) AS stddev
        |FROM (SELECT event_type, COUNT(*) AS n,
        |             SUM(CAST(x AS HUGEINT)) AS sx,
        |             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |      FROM (SELECT event_type,
        |                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |            FROM events)
        |      GROUP BY event_type)
        |ORDER BY event_type""".stripMargin))),
    // Per-group 3-sigma outliers with the a15 exact-arithmetic
    // discipline taken one step further: the flag |x−μ| > 3σ is
    // evaluated as (n·x−Σx)²·(n−1) > 9·n·(n·Σx²−(Σx)²) on exact integer
    // CENTS — no division, no sqrt, no float compare that a boundary row
    // could flip across engines (the oracle states the same inequality
    // on HUGEINTs). Products are DECIMAL(38,0): at sf0.1 the largest
    // term is ~1e23; headroom to ~sf10, beyond which the documented flip
    // is accepting float-z tolerance. Two passes over events (stats agg
    // + broadcast-join filter) — both linear, the stats row set is tiny.
    Query("a16_zscore_outliers", ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          cents.as("x"))
      val stats = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      val dev = (col("n").cast(d38) * col("x").cast(d38)
        - col("sx").cast(d38))
      val lhs = dev * dev * (col("n") - 1).cast(d38)
      val rhs = lit(9).cast(d38) * col("n").cast(d38) *
        (col("n").cast(d38) * col("sxx").cast(d38)
          - col("sx").cast(d38) * col("sx").cast(d38))
      ev.join(broadcast(stats), "event_type")
        .filter(lhs > rhs)
        .select(col("event_id"), col("event_type"), col("value"),
          when(dev > 0, "high").otherwise("low").as("side"))
        .orderBy("event_id")
    }), Some(Oracle.sql(
      """SELECT event_id, event_type, value,
        |       CASE WHEN s.n * x.v - s.sx > 0 THEN 'high' ELSE 'low' END
        |         AS side
        |FROM (SELECT event_id, event_type, value,
        |             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |      FROM events) x
        |JOIN (SELECT event_type, COUNT(*) AS n,
        |             CAST(SUM(v) AS BIGINT) AS sx,
        |             CAST(SUM(v * v) AS BIGINT) AS sxx
        |      FROM (SELECT event_type,
        |                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |            FROM events)
        |      GROUP BY event_type) s USING (event_type)
        |WHERE CAST(s.n * x.v - s.sx AS HUGEINT)
        |        * CAST(s.n * x.v - s.sx AS HUGEINT)
        |        * CAST(s.n - 1 AS HUGEINT)
        |      > 9 * CAST(s.n AS HUGEINT)
        |          * (CAST(s.n AS HUGEINT) * CAST(s.sxx AS HUGEINT)
        |             - CAST(s.sx AS HUGEINT) * CAST(s.sx AS HUGEINT))
        |ORDER BY event_id""".stripMargin))),
    // Exact per-group mode (most frequent event_type per user) with a
    // pinned tiebreak (max count, then min type) — arg-max-by-count, the
    // categorical sibling of a8's percentiles. Two-level partial-agg
    // shuffle builds the (user, type) counts; the row_number window then
    // runs over ≤|event types| rows per user — negligible at any scale.
    // (A single-agg max_by(type, n) would save the window but Spark's
    // max_by breaks count ties arbitrarily — non-deterministic across
    // partitionings, the exact bug class SortKeySpec exists to catch.)
    Query("a17_group_mode", ((s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_event"),
          col("n").cast("long").as("n"))
        .orderBy("user_id")
    }), Some(Oracle.sql(
      """SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n
        |FROM (SELECT user_id, event_type, COUNT(*) AS n,
        |             ROW_NUMBER() OVER (PARTITION BY user_id
        |               ORDER BY COUNT(*) DESC, event_type) AS rn
        |      FROM events GROUP BY user_id, event_type)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin))),
    // Incremental rollup maintenance — the warehouse pattern that makes
    // periodic aggregates affordable at 100 TB: keep the standing monthly
    // aggregate as a (tiny) table of MERGEABLE partials (count + exact
    // cent sum — both reassociate under any merge order, unlike avg or a
    // float sum), and on each ingest aggregate ONLY the new slice and
    // fold it in. History is never rescanned: the merge input is
    // |months| + |delta partials| rows, independent of total fact volume.
    // Here both sides derive from the same scan (no second table in the
    // fixture) split at a MID-month cutoff, so the boundary month lands
    // in BOTH partials and the merge's key collision path is genuinely
    // exercised — the oracle is the full recompute the merge must equal.
    // Money stays exact integer cents until the single final division
    // (the a15 determinism device).
    // a18 oracle: the full recompute the incremental merge must equal —
    // stating the semantics, not the maintenance strategy.
    Query("a18_incremental_rollup", ((s, dir) => {
      val cutoff = lit("1997-06-15").cast("timestamp")
      val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
      def partials(orders: DataFrame): DataFrame = orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          cents.as("x"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_orders"), sum("x").as("sum_cents"))
      val orders = Tables.table(s, dir, "orders")
      val standing = partials(orders.filter(col("o_orderdate") < cutoff))
      val delta = partials(orders.filter(col("o_orderdate") >= cutoff))
      standing.unionAll(delta)
        .groupBy("month")
        .agg(sum("n_orders").cast("long").as("n_orders"),
          sum("sum_cents").cast("long").as("sum_cents"))
        .select(col("month"), col("n_orders"),
          (col("sum_cents").cast("double") / lit(100.0)).as("total_sales"))
        .orderBy("month")
    }), Some(Oracle.sql(
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |            AS DOUBLE) / 100.0 AS total_sales
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin))),
    // a18's sibling for the statistic count partials CANNOT maintain:
    // DISTINCT doesn't reassociate (per-month distinct customers don't
    // sum to total distinct), so the incremental warehouse answer is a
    // persisted MERGEABLE sketch per ingest. Registry form = the PINNED
    // KMV device (r16 verdict task 3 — the a14/CMS lesson applied to
    // HLL's job): a standing pre-cutoff sketch table and a delta sketch
    // table are built independently (the a18 split), then merged by
    // set-union + re-truncate — and because the k smallest distinct
    // hashes of A∪B all live in (top-k of A) ∪ (top-k of B), the merged
    // sketch is EXACTLY the whole-month sketch, so DuckDB replays the
    // estimate hash-for-hash (the a35 recipe, per month). The merge
    // re-agg runs over the exploded k-min members — ≤ 2k longs per
    // month, spine-sized. [[incrementalDistinctHll]] keeps the HLL
    // register path as the library alternative (2 KB fixed state vs
    // KMV's 512 B exact-replayable array), bounds-tested at two scales.
    // a19 oracle (hash-green since r17): the merged standing+delta KMV
    // sketch is exactly the whole-month sketch (top-k of A∪B ⊆ top-k(A)
    // ∪ top-k(B)), so the replay is the a35 recipe per month — k
    // smallest distinct pinned hashes, the same shared-literal estimate.
    Query("a19_incremental_distinct", ((s, dir) => {
      val sess = s
      import sess.implicits._
      val k = 64
      val cutoff = lit("1997-06-15").cast("timestamp")
      def sketch(rows: DataFrame): DataFrame = rows
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          graft.functions.KmvSketch.hash60(col("o_custkey")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KmvAggregator(k).toColumn.name("kmin"))
        .toDF("month", "kmin")
      val orders = Tables.table(s, dir, "orders")
      val standing = sketch(orders.filter(col("o_orderdate") < cutoff))
      val delta = sketch(orders.filter(col("o_orderdate") >= cutoff))
      standing.unionAll(delta)
        .select(col("month"), explode(col("kmin")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KmvAggregator(k).toColumn.name("kmin"))
        .toDF("month", "kmin")
        .select(col("month"),
          size(col("kmin")).cast("long").as("n_kept"),
          graft.functions.KmvSketch.estimate(col("kmin"), k)
            .as("n_customers_est"))
        .orderBy("month")
    }), Some(Oracle.sqlWith(
      """oh19 AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
        |                CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
        |                                        1, 15)) AS BIGINT) AS h
        |         FROM orders),
        |rk19 AS (SELECT month, h,
        |                row_number() OVER (PARTITION BY month
        |                                   ORDER BY h) AS rn,
        |                count(*) OVER (PARTITION BY month) AS cnt
        |         FROM oh19)""".stripMargin,
      """SELECT month, CAST(LEAST(cnt, 64) AS BIGINT) AS n_kept,
        |       CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |            ELSE (63.0 * 1152921504606846976.0)
        |                 / CAST(MAX(h) AS DOUBLE) END AS n_customers_est
        |FROM rk19 WHERE rn <= 64
        |GROUP BY month, cnt
        |ORDER BY month""".stripMargin))),
    // — exact median at 100 TB with BOUNDED state (completing the
    //   percentile family: a8's exact percentile_disc buffers every
    //   group value; a8b's GK sketch trades exactness for bounded
    //   memory; this two-pass form is exact AND bounded): pass 1
    //   partial-aggregates a fixed-width value histogram per group
    //   (a13's literal bins — engine-independent arithmetic) and
    //   locates each group's MEDIAN BIN plus the row count below it;
    //   pass 2 re-scans only rows in that bin (at 100 TB the bin
    //   predicate pushes into the scan), aggregates per exact value —
    //   at most bin-width·100 distinct 2-decimal values per group by
    //   construction — and takes the smallest value whose running
    //   count reaches the target rank ceil(n/2) (percentile_disc
    //   semantics; row-equivalence with a8's p50 is test-pinned).
    //   Every intermediate is bounded by |groups|·|bins| or
    //   |groups|·bin-width — never by n. —
    // a20 oracle states the SEMANTICS (the discrete median), not the
    // two-pass strategy — the histogram refinement must reproduce
    // quantile_disc exactly
    Query("a20_exact_median", ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val bin = floor(col("value") / lit(25.0)).cast("long")
      val hist = ev.groupBy(col("event_type"), bin.as("bin"))
        .agg(count(lit(1)).as("n_bin"))
      val hw = Window.partitionBy("event_type").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val mb = hist
        .withColumn("cum_before", coalesce(sum("n_bin").over(hw), lit(0L)))
        .withColumn("n", sum("n_bin").over(Window.partitionBy("event_type")))
        .withColumn("target", expr("(n + 1) div 2"))
        .filter(col("cum_before") < col("target") &&
          col("cum_before") + col("n_bin") >= col("target"))
        .select(col("event_type"), col("bin").as("mbin"),
          col("cum_before"), col("target"))
      val vw = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.withColumn("vbin", bin)
        .join(broadcast(mb), Seq("event_type"))
        .filter(col("vbin") === col("mbin"))
        .groupBy(col("event_type"), col("value"), col("cum_before"),
          col("target"))
        .agg(count(lit(1)).as("n_at"))
        .withColumn("run", col("cum_before") + sum("n_at").over(vw))
        .filter(col("run") >= col("target"))
        .groupBy("event_type")
        .agg(min("value").as("p50"))
        .orderBy("event_type")
    }), Some(Oracle.sql(
      """SELECT event_type, quantile_disc(value, 0.5) AS p50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))),
    // Robust per-group outliers (median/MAD) — a16's companion for
    // heavy-tailed values, where mean and σ are themselves dragged by
    // the outliers they exist to flag (one 10^6 value inflates σ enough
    // to hide every 10^3 anomaly; the median moves one rank). med and
    // MAD are exact discrete order statistics (percentile_disc, the a8
    // device) on integer CENTS, so the gate |x − med| > 3·MAD is a pure
    // long inequality — no consistency constant (1.4826·MAD estimates σ
    // under normality; 3·MAD is the distribution-free form stated by
    // Hampel), no float compare a boundary row could flip across
    // engines. MAD = 0 (over half the group at one value) flags every
    // non-median value — the documented degenerate of the estimator,
    // still deterministic. Plan: two narrow per-type aggs (med, then
    // MAD over |x − med| via a broadcast of the |types|-row med table)
    // + one broadcast-join scan filter — three linear passes, stats
    // frames never larger than |event types|. At 100 TB each
    // percentile_disc swaps for a20's bounded two-pass histogram median
    // (same statistic, bounded state); the flag arithmetic is
    // unchanged.
    // a21 oracle: identical exact order statistics (quantile_disc on
    // cents, then on |x−med|) and the same 3·MAD long inequality
    Query("a21_mad_outliers", ((s, dir) => {
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          cents.as("x"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("med"),
          abs(col("x") - col("med")).as("d"))
        .groupBy("event_type", "med")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)")
          .as("mad"))
      ev.join(broadcast(mad), "event_type")
        .filter(abs(col("x") - col("med")) > lit(3L) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("x") > col("med"), "high").otherwise("low").as("side"))
        .orderBy("event_id")
    }), Some(Oracle.sqlWith(
      """cents21 AS (SELECT event_id, event_type, value,
        |              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |            FROM events),
        |med21 AS (SELECT event_type, quantile_disc(v, 0.5) AS med
        |          FROM cents21 GROUP BY event_type),
        |mad21 AS (SELECT c.event_type, m.med,
        |            quantile_disc(abs(c.v - m.med), 0.5) AS mad
        |          FROM cents21 c JOIN med21 m USING (event_type)
        |          GROUP BY c.event_type, m.med)""".stripMargin,
      """SELECT event_id, event_type, value,
        |       CASE WHEN x.v > m.med THEN 'high' ELSE 'low' END AS side
        |FROM cents21 x JOIN mad21 m USING (event_type)
        |WHERE abs(x.v - m.med) > 3 * m.mad
        |ORDER BY event_id""".stripMargin))),
    // a19's SLIDING twin: trailing-3-month distinct customers per month
    // — the windowed COUNT(DISTINCT) that exact state cannot maintain
    // (each frame would re-buffer every key in its 3 months; w7's
    // first-seen rollup trick only works for the cumulative-from-zero
    // form). Mergeable sketches make the frame cheap: one per-month
    // KMV partial (the a35 agg — 512 B per month regardless of month
    // size), then the frame merge by the a22b contribute-forward
    // explode ON THE SKETCH TABLE: month m's k-min members feed the
    // frames ending at m, m+1, m+2 (≤ 3k longs per target — spine-
    // sized, never the fact), target months absent from the data drop
    // via the broadcast join to the present-month spine (gap months
    // thus never pull an older month in — trailing 3 CALENDAR months
    // holds on sparse spines). Re-truncating the unioned members to k
    // is exactly the 3-month-union sketch (the a19 merge-losslessness
    // argument), so the whole statistic replays in DuckDB — this entry
    // moved from rows-only to hash-proven in r17 (verdict task 3).
    // [[slidingDistinctHll]] keeps the windowed-HLL-union library path
    // (RANGE frame over the month index), bounds-tested at two scales;
    // a22b is the exact 3×-fact-cost twin.
    // a22 oracle (hash-green since r17): per-month k-min sets, each
    // contributing to the frames ending at idx..idx+2 (replayed as the
    // equivalent BETWEEN on the present-month spine), union deduped and
    // re-truncated to k — identical to the Spark contribute-forward
    // sketch merge — then the a35 shared-literal estimate.
    Query("a22_sliding_distinct", ((s, dir) => {
      val sess = s
      import sess.implicits._
      val k = 64
      val perMonth = Tables.table(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          graft.functions.KmvSketch.hash60(col("o_custkey")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KmvAggregator(k).toColumn.name("kmin"))
        .toDF("month", "kmin")
        .withColumn("idx",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
        // two consumers (spine + contributions) — without the pin the
        // fact is sketched twice (the a36 shared-lineage device)
        .localCheckpoint()
      val present = perMonth.select(col("idx").as("tgt"), col("month"))
      perMonth
        .select(explode(array(col("idx"), col("idx") + 1, col("idx") + 2))
          .as("tgt"), col("kmin"))
        .join(broadcast(present), Seq("tgt"))
        .select(col("month"), explode(col("kmin")).as("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new graft.functions.KmvAggregator(k).toColumn.name("kmin"))
        .toDF("month", "kmin")
        .select(col("month"),
          size(col("kmin")).cast("long").as("n_kept"),
          graft.functions.KmvSketch.estimate(col("kmin"), k)
            .as("n_customers_3mo"))
        .orderBy("month")
    }), Some(Oracle.sqlWith(
      """oh22 AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month,
        |                CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
        |                                        1, 15)) AS BIGINT) AS h
        |         FROM orders),
        |ix22 AS (SELECT month,
        |                CAST(substring(month, 1, 4) AS BIGINT) * 12 +
        |                CAST(substring(month, 6, 2) AS BIGINT) AS idx, h
        |         FROM oh22),
        |sk22 AS (SELECT month, idx, h FROM (
        |           SELECT month, idx, h,
        |                  row_number() OVER (PARTITION BY month
        |                                     ORDER BY h) AS rn
        |           FROM ix22) WHERE rn <= 64),
        |tg22 AS (SELECT DISTINCT p.month, s.h
        |         FROM (SELECT DISTINCT month, idx FROM ix22) p
        |         JOIN sk22 s ON s.idx BETWEEN p.idx - 2 AND p.idx),
        |ur22 AS (SELECT month, h,
        |                row_number() OVER (PARTITION BY month
        |                                   ORDER BY h) AS rn,
        |                count(*) OVER (PARTITION BY month) AS cnt
        |         FROM tg22)""".stripMargin,
      """SELECT month, CAST(LEAST(cnt, 64) AS BIGINT) AS n_kept,
        |       CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |            ELSE (63.0 * 1152921504606846976.0)
        |                 / CAST(MAX(h) AS DOUBLE) END AS n_customers_3mo
        |FROM ur22 WHERE rn <= 64
        |GROUP BY month, cnt
        |ORDER BY month""".stripMargin))),
    // a22's EXACT hash-proven twin: the same trailing-3-calendar-month
    // distinct, computed by the contribute-forward explode in ONE pass —
    // an order in month m is a member of the frames ending at m, m+1,
    // m+2, so exploding each row into its three target months turns the
    // windowed COUNT DISTINCT into a plain partial-agg'able groupBy
    // (no per-frame re-buffering, no window at all). Months past the
    // data's last month exist only as explode targets and are dropped
    // by the semi-join to the ~80-row present-month spine (broadcast).
    // Cost model: 3× the fact rows through one distinct-agg exchange —
    // the price of exactness; a22 is the sketch answer when 3× the
    // corpus through a distinct is too dear. SQL-expressible end to
    // end, so this converts the sliding-distinct statistic from
    // bounded-only to oracle-hashed.
    // a22b oracle: the contribute-forward identity stated directly — an
    // order in month m belongs to the trailing-3-month frames ending at
    // m, m+1, m+2; phantom months past the data are dropped by the
    // present-month filter, exactly as the Spark semi-join does.
    Query("a22b_sliding_distinct_exact", ((s, dir) => {
      val orders = Tables.table(s, dir, "orders")
      val present = orders
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .distinct()
      orders
        .select(explode(array((0 to 2).map(k =>
            date_format(add_months(col("o_orderdate"), k), "yyyy-MM")): _*))
          .as("month"), col("o_custkey"))
        .join(broadcast(present), Seq("month"), "left_semi")
        .groupBy("month")
        .agg(countDistinct("o_custkey").as("n_customers_3mo"))
        .orderBy("month")
    }), Some(Oracle.sqlWith(
      """mo22 AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
        |         FROM orders),
        |co22 AS (SELECT strftime(o_orderdate + to_months(g.k), '%Y-%m')
        |                  AS month,
        |                o_custkey
        |         FROM orders, (VALUES (0), (1), (2)) AS g(k))""".stripMargin,
      """SELECT month,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_3mo
        |FROM co22
        |WHERE month IN (SELECT month FROM mo22)
        |GROUP BY month
        |ORDER BY month""".stripMargin))),
    // a21's CLEANING sibling: winsorization — clip each value into its
    // group's exact [p01, p99] band instead of flagging it (the
    // feature-prep standard where a row must survive but a fat tail
    // must not dominate a downstream mean/gradient). Same integer-cents
    // order-statistic discipline: the band edges are actual data values
    // (percentile_disc), clipping is least/greatest on longs, and the
    // only float op is the final /100 presentation division. Plan:
    // one narrow per-type agg + a broadcast-join scan map — the a16/a21
    // family; percentile_disc swaps for a20's bounded histogram
    // refinement at 100 TB.
    // a23 oracle: the same [p01, p99] order-statistic band on cents and
    // the same least/greatest clip
    Query("a23_winsorize", ((s, dir) => {
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), cents.as("x"))
      val cuts = ev.groupBy("event_type").agg(
        expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY x)").as("lo"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY x)").as("hi"))
      ev.join(broadcast(cuts), "event_type")
        .select(col("event_id"), col("event_type"),
          (least(greatest(col("x"), col("lo")), col("hi")).cast("double")
            / lit(100.0)).as("value_w"),
          (col("x") < col("lo") || col("x") > col("hi")).as("clipped"))
        .orderBy("event_id")
    }), Some(Oracle.sqlWith(
      """cents23 AS (SELECT event_id, event_type,
        |              CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
        |            FROM events),
        |cut23 AS (SELECT event_type,
        |            quantile_disc(x, 0.01) AS lo,
        |            quantile_disc(x, 0.99) AS hi
        |          FROM cents23 GROUP BY event_type)""".stripMargin,
      """SELECT event_id, event_type,
        |       CAST(LEAST(GREATEST(x, lo), hi) AS DOUBLE) / 100.0 AS value_w,
        |       (x < lo OR x > hi) AS clipped
        |FROM cents23 JOIN cut23 USING (event_type)
        |ORDER BY event_id""".stripMargin))))
}
