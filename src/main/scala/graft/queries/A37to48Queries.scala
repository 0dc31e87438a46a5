package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.ext.Stats.{kendallTauOf, loudLong, mannWhitneyCore, valueGrain}
import graft.queries.Common.{BenfordE9, BootB, PoissonCdf60, eventCents, fullMeans,
  monthlyNationCents, monthlyNationCentsSql, percentileCi, poissonRepMeans, rankSumCtes,
  valueGrainCtes}

/** a*: aggregates — goodness-of-fit and rank statistics (KS, Benford,
  * Theil–Sen, contingency, runs, Spearman, Kendall, Cliff, bootstrap
  * differences). Each query's body and its DuckDB oracle sit
  * side by side; ids a37–a48 live here, the rest of the family in the
  * other `A…Queries` files.
  */
object A37to48Queries {

  /** a41 core over an arbitrary (category, ym, y_cents) monthly frame.
    * See the a41 registry comment.
    */
  private[graft] def theilSenOf(monthly0: DataFrame): DataFrame = {
    // three consumers (both slope-join sides, the intercept join-back)
    // share the |categories|·|months|-row rollup — same truncation as
    // mannKendallOf
    val monthly = monthly0.localCheckpoint()
    val slopes = monthly.as("a").join(monthly.as("b"),
        col("a.category") === col("b.category") &&
          col("a.ym") < col("b.ym"))
      .select(col("a.category").as("category"),
        ((col("b.y_cents") - col("a.y_cents")).cast("double") /
          (col("b.ym") - col("a.ym")).cast("double")).as("slope"))
    val med = slopes.groupBy("category")
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list("slope")).as("sl"))
      .select(col("category"), col("n_pairs"),
        expr("element_at(sl, cast((n_pairs + 1) div 2 as int))")
          .as("ts_slope"))
    monthly.join(broadcast(med), Seq("category"))
      .select(col("category"), col("n_pairs"), col("ts_slope"),
        (col("y_cents").cast("double") -
          col("ts_slope") * col("ym").cast("double")).as("icpt"))
      .groupBy("category")
      .agg(count(lit(1)).as("n_months"),
        max("n_pairs").as("n_pairs"), max("ts_slope").as("ts_slope"),
        sort_array(collect_list("icpt")).as("ic"))
      .select(col("category"), col("n_months"), col("n_pairs"),
        col("ts_slope"),
        expr("element_at(ic, cast((n_months + 1) div 2 as int))")
          .as("ts_intercept"))
      .orderBy("category")
  }

  /** a42/a43 core over an arbitrary (segment, priority) pair frame. See
    * [[contingencyCells]].
    */
  private[graft] def contingencyOf(base: DataFrame): DataFrame = {
    // the r·c-row cell table feeds four consumers (both marginals, the
    // totals, the grid join) — truncate or each re-runs the corpus-sized
    // count shuffle (the a36/s7 device)
    val cells = base.groupBy("segment", "priority")
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val segs = cells.groupBy("segment").agg(sum("o").as("row_tot"))
    val pris = cells.groupBy("priority").agg(sum("o").as("col_tot"))
    val tot = cells.groupBy().agg(sum("o").as("n_total"),
      countDistinct("segment").as("r_levels"),
      countDistinct("priority").as("c_levels"))
    segs.crossJoin(broadcast(pris))
      .join(cells, Seq("segment", "priority"), "left")
      .crossJoin(broadcast(tot))
      .select(col("segment"), col("priority"),
        coalesce(col("o"), lit(0L)).as("n_obs"),
        col("row_tot"), col("col_tot"), col("n_total"),
        col("r_levels"), col("c_levels"),
        (col("row_tot").cast("double") * col("col_tot").cast("double") /
          col("n_total").cast("double")).as("expected"))
  }

  /** a42/a43 shared grid: the FULL segment×priority contingency table —
    * observed cell counts left-joined onto the domain-bounded marginal
    * cross (absent combinations surface as n_obs = 0, which the χ² mass
    * needs), with marginals, totals, level counts and the pinned-double
    * expected = r·c/n. One corpus-sized partial-agg shuffle; everything
    * after it touches ≤ r·c rows. See the a42 registry comment.
    */
  private def contingencyCells(s: SparkSession, dir: String): DataFrame =
    contingencyOf(Tables.table(s, dir, "orders")
      .join(Tables.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority")))

  /** a48 core over an arbitrary (event_type, cents, rk) frame — a31's
    * RNG-free Poisson bootstrap lifted to the DIFFERENCE of means vs
    * `base`: the same md5 row-key draws and 12 integer thresholds,
    * per-(type, rep) fixed-point means, per-rep exact long diffs
    * against the base's SAME-rep mean, the same pinned
    * order-statistic CI ranks. A rep where either side has n_eff = 0
    * drops from the diff set (inner join, mirrored in the oracle);
    * b_reps records the surviving count. `excludes_zero` is the
    * decision bit — the 95% CI strictly one side of 0. See the a48
    * registry comment.
    */
  private[graft] def bootstrapDiffOf(ev0: DataFrame,
      base: String = "view"): DataFrame = {
    // the narrow frame feeds the full-means and replicate branches —
    // the a31 checkpoint device — and is REPARTITIONED first with an
    // EXPLICIT partition count: the events parquet is one file → one
    // input partition, a checkpoint pins that layout, and the ×B
    // explode (the operator's whole corpus cost) ran on ONE core
    // (measured: a single 7.9 s one-task stage). A bare
    // repartition(col) did NOT fix it — without an explicit count AQE
    // picks the partition number from the pre-fan-out bytes (~5 MB →
    // 1 partition), blind to the ×B work each row seeds. a31 never
    // hits this because its input arrives through the 32-partition
    // cleaned-fact cache.
    val ev = PartitionOps.repartitionBeforeFanout(ev0, col("rk"))
      .localCheckpoint()
    val full = fullMeans(ev, "event_type")
    val reps = poissonRepMeans(ev, "event_type")
      // the |types|·B rollup feeds BOTH diff sides — without this
      // checkpoint the ×B md5 explode (the only corpus-sized branch)
      // runs twice (measured 2× the operator)
      .localCheckpoint()
    val baseReps = reps.filter(col("event_type") === base)
      .select(col("rep"), col("rep_mean_e6").as("base_rep_mean"))
    val diffs = reps.filter(col("event_type") =!= base)
      .join(broadcast(baseReps), Seq("rep"))
      .select(col("event_type"), col("rep"),
        (col("rep_mean_e6") - col("base_rep_mean")).as("d_e6"))
    val ci = percentileCi(diffs, "event_type", "d_e6")
    val baseFull = full.filter(col("event_type") === base)
      .select(col("mean_e6").as("base_mean_e6"))
    full.filter(col("event_type") =!= base)
      .crossJoin(broadcast(baseFull))
      .join(ci, Seq("event_type"))
      .select(col("event_type"), col("n_rows"), col("mean_e6"),
        col("base_mean_e6"),
        (col("mean_e6") - col("base_mean_e6")).as("diff_e6"),
        col("b_reps"), col("ci_lo_e6"), col("ci_hi_e6"),
        (col("ci_lo_e6") > 0 || col("ci_hi_e6") < 0).as("excludes_zero"))
      .orderBy("event_type")
  }

  /** a47 core over an arbitrary (event_type, cents) frame — a32's
    * value-grain machinery plus the margin/delta/effect projection.
    * Reads [[mannWhitneyCore]]'s PRE-cast DECIMAL(38,0) `two_u` so the
    * margin/delta/effect path keeps the full 10³⁸ headroom (the r15
    * audit: the old read of the post-cast long re-imposed the 2⁶³
    * bound one hop downstream); the `margin` OUTPUT narrows loudly. See
    * the a47 registry comment.
    */
  private[graft] def cliffsDeltaOf(ev: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val prod = col("n1").cast(d38) * col("n2")
    val marg = col("two_u") - prod
    mannWhitneyCore(ev).select(col("event_type"), col("n1"), col("n2"),
      loudLong(marg, "a47 margin").as("margin"),
      when(prod > 0, marg.cast("double") / prod.cast("double"))
        .otherwise(lit(0.0)).as("delta"),
      when(prod <= 0 || abs(marg) * 1000 < prod * 147, "negligible")
        .when(abs(marg) * 1000 < prod * 330, "small")
        .when(abs(marg) * 1000 < prod * 474, "medium")
        .otherwise("large").as("effect"))
      .orderBy("event_type")
  }

  /** a45 core over an arbitrary (category, x, y) frame — Pearson on
    * CENTERED doubled midranks u' = 2r̄ − (n+1): Σu' = 0 exactly
    * (midranks conserve the rank sum), so ρ = Σu'v' / √Σu'² / √Σv'²
    * with NO n-multiplication — the funnel's integers stay ≤ n³ per
    * group, inside the 2⁵³ exact-double window to n ≈ 2·10⁵ and inside
    * the 2⁶³ exactly-rounded window to n ≈ 2·10⁶. That bound is the
    * POINT, not an accident: the uncentered form's nΣuv ~ 4n⁴ crossed
    * 2⁶³ at sf0.1 and DuckDB's 128-bit→double conversion (a two-step
    * upper·2⁶⁴ + lower add) disagreed with Spark's decimal→double by
    * one ulp — a real cross-engine class this query now documents.
    * Past n³ > 2⁶³ the sums themselves stay EXACT on DECIMAL(38)/
    * HUGEINT; only the final conversions may differ in the last ulp
    * between engines (the value is still 1-ulp-correct). See the a45
    * registry comment.
    */
  private[graft] def spearmanOf(rows: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // r19 adjudication: a per-row window form (rank()/count() windows,
    // one fact exchange) computes the identical integers but measured
    // 1.8× SLOWER at sf0.1 — every window clusters by `category` (7
    // groups), so the rank sorts serialized onto ≤7 tasks while this
    // grain-aggregate+join shape keeps 32-way parallelism on the
    // corpus-sized work. Deliberately kept as-is.
    def rankTab(c: String): DataFrame = {
      val w = Window.partitionBy("category").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("category")
      rows.groupBy(col("category"), col(c))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", coalesce(sum("cnt").over(w), lit(0L)))
        .withColumn("nn", sum("cnt").over(wAll))
        // centered doubled midrank: (2·cum + cnt + 1) − (n + 1)
        .select(col("category"), col(c),
          (lit(2L) * col("cum") + col("cnt") - col("nn")).as("r2_" + c))
    }
    val m = rows
      .join(rankTab("x"), Seq("category", "x"))
      .join(rankTab("y"), Seq("category", "y"))
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(col("r2_x").cast(d38) * col("r2_y")).as("suv"),
        sum(col("r2_x").cast(d38) * col("r2_x")).as("suu"),
        sum(col("r2_y").cast(d38) * col("r2_y")).as("svv"))
    m.select(col("category"), col("n"),
        when(col("suu") > 0 && col("svv") > 0,
          col("suv").cast("double") /
            (sqrt(col("suu").cast("double")) *
              sqrt(col("svv").cast("double"))))
          .otherwise(lit(0.0)).as("rho"))
      .orderBy("category")
  }

  /** a39 core over an arbitrary (event_type, cents) frame, testing each
    * non-base type's empirical CDF against `base`'s. Reads a32's
    * value-grain frame ([[Stats.valueGrain]]: types × distinct values,
    * counts left-joined in) so the two tests stay structurally comparable. See the a39
    * registry comment.
    */
  private[graft] def ksTestOf(ev: DataFrame,
      base: String = "view"): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCum = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val frame = valueGrain(ev, base)
      .withColumn("cum_t", sum("n_t").over(wCum))
      .withColumn("cum_b", sum("n_b").over(wCum))
      .withColumn("nn1", sum("n_t").over(wAll))
      .withColumn("nn2", sum("n_b").over(wAll))
      // |F₁(x)−F₂(x)| cleared of denominators: cum_t·n₂ − cum_b·n₁,
      // lifted to DECIMAL(38,0) (10¹⁰·10¹⁰ = 10²⁰ at extreme scale —
      // past long range, inside 38 digits)
      .withColumn("dnum",
        abs(col("cum_t").cast(d38) * col("nn2") -
          col("cum_b").cast(d38) * col("nn1")))
    frame.groupBy("event_type")
      .agg(max("nn1").as("n1"), max("nn2").as("n2"),
        max("dnum").as("d_num"))
      .select(col("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        // d_e6 and ks are NULL for a type with no base rows (n₂ = 0)
        expr("""(1000000 * d_num) div
                nullif(cast(n1 as decimal(38,0)) * n2, 0)""")
          .cast("long").as("d_e6"),
        // scaled statistic √(n₁n₂/(n₁+n₂))·D — ONE pinned expression
        // tree over exact→double funnels (decimal→double and
        // long→double round identically for the same integer; sqrt,
        // ×, / are correctly rounded — the a25/a32 discipline)
        (sqrt(col("n1").cast("double") * col("n2").cast("double") /
            (col("n1") + col("n2")).cast("double")) *
          try_divide(col("d_num").cast("double"),
            col("n1").cast("double") * col("n2").cast("double")))
          .as("ks"))
      .orderBy("event_type")
  }

  /** a42/a43 oracle CTEs, each name suffixed `sfx`: the segment ×
    * priority cell counts `cc`, the row, column and grand totals, and the
    * full grid `gr` with each cell's expected count.
    */
  private def contingencyCtes(sfx: String): String =
    s"""cc$sfx AS (SELECT c.c_mktsegment AS segment,
       |                o.o_orderpriority AS priority,
       |                CAST(COUNT(*) AS BIGINT) AS n_obs
       |         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |         GROUP BY 1, 2),
       |rt$sfx AS (SELECT segment, CAST(SUM(n_obs) AS BIGINT) AS row_tot
       |         FROM cc$sfx GROUP BY 1),
       |ct$sfx AS (SELECT priority, CAST(SUM(n_obs) AS BIGINT) AS col_tot
       |         FROM cc$sfx GROUP BY 1),
       |tt$sfx AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total,
       |                CAST(COUNT(DISTINCT segment) AS BIGINT) AS r_levels,
       |                CAST(COUNT(DISTINCT priority) AS BIGINT) AS c_levels
       |         FROM cc$sfx),
       |gr$sfx AS (SELECT segment, priority,
       |                CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs,
       |                row_tot, col_tot, n_total, r_levels, c_levels,
       |                CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
       |                  / CAST(n_total AS DOUBLE) AS expected
       |         FROM rt$sfx CROSS JOIN ct$sfx
       |         LEFT JOIN cc$sfx USING (segment, priority)
       |         CROSS JOIN tt$sfx)""".stripMargin

  val all: Seq[Query] = Seq(
    // — MAD robust outliers (a37): per-category outlier census via the
    //   median-absolute-deviation rule |x − med| > 3·1.4826·MAD — the
    //   robust twin of a z-score gate (mean/stddev are themselves
    //   dragged by the outliers they're hunting; a23's winsorize trims,
    //   this FLAGS). Entirely integer-exact: medians are
    //   percentile_disc over exact cents (the a20/c10b device), the
    //   3·1.4826 factor is the fixed-point comparison
    //   adev·10⁴ > mad·44478 (per-row operands, ~1e11 at any SF — no
    //   cumulative overflow class). Two grouped percentile passes with
    //   the per-category med/MAD broadcast back — never a global sort;
    //   at 100 TB each pass is one shuffle on category and the
    //   broadcast is |categories| rows. —
    // a37 oracle: same two percentile_disc passes over exact cents, same
    // fixed-point 3·1.4826 rule — all-integer, no float surface at all
    Query("a37_mad_outliers", ((s, dir) => {
      val cs = Pipelines.cleanSales(s, dir)
        .select(col("category"),
          (col("total_price").cast(Tables.Money) * 100).cast("long")
            .as("cents"))
      val med = cs.groupBy("category")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
          .cast("long").as("med_cents"))
      val dev = cs.join(broadcast(med), "category")
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      val mad = dev.groupBy("category")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
          .cast("long").as("mad_cents"))
      dev.join(broadcast(mad), "category")
        .groupBy("category")
        .agg(count(lit(1)).as("n"),
          max("med_cents").as("med_cents"),
          max("mad_cents").as("mad_cents"),
          sum(when(col("adev") * 10000L > col("mad_cents") * 44478L, 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("category")
    }), Some(Oracle.sqlWith(
      """cs37 AS (SELECT category,
        |                CAST(total_price * 100 AS BIGINT) AS cents
        |         FROM clean_sales),
        |md37 AS (SELECT category,
        |                CAST(percentile_disc(0.5)
        |                     WITHIN GROUP (ORDER BY cents) AS BIGINT)
        |                  AS med_cents
        |         FROM cs37 GROUP BY category),
        |dv37 AS (SELECT cs37.category, cents, med_cents,
        |                abs(cents - med_cents) AS adev
        |         FROM cs37 JOIN md37 USING (category)),
        |mad37 AS (SELECT category,
        |                 CAST(percentile_disc(0.5)
        |                      WITHIN GROUP (ORDER BY adev) AS BIGINT)
        |                   AS mad_cents
        |          FROM dv37 GROUP BY category)""".stripMargin,
      """SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
        |       MAX(med_cents) AS med_cents,
        |       MAX(mad37.mad_cents) AS mad_cents,
        |       CAST(SUM(CASE WHEN adev * 10000 > mad37.mad_cents * 44478
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dv37 JOIN mad37 USING (category)
        |GROUP BY category ORDER BY category""".stripMargin))),
    // — Kendall-τ rank stability (a38): do two ranking signals agree? —
    //   per category, the head (top-100 by exact revenue, row_number
    //   tiebreak on product_id so there are NO rank ties and τ-a is
    //   well-defined) is re-ranked by quantity, and τ = (C−D)/pairs
    //   counts concordant/discordant pairs. The metric a curation
    //   pipeline uses to decide whether two quality scorers can
    //   substitute for each other. Integer-exact throughout: ranks are
    //   row_numbers, C/D are exact pair counts, τ is ONE double division
    //   of exact longs (the a4/a6 parity recipe). Scale shape: the pair
    //   space is k²/2 = 4,950 pairs per category AT ANY CORPUS SIZE
    //   (k=100 pinned) — the head join is category-equi over two
    //   |categories|·k-row tables, and the only corpus-sized work is the
    //   one partial-agg shuffle producing the product rollup. —
    // a38 oracle: same rollup, same two row_number rankings with pinned
    // tiebreaks, same pair counting; τ = one double division of the
    // exact (C−D, pairs) longs. HUGEINT sums cast to BIGINT on export.
    Query("a38_rank_stability", ((s, dir) => {
      val k = 100
      val agg = Pipelines.cleanSales(s, dir)
        .groupBy("category", "product_id")
        .agg(sum((col("total_price") * 100).cast("long")).as("rev_cents"),
          sum(col("quantity").cast("long")).as("qty"))
      val wRev = Window.partitionBy("category")
        .orderBy(col("rev_cents").desc, col("product_id"))
      val top = agg.withColumn("rrev", row_number().over(wRev))
        .filter(col("rrev") <= k)
      val wQty = Window.partitionBy("category")
        .orderBy(col("qty").desc, col("product_id"))
      val both = top.withColumn("rqty", row_number().over(wQty))
        .select("category", "rrev", "rqty")
      both.as("a").join(both.as("b"),
          col("a.category") === col("b.category") &&
            col("a.rrev") < col("b.rrev"))
        .groupBy(col("a.category").as("category"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a.rqty") < col("b.rqty"), 1L).otherwise(0L))
            .as("concordant"),
          sum(when(col("a.rqty") > col("b.rqty"), 1L).otherwise(0L))
            .as("discordant"))
        .select(col("category"), col("n_pairs"), col("concordant"),
          col("discordant"),
          ((col("concordant") - col("discordant")).cast("double") /
            col("n_pairs").cast("double")).as("tau"))
        .orderBy("category")
    }), Some(Oracle.sqlWith(
      """ag38 AS (SELECT category, product_id,
        |                CAST(SUM(CAST(total_price * 100 AS BIGINT))
        |                  AS BIGINT) AS rev_cents,
        |                CAST(SUM(CAST(quantity AS BIGINT)) AS BIGINT) AS qty
        |         FROM clean_sales GROUP BY 1, 2),
        |tp38 AS (SELECT * FROM (
        |           SELECT category, product_id, qty,
        |                  row_number() OVER (PARTITION BY category
        |                    ORDER BY rev_cents DESC, product_id) AS rrev
        |           FROM ag38) WHERE rrev <= 100),
        |rk38 AS (SELECT category, rrev,
        |                row_number() OVER (PARTITION BY category
        |                  ORDER BY qty DESC, product_id) AS rqty
        |         FROM tp38),
        |pr38 AS (SELECT a.category, a.rqty AS qa, b.rqty AS qb
        |         FROM rk38 a JOIN rk38 b
        |           ON a.category = b.category AND a.rrev < b.rrev)""".stripMargin,
      """SELECT category, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(SUM(CASE WHEN qa < qb THEN 1 ELSE 0 END) AS BIGINT)
        |         AS concordant,
        |       CAST(SUM(CASE WHEN qa > qb THEN 1 ELSE 0 END) AS BIGINT)
        |         AS discordant,
        |       CAST(SUM(CASE WHEN qa < qb THEN 1 ELSE 0 END)
        |            - SUM(CASE WHEN qa > qb THEN 1 ELSE 0 END) AS DOUBLE)
        |       / CAST(COUNT(*) AS DOUBLE) AS tau
        |FROM pr38 GROUP BY category ORDER BY category""".stripMargin))),
    // — Kolmogorov–Smirnov two-sample test (a39): the distribution-FREE
    //   completion of the test family — a32 compares ranks, a33 means,
    //   a34 k-group means; KS asks "are the two distributions the same
    //   AT ALL" via the max ECDF gap D = max|F₁(x) − F₂(x)|, the
    //   standard drift gate between a reference and a candidate corpus
    //   slice. Exactness: D's numerator is cleared of denominators —
    //   max|cum₁·n₂ − cum₂·n₁| over the VALUE-GRAIN cumulative counts
    //   (a32's frame verbatim: ≤ |cents domain| rows forever, fact rows
    //   never reach the sort), lifted to DECIMAL(38,0) since cum·n
    //   reaches 10²⁰ at extreme scale. d_e6 is the ×10⁶ fixed-point
    //   floor (nonneg — div ≡ //); the scaled statistic
    //   √(n₁n₂/(n₁+n₂))·D (compare to the Kolmogorov K(α) line, e.g.
    //   1.358 for α=.05) is one pinned double funnel. Both per-type
    //   windows run over the value-grain table: bounded state at
    //   100 TB by the value domain, not the event count. —
    // a39 oracle: same value-grain frame as a32's, two cumulative
    // windows, the DECIMAL-lifted cleared-denominator max, and the
    // identical pinned double funnel for the scaled statistic
    Query("a39_ks_test", ((s, dir) => {
      ksTestOf(eventCents(s, dir, "cents"))
    }), Some(Oracle.sqlWith(
      valueGrainCtes("39") + """,
        |fr39 AS (SELECT k.event_type, k.cents,
        |                COALESCE(t.n_t, 0) AS n_t,
        |                COALESCE(b.n_b, 0) AS n_b
        |         FROM keys39 k
        |         LEFT JOIN tst39 t ON k.event_type = t.event_type
        |                          AND k.cents = t.cents
        |         LEFT JOIN base39 b ON k.cents = b.cents
        |         WHERE COALESCE(t.n_t, 0) + COALESCE(b.n_b, 0) > 0),
        |cm39 AS (SELECT event_type, cents, n_t, n_b,
        |                SUM(n_t) OVER (PARTITION BY event_type
        |                  ORDER BY cents) AS cum_t,
        |                SUM(n_b) OVER (PARTITION BY event_type
        |                  ORDER BY cents) AS cum_b,
        |                SUM(n_t) OVER (PARTITION BY event_type) AS nn1,
        |                SUM(n_b) OVER (PARTITION BY event_type) AS nn2
        |         FROM fr39),
        |ks39 AS (SELECT event_type,
        |                CAST(MAX(nn1) AS BIGINT) AS n1,
        |                CAST(MAX(nn2) AS BIGINT) AS n2,
        |                MAX(abs(cum_t * nn2 - cum_b * nn1)) AS d_num
        |         FROM cm39 GROUP BY event_type)""".stripMargin,
      """SELECT event_type, n1, n2,
        |       CAST((1000000 * d_num)
        |            // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_e6,
        |       sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |            / CAST(n1 + n2 AS DOUBLE))
        |       * (CAST(CAST(d_num AS VARCHAR) AS DOUBLE)
        |          / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS ks
        |FROM ks39 ORDER BY event_type""".stripMargin))),
    // — Benford first-digit audit (a40): the forensic data-quality gate
    //   (Nigrini's accounting-fraud screen; for a pipeline, the cheap
    //   "did an upstream default/truncation corrupt the amounts"
    //   detector) — observed first-digit shares of positive sale cents
    //   vs the Benford expectation log₁₀(1+1/d). Entirely integer: the
    //   digit is the first character of the cents string (identical
    //   lexing on both engines for positive longs), ONE partial-agg
    //   shuffle to the ≤9-row digit census, shares as ×10⁶ fixed-point
    //   floors (numerator lifted to DECIMAL(38,0) — 10⁶·n is thin at
    //   10¹² rows), expectations the pinned BenfordE9 floors, and the
    //   deviation an exact |share − expected|. No float surface at
    //   all. Digits absent from the data are absent from the output on
    //   both engines (groupBy semantics agree). —
    // a40 oracle: same digit lexing, same pinned BenfordE9 floors, same
    // fixed-point shares — all-integer
    Query("a40_benford", ((s, dir) => {
      val caseE6 = BenfordE9.zipWithIndex.map { case (l, i) =>
        s"WHEN ${i + 1} THEN ${l / 1000L}L" }
        .mkString("CASE digit ", " ", " END")
      val counts = Pipelines.cleanSales(s, dir)
        .select((col("total_price") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val total = counts.groupBy().agg(sum("n_obs").as("n_total"))
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n_obs"),
          expr("""(1000000 * cast(n_obs as decimal(38,0))) div
                  cast(n_total as decimal(38,0))""")
            .cast("long").as("share_e6"),
          expr(caseE6).as("benford_e6"))
        .withColumn("dev_e6", abs(col("share_e6") - col("benford_e6")))
        .orderBy("digit")
    }), Some(Oracle.sqlWith(
      s"""dg40 AS (SELECT CAST(substring(CAST(CAST(total_price * 100
         |                  AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |         FROM clean_sales
         |         WHERE CAST(total_price * 100 AS BIGINT) > 0),
         |ct40 AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
         |         FROM dg40 GROUP BY 1),
         |sh40 AS (SELECT digit, n_obs,
         |                CAST((1000000 * CAST(n_obs AS HUGEINT))
         |                  // (SELECT SUM(n_obs) FROM ct40) AS BIGINT)
         |                  AS share_e6,
         |                CAST(CASE digit ${BenfordE9.zipWithIndex.map {
                            case (l, i) => s"WHEN ${i + 1} THEN ${l / 1000L}"
                          }.mkString(" ")} END AS BIGINT) AS benford_e6
         |         FROM ct40)""".stripMargin,
      """SELECT digit, n_obs, share_e6, benford_e6,
        |       abs(share_e6 - benford_e6) AS dev_e6
        |FROM sh40 ORDER BY digit""".stripMargin))),
    // — Theil–Sen robust slope (a41): the trend MAGNITUDE companion to
    //   w18's detector — per category, the median of all pairwise
    //   monthly-revenue slopes (y_j − y_i)/(ym_j − ym_i), the estimator
    //   with a 29% breakdown point where a25's OLS is dragged by one
    //   corrupted month (Sen 1968). Same calendar-bounded pair space as
    //   w18 (≤ ~3.5k pairs per category at ANY corpus size; one
    //   partial-agg shuffle does all corpus-sized work). The median is
    //   the LOWER-median ELEMENT, never an interpolation: slopes sort
    //   into a bounded array (collect_list is calendar-bounded — the
    //   w8/w12 boundedness carve-out) and element_at picks index
    //   (n+1)/2; the oracle pins the same convention with row_number =
    //   (np+1)//2, so both engines select the same VALUE (ties among
    //   equal doubles are interchangeable by value — selection is
    //   order-statistic, not row identity). Each slope is one pinned
    //   double division of exact-long casts (cents < 2⁵³ — the a25
    //   funnel headroom note applies; ym spans are small ints). The
    //   intercept is the same lower-median device over per-month
    //   residuals y − slope·ym (slope·ym and the subtraction are
    //   correctly-rounded; no −0.0 surface: ym > 0 and dy = 0 yields
    //   +0.0). —
    // a41 oracle: same monthly spine, same pinned slope division, and the
    // lower-median ELEMENT pinned by row_number = (n+1)//2 over the slope
    // order — the same order statistic element_at((n+1) div 2) selects
    Query("a41_theil_sen", ((s, dir) =>
      theilSenOf(Pipelines.cleanSales(s, dir)
        .groupBy(col("category"), col("month"))
        .agg(sum((col("total_price") * 100).cast("long")).as("y_cents"))
        .withColumn("ym",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
        .select("category", "ym", "y_cents"))), Some(Oracle.sqlWith(
      """mo41 AS (SELECT category,
        |                CAST(substring(month, 1, 4) AS BIGINT) * 12
        |                  + CAST(substring(month, 6, 2) AS BIGINT) AS ym,
        |                CAST(SUM(CAST(total_price * 100 AS BIGINT))
        |                  AS BIGINT) AS y_cents
        |         FROM clean_sales GROUP BY 1, 2),
        |sl41 AS (SELECT a.category,
        |                CAST(b.y_cents - a.y_cents AS DOUBLE)
        |                  / CAST(b.ym - a.ym AS DOUBLE) AS slope
        |         FROM mo41 a JOIN mo41 b
        |           ON a.category = b.category AND a.ym < b.ym),
        |rk41 AS (SELECT category, slope,
        |                ROW_NUMBER() OVER (PARTITION BY category
        |                                   ORDER BY slope) AS rn,
        |                CAST(COUNT(*) OVER (PARTITION BY category)
        |                  AS BIGINT) AS n_pairs
        |         FROM sl41),
        |md41 AS (SELECT category, n_pairs, slope AS ts_slope
        |         FROM rk41 WHERE rn = (n_pairs + 1) // 2),
        |ic41 AS (SELECT m.category, n_pairs, ts_slope,
        |                CAST(y_cents AS DOUBLE)
        |                  - ts_slope * CAST(ym AS DOUBLE) AS icpt
        |         FROM mo41 m JOIN md41 ON m.category = md41.category),
        |rk41b AS (SELECT category, n_pairs, ts_slope, icpt,
        |                 ROW_NUMBER() OVER (PARTITION BY category
        |                                    ORDER BY icpt) AS rn,
        |                 CAST(COUNT(*) OVER (PARTITION BY category)
        |                   AS BIGINT) AS n_months
        |          FROM ic41)""".stripMargin,
      """SELECT category, n_months, n_pairs, ts_slope,
        |       icpt AS ts_intercept
        |FROM rk41b WHERE rn = (n_months + 1) // 2
        |ORDER BY category""".stripMargin))),
    // — contingency table + Pearson residuals (a42): IS market segment
    //   independent of order priority? The categorical-association
    //   primitive (feature-leakage screens, stratification audits) the
    //   a-family tests can't ask — a32/a33/a39 compare a NUMERIC column
    //   across groups; this crosses two CATEGORICALS. The full r×c grid
    //   (observed-only cells would silently drop the (0−e)²/e mass of
    //   empty cells) is the DOMAIN-bounded cross of the two marginal
    //   tables (≤5×5 — bounded by the value domains, never the fact
    //   count; whitelisted like a32's grain), with observed counts
    //   left-joined in and coalesced to 0. ONE corpus-sized partial-agg
    //   shuffle (orders⋈customer → cell counts); marginals derive from
    //   the 25-row cell table, not the facts. Expected = r·c/n as one
    //   pinned double tree (r, c, n < 2⁵³ exact casts; ·, / correctly
    //   rounded — NOT the r·c long product, which wraps at 100 TB where
    //   DuckDB's HUGEINT doesn't); Pearson residual (o − e)/√e flags
    //   WHICH cells deviate — the per-cell diagnostic a43's omnibus χ²
    //   cannot localize. —
    // a42 oracle: same full marginal-cross grid with zero-coalesced
    // observed cells, same pinned expected/residual trees
    Query("a42_contingency", ((s, dir) => {
      contingencyCells(s, dir)
        .select(col("segment"), col("priority"), col("n_obs"),
          col("row_tot"), col("col_tot"), col("n_total"),
          col("expected"),
          ((col("n_obs").cast("double") - col("expected")) /
            sqrt(col("expected"))).as("pearson_resid"))
        .orderBy("segment", "priority")
    }), Some(Oracle.sqlWith(
      contingencyCtes("42"),
      """SELECT segment, priority, n_obs, row_tot, col_tot, n_total,
        |       expected,
        |       (CAST(n_obs AS DOUBLE) - expected) / sqrt(expected)
        |         AS pearson_resid
        |FROM gr42 ORDER BY segment, priority""".stripMargin))),
    // — Cramér's V (a43): the omnibus effect size over a42's grid —
    //   χ² = Σ (o−e)²/e over all r×c cells, normalized to [0,1] by
    //   √(χ²/(n·min(r−1,c−1))) so "how associated" is comparable
    //   across table shapes (Cramér 1946). The float hazard is the SUM
    //   OVER CELLS of double terms — aggregation order would drift the
    //   hash — so the 25 cell terms ride the w12 pinned-fold device:
    //   sort_array over (segment, priority, term) structs fixes the
    //   order, aggregate() left-folds from an explicit 0.0 seed, and
    //   the oracle's list_reduce folds the identically-ordered list
    //   from its implicit first-element seat (0.0 + t₁ ≡ t₁ bit-exact —
    //   terms are ≥ 0, and +0.0 absorbs). Each term (o−e)·(o−e)/e is
    //   the same pinned tree on both engines (explicit product, not
    //   pow). r/c levels count the marginal tables; everything after
    //   the one corpus-sized cell-count shuffle touches ≤25 rows. —
    // a43 oracle: the same grid, each cell's (o−e)²/e as the identical
    // explicit-product tree, folded in the same (segment, priority)
    // order from the same explicit 0.0 seed (list_prepend — no reliance
    // on list_reduce's first-element seat)
    Query("a43_cramers_v", ((s, dir) => {
      val cells = contingencyCells(s, dir)
        .select(col("segment"), col("priority"), col("n_total"),
          col("r_levels"), col("c_levels"),
          struct(col("segment").as("sg"), col("priority").as("pr"),
            (((col("n_obs").cast("double") - col("expected")) *
              (col("n_obs").cast("double") - col("expected"))) /
              col("expected")).as("term")).as("cell"))
      cells.groupBy()
        .agg(max("n_total").as("n_total"), max("r_levels").as("r_levels"),
          max("c_levels").as("c_levels"),
          sort_array(collect_list("cell")).as("cells"))
        .select(col("n_total"), col("r_levels"), col("c_levels"),
          aggregate(transform(col("cells"), _.getField("term")),
            lit(0.0), (a, x) => a + x).as("chi2"))
        .select(col("n_total"), col("r_levels"), col("c_levels"),
          col("chi2"),
          sqrt(col("chi2") /
            (col("n_total").cast("double") *
              least(col("r_levels") - 1L, col("c_levels") - 1L)
                .cast("double"))).as("cramers_v"))
    }), Some(Oracle.sqlWith(
      contingencyCtes("43") + """,
        |ch43 AS (SELECT MAX(n_total) AS n_total,
        |                MAX(r_levels) AS r_levels,
        |                MAX(c_levels) AS c_levels,
        |                list_reduce(
        |                  list_prepend(CAST(0.0 AS DOUBLE),
        |                    list((CAST(n_obs AS DOUBLE) - expected)
        |                         * (CAST(n_obs AS DOUBLE) - expected)
        |                         / expected
        |                         ORDER BY segment, priority)),
        |                  (a, x) -> a + x) AS chi2
        |         FROM gr43)""".stripMargin,
      """SELECT n_total, r_levels, c_levels, chi2,
        |       sqrt(chi2 / (CAST(n_total AS DOUBLE)
        |            * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE)))
        |         AS cramers_v
        |FROM ch43""".stripMargin))),
    // — Wald–Wolfowitz runs test (a44): the RANDOMNESS completion of
    //   the sequential family — w18 asks "is there monotone trend",
    //   this asks "is the sign sequence random at all": too FEW runs of
    //   above/below-median months means regimes/clustering (a level
    //   shift w18's monotone statistic can miss), too MANY means
    //   oscillation (an alternating seasonal artifact). Exact ladder:
    //   the reference level is the LOWER-MEDIAN ELEMENT of the nation's
    //   monthly cents (the a41 device — integer, engine-identical),
    //   months equal to the median drop (the classical tie rule), signs
    //   are integer comparisons, R = 1 + Σ[sign_t ≠ sign_{t−1}] over
    //   the ym order via one lag window, n₁/n₂ exact counts. Only
    //   z = (R − μ)/σ — μ = 2n₁n₂/n + 1, σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1))
    //   — goes float, as one pinned tree of long→double funnels.
    //   Everything after monthlyNationCents' partial agg touches
    //   calendar-bounded rows. —
    // a44 oracle: same lower-median element, same tie-drop, same
    // lag-adjacency runs count, same pinned μ/σ/z trees
    Query("a44_runs_test", ((s, dir) => {
      // two consumers (median collect, sign sequence) share the spine —
      // truncate (the mannKendallOf note)
      val spine = monthlyNationCents(s, dir)
        .withColumn("ym",
          substring(col("month"), 1, 4).cast("long") * 12 +
            substring(col("month"), 6, 2).cast("long"))
        .localCheckpoint()
      val med = spine.groupBy("nation")
        .agg(count(lit(1)).as("n_m"),
          sort_array(collect_list("x_cents")).as("xs"))
        .select(col("nation"),
          expr("element_at(xs, cast((n_m + 1) div 2 as int))").as("med"))
      val byYm = Window.partitionBy("nation").orderBy("ym")
      val signed = spine.join(broadcast(med), Seq("nation"))
        .filter(col("x_cents") =!= col("med"))
        .withColumn("sgn", when(col("x_cents") > col("med"), 1L)
          .otherwise(0L))
        .withColumn("prev", lag("sgn", 1).over(byYm))
      val g = signed.groupBy("nation")
        .agg(sum("sgn").as("n1"),
          sum(lit(1L) - col("sgn")).as("n2"),
          (sum(when(col("prev").isNotNull && col("sgn") =!= col("prev"),
            1L).otherwise(0L)) + 1L).as("runs"))
        // n₁,n₂ ≥ 1 and n ≥ 3: the normal approximation's floor, and
        // n₁=n₂=1 makes σ = 0 (z would be 0/0 → NaN)
        .filter(col("n1") > 0 && col("n2") > 0 &&
          col("n1") + col("n2") > 2L)
      val nn = col("n1") + col("n2")
      val two = col("n1") * col("n2") * 2L
      val mu = two.cast("double") / nn.cast("double") + lit(1.0)
      val sigma = sqrt(
        (two.cast("double") * (two - nn).cast("double")) /
          ((nn * nn).cast("double") * (nn - 1L).cast("double")))
      g.select(col("nation"), col("n1"), col("n2"), col("runs"),
          (col("runs").cast("double") - mu).as("excess"),
          ((col("runs").cast("double") - mu) / sigma).as("z"))
        .orderBy("nation")
    }), Some(Oracle.sqlWith(
      monthlyNationCentsSql("sp44") + """,
        |ym44 AS (SELECT nation,
        |                CAST(substring(month, 1, 4) AS BIGINT) * 12
        |                  + CAST(substring(month, 6, 2) AS BIGINT) AS ym,
        |                x_cents
        |         FROM sp44),
        |md44 AS (SELECT nation, x_cents AS med
        |         FROM (SELECT nation, x_cents,
        |                      ROW_NUMBER() OVER (PARTITION BY nation
        |                        ORDER BY x_cents) AS rn,
        |                      CAST(COUNT(*) OVER (PARTITION BY nation)
        |                        AS BIGINT) AS n_m
        |               FROM ym44)
        |         WHERE rn = (n_m + 1) // 2),
        |sg44 AS (SELECT y.nation, y.ym,
        |                CASE WHEN y.x_cents > m.med THEN 1 ELSE 0 END AS sgn
        |         FROM ym44 y JOIN md44 m ON y.nation = m.nation
        |         WHERE y.x_cents != m.med),
        |rn44 AS (SELECT nation, sgn,
        |                LAG(sgn) OVER (PARTITION BY nation ORDER BY ym)
        |                  AS prev
        |         FROM sg44),
        |gr44 AS (SELECT nation, CAST(SUM(sgn) AS BIGINT) AS n1,
        |                CAST(SUM(1 - sgn) AS BIGINT) AS n2,
        |                CAST(SUM(CASE WHEN prev IS NOT NULL AND sgn != prev
        |                              THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |                  AS runs
        |         FROM rn44 GROUP BY nation
        |         HAVING n1 > 0 AND n2 > 0 AND n1 + n2 > 2)""".stripMargin,
      """SELECT nation, n1, n2, runs,
        |       CAST(runs AS DOUBLE)
        |         - (CAST(n1 * n2 * 2 AS DOUBLE)
        |            / CAST(n1 + n2 AS DOUBLE) + 1.0) AS excess,
        |       (CAST(runs AS DOUBLE)
        |         - (CAST(n1 * n2 * 2 AS DOUBLE)
        |            / CAST(n1 + n2 AS DOUBLE) + 1.0))
        |       / sqrt((CAST(n1 * n2 * 2 AS DOUBLE)
        |               * CAST(n1 * n2 * 2 - (n1 + n2) AS DOUBLE))
        |              / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
        |                 * CAST(n1 + n2 - 1 AS DOUBLE))) AS z
        |FROM gr44 ORDER BY nation""".stripMargin))),
    // — Spearman rank correlation (a45): the MONOTONE-association
    //   completion of the correlation family — a26 measures LINEAR
    //   association (Pearson, moment-fragile under skew), a38/w18
    //   measure ORDINAL concordance (Kendall, O(pairs)), this is the
    //   workhorse in between: Pearson computed ON MIDRANKS, robust to
    //   monotone transforms and outliers, one linear pass where
    //   Kendall's pair space isn't affordable. Ranks via the a32
    //   doubled-midrank device CENTERED in-grain (u' = 2r̄ − (n+1) —
    //   Σu' = 0 exactly because midranks conserve the rank sum), PER
    //   VARIABLE: each of x (quantity) and y (unit-price cents) gets a
    //   value-grain rank table (≤ |category × value domain| rows
    //   forever), joined back to fact rows — two broadcast-shaped
    //   equi-joins, no fact-side sort anywhere, then ONE partial-agg
    //   shuffle to per-category moments on DECIMAL(38)/HUGEINT. The
    //   zero-mean form makes ρ = Σu'v'/√Σu'²/√Σv'² directly — no
    //   n-multiplication, so the funnel's converted integers stay ≤ n³
    //   (exactly-rounded double conversions to n ≈ 2·10⁶ per group;
    //   the uncentered 4n⁴ form crossed 2⁶³ at sf0.1 and hit DuckDB's
    //   two-step 128-bit→double one-ulp divergence — see spearmanOf).
    //   A zero-variance side (all x or all y equal in a group) is
    //   pinned to ρ = 0 by stated convention on both engines rather
    //   than left to engine-specific ÷0. —
    // a45 oracle: the identical per-variable CENTERED midrank pipeline —
    // u' = 2·cum + cnt − n joined back to rows, HUGEINT moments, the
    // same zero-variance → 0 convention, ρ = Σu'v'/√Σu'²/√Σv'² with
    // every converted integer ≤ n³ (the cross-engine 128-bit→double
    // one-ulp class the uncentered form hit at sf0.1 — see the
    // spearmanOf scaladoc).
    Query("a45_spearman", ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      spearmanOf(Pipelines.cleanSales(s, dir).select(col("category"),
        col("quantity").cast("long").as("x"),
        (col("unit_price").cast(dec) * 100).cast("long").as("y")))
    }), Some(Oracle.sqlWith(
      """rw45 AS (SELECT category, CAST(quantity AS BIGINT) AS x,
        |                CAST(CAST(unit_price AS DECIMAL(12,2)) * 100
        |                  AS BIGINT) AS y
        |         FROM clean_sales),
        |rx45 AS (SELECT category, x,
        |                2 * COALESCE(SUM(cnt) OVER (PARTITION BY category
        |                  ORDER BY x
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  0) + cnt
        |                - SUM(cnt) OVER (PARTITION BY category) AS r2x
        |         FROM (SELECT category, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |               FROM rw45 GROUP BY 1, 2)),
        |ry45 AS (SELECT category, y,
        |                2 * COALESCE(SUM(cnt) OVER (PARTITION BY category
        |                  ORDER BY y
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  0) + cnt
        |                - SUM(cnt) OVER (PARTITION BY category) AS r2y
        |         FROM (SELECT category, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |               FROM rw45 GROUP BY 1, 2)),
        |jn45 AS (SELECT r.category, rx.r2x, ry.r2y
        |         FROM rw45 r
        |         JOIN rx45 rx ON r.category = rx.category AND r.x = rx.x
        |         JOIN ry45 ry ON r.category = ry.category AND r.y = ry.y),
        |mo45 AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
        |                SUM(CAST(r2x AS HUGEINT) * r2y) AS suv,
        |                SUM(CAST(r2x AS HUGEINT) * r2x) AS suu,
        |                SUM(CAST(r2y AS HUGEINT) * r2y) AS svv
        |         FROM jn45 GROUP BY category)""".stripMargin,
      """SELECT category, n,
        |       CASE WHEN suu > 0 AND svv > 0
        |            THEN CAST(suv AS DOUBLE)
        |                 / (sqrt(CAST(suu AS DOUBLE))
        |                    * sqrt(CAST(svv AS DOUBLE)))
        |            ELSE 0.0 END AS rho
        |FROM mo45 ORDER BY category""".stripMargin))),
    // — Kendall τ-b (a46): completes the association trio on the SAME
    //   (category, quantity, price-cents) input — a26 Pearson (linear),
    //   a45 Spearman (monotone via midranks), τ-b (pairwise
    //   concordance, the most outlier-robust and the one with a direct
    //   probabilistic reading: P(concordant) − P(discordant)). The
    //   textbook cost is O(n²) pairs; here NO pair space exists at
    //   all — Knight's O(n·|Dx|) counting algorithm (JASA 1966),
    //   bucketed for parallelism: y is range-bucketed by value per
    //   category (ties never span buckets), within-bucket C/D come
    //   from a sequential |Dx|-slot counting pass over ONE narrow
    //   shuffle + local sort, and cross-bucket C/D from the 2D-ECDF
    //   prefix device on the constant-size (bucket × x-domain)
    //   histogram grid — b₁<b₂ already implies y₁<y₂. Work is
    //   O(n·|Dx|) with a ≤50 constant (quantity is the bounded axis)
    //   where the naive grain cross is |Dy|² the moment one side is
    //   continuous (the first cut stalled the sf0.1 sweep at ~10¹⁰
    //   pair rows; the second, the dense |Dx|·|Dy| ECDF spine, was
    //   exact but paid two 27M-row window sorts — see kendallTauOf
    //   for the full history). Tie terms stay in DOUBLED form (n(n−1),
    //   Σt(t−1)) so no /2 ever divides an integer; everything up to
    //   the final funnel is exact DECIMAL(38)/HUGEINT, and
    //   τ-b = 2(C−D)/√((n(n−1)−Tx)(n(n−1)−Ty)) is ONE pinned
    //   expression — each converted integer ≤ n², exactly-rounded
    //   doubles to n ≈ 9·10⁷ per category (the a45 one-ulp lesson:
    //   never convert anything bigger than you must). Zero-variance
    //   sides pin τ = 0 by the stated c29/a45 convention. —
    // a46 oracle: the same 2D ECDF spine — (x-domain × y-grain) frame,
    // nested cumulative windows (y within (category,x), then x within
    // (category,y)), C/D charged at each populated cell; same doubled
    // tie terms on HUGEINT, same single 2(C−D)/√(ax·ay) double funnel
    // with the τ=0 zero-variance convention
    Query("a46_kendall_tau", ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      kendallTauOf(Pipelines.cleanSales(s, dir).select(col("category"),
        col("quantity").cast("long").as("x"),
        (col("unit_price").cast(dec) * 100).cast("long").as("y")))
    }), Some(Oracle.sqlWith(
      """rw46 AS (SELECT category, CAST(quantity AS BIGINT) AS x,
        |                CAST(CAST(unit_price AS DECIMAL(12,2)) * 100
        |                  AS BIGINT) AS y
        |         FROM clean_sales),
        |g46 AS (SELECT category, x, y, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM rw46 GROUP BY 1, 2, 3),
        |dx46 AS (SELECT DISTINCT category, x FROM g46),
        |dy46 AS (SELECT DISTINCT category, y FROM g46),
        |fr46 AS (SELECT d.category, d.x, e.y,
        |                COALESCE(g.n, 0) AS m
        |         FROM dx46 d
        |         JOIN dy46 e ON d.category = e.category
        |         LEFT JOIN g46 g ON g.category = d.category
        |           AND g.x = d.x AND g.y = e.y),
        |cm46 AS (SELECT category, x, y, m,
        |                COALESCE(SUM(m) OVER (PARTITION BY category, x
        |                  ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0) AS cumlt,
        |                COALESCE(SUM(m) OVER (PARTITION BY category, x
        |                  ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0) + m AS cumle,
        |                SUM(m) OVER (PARTITION BY category, x) AS nx
        |         FROM fr46),
        |ac46 AS (SELECT category, x, y, m,
        |                COALESCE(SUM(cumlt) OVER (PARTITION BY category,
        |                  y ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0) AS w_lt,
        |                COALESCE(SUM(cumle) OVER (PARTITION BY category,
        |                  y ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0) AS u_le,
        |                COALESCE(SUM(nx) OVER (PARTITION BY category,
        |                  y ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0) AS nx_lt
        |         FROM cm46),
        |cd46 AS (SELECT category,
        |                SUM(CAST(m AS HUGEINT) * w_lt) AS conc,
        |                SUM(CAST(m AS HUGEINT) * (nx_lt - u_le)) AS disc
        |         FROM ac46 WHERE m > 0 GROUP BY 1),
        |tt46 AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n
        |         FROM rw46 GROUP BY 1),
        |tx46 AS (SELECT category,
        |                SUM(CAST(t AS HUGEINT) * (t - 1)) AS tie_x2
        |         FROM (SELECT category, x, CAST(COUNT(*) AS BIGINT) AS t
        |               FROM rw46 GROUP BY 1, 2) GROUP BY 1),
        |ty46 AS (SELECT category,
        |                SUM(CAST(t AS HUGEINT) * (t - 1)) AS tie_y2
        |         FROM (SELECT category, y, CAST(COUNT(*) AS BIGINT) AS t
        |               FROM rw46 GROUP BY 1, 2) GROUP BY 1),
        |fn46 AS (SELECT t.category, t.n, c.conc, c.disc,
        |                CAST(t.n AS HUGEINT) * (t.n - 1) - x.tie_x2
        |                  AS ax2,
        |                CAST(t.n AS HUGEINT) * (t.n - 1) - y.tie_y2
        |                  AS ay2
        |         FROM tt46 t
        |         JOIN tx46 x ON t.category = x.category
        |         JOIN ty46 y ON t.category = y.category
        |         JOIN cd46 c ON t.category = c.category)""".stripMargin,
      """SELECT category, n, CAST(conc AS BIGINT) AS conc,
        |       CAST(disc AS BIGINT) AS disc,
        |       CASE WHEN ax2 > 0 AND ay2 > 0
        |            THEN 2.0 * CAST(conc - disc AS DOUBLE)
        |                 / sqrt(CAST(ax2 AS DOUBLE) * CAST(ay2 AS DOUBLE))
        |            ELSE 0.0 END AS tau_b
        |FROM fn46 ORDER BY category""".stripMargin))),
    // — Cliff's delta effect size (a47): the MAGNITUDE companion to
    //   a32's significance z — at 10⁸ events everything is
    //   "significant" and the decision-relevant number is the effect
    //   size. δ = P(X>Y) − P(X<Y) reads directly off a32's exact
    //   doubled statistic: 2U = 2·#(x>y) + #(x=y), so
    //   2U − n₁n₂ = #(x>y) − #(x<y) — the exact integer win–loss
    //   margin (ties cancel), and δ = margin/(n₁n₂). Zero new corpus
    //   work: the whole query is a projection over mannWhitneyOf's
    //   value-grain machinery (same one shuffle + bounded window). δ
    //   itself is ONE pinned division of exact decimals (the a25
    //   funnel); the |δ| effect CLASS (Romano et al. 2006 thresholds
    //   .147/.33/.474) is decided by INTEGER cross-multiplication —
    //   1000·|margin| vs k·n₁n₂ — so the labels can never disagree
    //   with the doubles across engines. Empty-base pairs pin δ = 0
    //   ('negligible') by the c29/a45 zero-denominator convention. —
    // a47 oracle: a32's exact rank chain verbatim, then the same
    // margin/delta/effect projection — δ as one HUGEINT→DOUBLE
    // division, effect class by integer cross-multiplication
    Query("a47_cliffs_delta", ((s, dir) => {
      cliffsDeltaOf(eventCents(s, dir, "cents"))
    }), Some(Oracle.sqlWith(
      rankSumCtes("47") + """
        |         FROM cb47 GROUP BY event_type),
        |st47 AS (SELECT event_type, n1, n2,
        |                (two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1))
        |                  - CAST(n1 AS HUGEINT) * n2 AS marg,
        |                CAST(n1 AS HUGEINT) * n2 AS prod
        |         FROM ag47)""".stripMargin,
      """SELECT event_type, n1, n2,
        |       CAST(marg AS BIGINT) AS margin,
        |       CASE WHEN prod > 0
        |            THEN CAST(marg AS DOUBLE) / CAST(prod AS DOUBLE)
        |            ELSE 0.0 END AS delta,
        |       CASE WHEN prod <= 0 OR ABS(marg) * 1000 < prod * 147
        |              THEN 'negligible'
        |            WHEN ABS(marg) * 1000 < prod * 330 THEN 'small'
        |            WHEN ABS(marg) * 1000 < prod * 474 THEN 'medium'
        |            ELSE 'large' END AS effect
        |FROM st47 ORDER BY event_type""".stripMargin))),
    // — bootstrap CI for the difference of means (a48): the readout an
    //   experiment actually ships — "is event type X worth more than
    //   the 'view' baseline, with uncertainty" — a33's question
    //   answered WITHOUT the normality assumption and WITHOUT new
    //   randomness: a31's RNG-free Poisson device (Chamandy et al.
    //   2012) lifted to per-rep mean DIFFERENCES. Each row's replicate
    //   weight is the same pinned md5 draw; same-rep means subtract as
    //   exact longs (the paired-replicate trick that cancels shared
    //   sampling noise); the 95% CI is the same pinned order-statistic
    //   rank device. One corpus-sized branch total (the ×B explode
    //   partial-aggs map-side to |types|·B rows); everything after is
    //   B-bounded. excludes_zero is the integer-exact decision bit. —
    // a48 oracle: a31's replicate chain over events, then same-rep
    // diffs (inner join drops zero-side reps identically), the same
    // pinned CI ranks, the one-row base-mean cross
    Query("a48_bootstrap_diff", ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      bootstrapDiffOf(Tables.events(s, dir)
        .select(col("event_type"),
          (col("value").cast(dec) * 100).cast("long").as("cents"),
          col("event_id").cast("string").as("rk")))
    }), Some(Oracle.sqlWith(
      s"""bs48 AS (SELECT event_type,
         |                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
         |                  AS cents,
         |                CAST(event_id AS VARCHAR) AS rk
         |         FROM events),
         |full48 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |                  CAST((1000000 * SUM(CAST(cents AS HUGEINT)))
         |                       // COUNT(*) AS BIGINT) AS mean_e6
         |           FROM bs48 GROUP BY event_type),
         |draws48 AS (SELECT event_type, cents, rep,
         |                   CAST(('0x' || substring(md5(rk || ':' || rep), 1, 15))
         |                        AS BIGINT) AS u
         |            FROM bs48, (SELECT unnest(range(${BootB})) AS rep)),
         |wts48 AS (SELECT event_type, rep, cents,
         |                 ${PoissonCdf60.map(t =>
                             s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
                             .mkString(" + ")} AS w
         |          FROM draws48),
         |rm48 AS (SELECT event_type, rep,
         |                CAST((1000000 * SUM(CAST(w AS HUGEINT) * CAST(cents AS HUGEINT)))
         |                     // SUM(CAST(w AS HUGEINT)) AS BIGINT) AS rep_mean_e6
         |         FROM wts48 GROUP BY event_type, rep HAVING SUM(w) > 0),
         |bm48 AS (SELECT rep, rep_mean_e6 AS base_rep_mean FROM rm48
         |         WHERE event_type = 'view'),
         |df48 AS (SELECT r.event_type, r.rep,
         |                r.rep_mean_e6 - b.base_rep_mean AS d_e6
         |         FROM rm48 r JOIN bm48 b ON r.rep = b.rep
         |         WHERE r.event_type <> 'view'),
         |rk48 AS (SELECT event_type, rep, d_e6,
         |                ROW_NUMBER() OVER (PARTITION BY event_type
         |                  ORDER BY d_e6, rep) AS rn,
         |                COUNT(*) OVER (PARTITION BY event_type) AS b
         |         FROM df48),
         |ci48 AS (SELECT event_type, CAST(MAX(b) AS BIGINT) AS b_reps,
         |                MIN(CASE WHEN rn = (5 * b + 199) // 200
         |                         THEN d_e6 END) AS ci_lo_e6,
         |                MIN(CASE WHEN rn = (195 * b + 199) // 200
         |                         THEN d_e6 END) AS ci_hi_e6
         |         FROM rk48 GROUP BY event_type),
         |bf48 AS (SELECT mean_e6 AS base_mean_e6 FROM full48
         |         WHERE event_type = 'view')""".stripMargin,
      """SELECT f.event_type, f.n_rows, f.mean_e6, b.base_mean_e6,
        |       f.mean_e6 - b.base_mean_e6 AS diff_e6,
        |       c.b_reps, c.ci_lo_e6, c.ci_hi_e6,
        |       (c.ci_lo_e6 > 0 OR c.ci_hi_e6 < 0) AS excludes_zero
        |FROM full48 f
        |CROSS JOIN bf48 b
        |JOIN ci48 c ON f.event_type = c.event_type
        |WHERE f.event_type <> 'view'
        |ORDER BY f.event_type""".stripMargin))))
}
