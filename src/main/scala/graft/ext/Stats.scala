package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables

/** Statistical operator cores the registry's a*, w* and b* queries build
  * on and the specs call directly: exact moments, bucketed positions,
  * Mann–Whitney and Kendall rank pipelines, loud long arithmetic, the HLL
  * library twins of a19/a22 and the Markov power iteration.
  */
object Stats {

  /** The b15 integer recurrence on a collected (from, to, p_e12) edge
    * list: self-loops injected for target-only states, then up to 20
    * rounds of v'_to = (Σ_from v_from·p_e12) div 10¹² on BigInt (floor
    * AFTER the sum, bit-identical to the oracle's HUGEINT CTE chain),
    * stopping early once v'==v exactly. Returns the final mass vector
    * (keyed by TARGET states — the oracle's round-k regroup keeps only
    * to_types) and the number of rounds actually executed, exposed so
    * the spec can pin convergence-before-20 as evidence rather than
    * prose.
    */
  private[graft] def markovStationaryIterate(
      edges: Seq[(String, String, Long)]): (Map[String, BigInt], Int) = {
    val E12 = BigInt(1000000000000L)
    if (edges.isEmpty) return (Map.empty, 0)
    val sinks = edges.map(_._2).toSet -- edges.map(_._1).toSet
    val trans = edges ++ sinks.toSeq.sorted.map(t => (t, t, E12.toLong))
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct
    var v: Map[String, BigInt] = states.map(_ -> E12).toMap
    var rounds = 0
    var stable = false
    while (rounds < 20 && !stable) {
      val acc = scala.collection.mutable.Map.empty[String, BigInt]
      trans.foreach { case (f, t, pe) =>
        v.get(f).foreach(m => acc(t) = acc.getOrElse(t, BigInt(0)) + m * pe)
      }
      val nv = acc.map { case (t, sm) => t -> sm / E12 }.toMap
      stable = nv == v
      v = nv
      rounds += 1
    }
    (v, rounds)
  }

  /** HLL precision (DataSketches lgK): 2^12 buckets ≈ 1.6% RSE,
    * 2 KB per sketch. Shared with the AnalyticsSpec merge/bound test.
    */
  val HllLgK = 12

  /** HLL library twin of the registry's a19 (which moved to the
    * oracle-exact pinned-KMV device in r17): per-month distinct-customer
    * estimate from mergeable HLL registers — fixed 2 KB state per month
    * at ANY cardinality (KMV's estimate quality degrades relatively as
    * D/k grows; HLL's RSE is cardinality-independent), the production
    * choice when months hold billions of keys. One estimator caveat,
    * measured and test-pinned: a UNIONED DataSketches sketch loses the
    * HIP estimator (falls back to composite), so merged-vs-one-pass
    * agree only within the RSE — AnalyticsSpec bounds both against
    * exact countDistinct (±5%) at two scales.
    */
  private[graft] def incrementalDistinctHll(s: SparkSession,
      dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_custkey"))
      .groupBy("month")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("o_custkey"), lit(HllLgK)))
        .as("n_customers_est"))
      .orderBy("month")

  /** HLL library twin of the registry's a22 (KMV since r17): trailing-
    * 3-calendar-month distinct via hll_union_agg over a RANGE frame on
    * the month index (year·12 + month). The RANGE frame, not ROWS: a
    * gap month is absent from the index range, so the frame never
    * silently pulls an older month's sketch in. The window input is the
    * |months|-row sketch table (w7's spine argument); each union merges
    * three ~2 KB sketches regardless of corpus size. Bounds-tested
    * (±5% of exact) at two scales in AnalyticsSpec.
    */
  private[graft] def slidingDistinctHll(s: SparkSession,
      dir: String): DataFrame = {
    val monthly = Tables.table(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("month_idx"),
        col("o_custkey"))
      .groupBy("month", "month_idx")
      .agg(hll_sketch_agg(col("o_custkey"), lit(HllLgK)).as("sk"))
    val w = Window.orderBy("month_idx").rangeBetween(-2, 0)
    monthly
      .select(col("month"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)).over(w))
          .as("n_customers_3mo"))
      .orderBy("month")
  }

  /** Per-type exact long sums of an (event_type, x) frame: the count
    * `n`, Σx `sx` and Σx² `sxx` (a15, a33, a34).
    */
  def longSums(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))

  /** a15's moments shape over exact integer cents — one partial-agg
    * shuffle building (n, Σx, Σx²), then the textbook identity
    * var = (n·Σx² − (Σx)²) / (n(n−1)) evaluated exactly and divided as
    * doubles in a pinned order. `ev` must carry (event_type, x: long
    * cents). The long path holds while n·Σx² < 2^63 (gate scales with ×8
    * margin, AnalyticsSpec); [[decimalMoments]] is the 100 TB twin. A
    * one-row group's variance and stddev are NULL (n(n−1) = 0, try_divide).
    */
  def longMoments(ev: DataFrame): DataFrame =
    longSums(ev)
      .select(col("event_type"), col("n"),
        (col("sx").cast("double") / col("n").cast("double") / lit(100.0))
          .as("mean"),
        (try_divide((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          col("n").cast("double") * (col("n") - 1).cast("double"))
          / lit(10000.0)).as("var_samp"),
        sqrt(try_divide((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          col("n").cast("double") * (col("n") - 1).cast("double"))
          / lit(10000.0)).as("stddev"))
      .orderBy("event_type")

  /** The overflow-safe twin (a15b): same partial-agg shape, sums carried
    * as DECIMAL(38,0) — exact to 10^38. The identity's largest term is
    * n·Σx² = n²·E[x²], so the exactness condition is n²·E[x²] < 10^38:
    * at n ~ 10^12 rows that allows E[x²] up to 10^14, i.e. |x| up to
    * ~10^7 cents ($100k order values — the a15 gate-scale magnitudes
    * with ample headroom). Larger cents values at that row count need
    * rescaled units or a split aggregation; DECIMAL(38) itself fails
    * loudly (ANSI overflow error), never silently. The long path
    * overflows 2^63 far earlier — under ANSI
    * (Spark 4's default) that kills the whole job with an arithmetic
    * overflow error; non-ANSI would silently wrap. Both failure modes
    * are proven load-bearing by a synthetic-large-cents test in
    * AnalyticsSpec (long path throws, this path matches BigInt exactly).
    * Decimal partials are associative like longs — any merge order
    * yields the identical sums. Cost: ~2× wider agg buffers and 128-bit
    * adds; same single shuffle.
    */
  def decimalMoments(ev: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val xd = col("x").cast(d38)
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(xd).as("sx"),
        sum(xd * xd).as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx").cast("double") / col("n").cast("double") / lit(100.0))
          .as("mean"),
        (try_divide((col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double"),
          col("n").cast("double") * (col("n") - 1).cast("double"))
          / lit(10000.0)).as("var_samp"),
        sqrt(try_divide((col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double"),
          col("n").cast("double") * (col("n") - 1).cast("double"))
          / lit(10000.0)).as("stddev"))
      .orderBy("event_type")
  }

  /** w4b's UNBOUNDED-DOMAIN composition (w4c) — the c10b cutoff argument,
    * shipped instead of documented. w4b's histogram is keyed on the raw
    * value, so on a CONTINUOUS domain the (type, value) histogram it
    * prefix-sums is as big as the data and the bound collapses. So bucket
    * first: phase 1 computes B-1 exact per-type equi-depth cutoffs
    * (percentile_disc — discrete order statistics, engine-exact; at larger
    * scale swap for approx_percentile and nothing downstream changes,
    * c10b's documented trade). Phase 2 assigns buckets BY COMPARISON
    * against the broadcast |types|·(B-1) cutoff table, at scan speed.
    * Phase 3 is w4b's prefix-sum over the (type, bucket) histogram —
    * bounded by |types|·B rows REGARDLESS of the value domain. The output
    * is each row's POSITION INTERVAL (cume_lo, cume_hi]: bucket assignment
    * is monotone in value, so a bucket's rows occupy exactly the global
    * rank range (cum_before, cum_before + n_at] and the true cume_dist
    * provably lies inside the interval (ties share a bucket, so the
    * bracket survives peer groups too). Interval width n_at/n ≈ 1/B under
    * equi-depth cutoffs — the bucket-width guarantee. Within-bucket rank
    * is exactly the information the approximation gives up, and that buys
    * the plan shape: NO per-row window AT ALL — the only sorts are inside
    * the tiny histogram — two scans plus broadcast joins, nothing
    * data-sized ever sorts or shuffles on a single-key partition.
    * AnalyticsSpec pins the bracket against w4's exact window form and the
    * width bound on a fully-continuous synthetic column; the driver oracle
    * hash-pins the whole pipeline (cutoffs, bucket rule, prefix arithmetic)
    * against DuckDB's identical SQL.
    */
  def bucketedPositions(ev: DataFrame, nBuckets: Int): DataFrame = {
    val fracs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val cutCols = fracs.zipWithIndex.map { case (f, i) =>
      expr(s"percentile_disc($f) WITHIN GROUP (ORDER BY value)").as(s"c$i")
    }
    val cuts = ev.groupBy("event_type").agg(cutCols.head, cutCols.tail: _*)
    val bucketCol = fracs.indices
      .map(i => when(col("value") > col(s"c$i"), 1L).otherwise(lit(0L)))
      .reduce(_ + _) + lit(1L)
    val b = ev.join(broadcast(cuts), "event_type")
      .select(col("event_type"), col("event_id"), col("value"),
        bucketCol.as("bucket"))
    val hw = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = b.groupBy("event_type", "bucket").agg(count(lit(1)).as("n_at"))
      .withColumn("cum_before", coalesce(sum("n_at").over(hw), lit(0L)))
      .withColumn("n",
        sum("n_at").over(Window.partitionBy("event_type")).cast("long"))
    b.join(broadcast(cum), Seq("event_type", "bucket"))
      .withColumn("cume_lo", col("cum_before") / col("n"))
      .withColumn("cume_hi", (col("cum_before") + col("n_at")) / col("n"))
      .select("event_type", "event_id", "value", "bucket", "cume_lo",
        "cume_hi")
      .orderBy("event_type", "event_id")
  }

  /** Loud long narrowing for exact DECIMAL(38,0) intermediates whose
    * OUTPUT column must be BIGINT (the driver-hasher convention — see
    * PlanSpec "no DecimalType output"): past ±2⁶³ Spark's non-ANSI
    * cast silently NULLs where DuckDB's HUGEINT→BIGINT cast raises.
    * This guard restores symmetry — BOTH engines now fail loudly at
    * the same bound instead of Spark shipping a silent null. The
    * `when` costs nothing: it runs on B-bounded output rows (|types|,
    * |categories|), never on corpus-sized frames.
    */
  private[graft] def loudLong(c: Column, name: String): Column = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // asymmetric bounds, NOT abs(): -2⁶³ is a legal BIGINT that DuckDB's
    // HUGEINT→BIGINT cast accepts — abs() would raise on Spark only
    // (r16 ADVICE; matters for a47's signed margin)
    when(c > lit(Long.MaxValue).cast(d38) ||
        c < lit(Long.MinValue).cast(d38),
        raise_error(concat(lit(s"graft: $name exceeds BIGINT range ("),
          c.cast("string"), lit(") — read the DECIMAL(38,0) core"))))
      .otherwise(c.cast("long"))
  }

  /** The value-grain frame a32 and a39 share: every non-`base` type ×
    * every distinct `cents` value of `ev`, with that type's count `n_t`
    * and the base's count `n_b` left-joined in (0 when absent), rows
    * where both are 0 dropped.
    */
  private[graft] def valueGrain(ev: DataFrame, base: String): DataFrame = {
    val grain = ev.groupBy("event_type", "cents")
      .agg(count(lit(1)).as("cnt1"))
    val baseG = grain.filter(col("event_type") === base)
      .select(col("cents"), col("cnt1").as("n_b"))
    val tst = grain.filter(col("event_type") =!= base)
      .select(col("event_type"), col("cents"), col("cnt1").as("n_t"))
    val vals = ev.select("cents").distinct()
    val types = tst.select("event_type").distinct()
    types.crossJoin(vals)
      .join(tst, Seq("event_type", "cents"), "left")
      .join(broadcast(baseG), Seq("cents"), "left")
      .select(col("event_type"), col("cents"),
        coalesce(col("n_t"), lit(0L)).as("n_t"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .filter(col("n_t") + col("n_b") > 0)
  }

  /** a32 core over an arbitrary (event_type, cents) frame, ranking each
    * non-base type against `base`, with the exact quadratic/cubic rank
    * statistics (`two_u`, `tie_t`) left on DECIMAL(38,0) — full 10³⁸
    * headroom (n ≈ 4.6·10¹² rows per type-pair). Consumers needing the
    * full range (a47's margin/delta) read THIS frame; the registry
    * output narrows through [[loudLong]] in [[mannWhitneyOf]]. `z` is
    * NULL where its denominator is zero (one row in all, or no `base`
    * rows). See the a32 registry comment.
    */
  private[graft] def mannWhitneyCore(ev: DataFrame,
      base: String = "view"): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = valueGrain(ev, base)
      .withColumn("cnt", col("n_t") + col("n_b"))
      .withColumn("cum_before", coalesce(sum("cnt").over(w), lit(0L)))
    ranked.groupBy("event_type")
      .agg(sum("n_t").as("n1"), sum("n_b").as("n2"),
        sum(col("n_t").cast(d38) *
            (lit(2L) * col("cum_before") + col("cnt") + 1L))
          .as("two_r1"),
        sum(col("cnt").cast(d38) * col("cnt") * col("cnt") - col("cnt"))
          .as("tie_t"))
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("two_u",
        col("two_r1") - col("n1").cast(d38) * (col("n1") + 1L))
      .withColumn("num", col("two_u") - col("n1").cast(d38) * col("n2"))
      .withColumn("b1",
        (col("n").cast(d38) + 1L) * col("n") * (col("n") - 1L) -
          col("tie_t"))
      .withColumn("den", lit(3L) * col("n").cast(d38) * (col("n") - 1L))
      .select(col("event_type"), col("n1"), col("n2"),
        col("two_u"), col("tie_t"),
        try_divide(col("num").cast("double"),
          sqrt((col("n1").cast(d38) * col("n2")).cast("double") *
            try_divide(col("b1").cast("double"), col("den").cast("double"))))
          .as("z"))
      .orderBy("event_type")
  }

  /** a32 registry form: [[mannWhitneyCore]] with the output-path
    * narrowing to BIGINT done LOUDLY ([[loudLong]]) — past ~2.1·10⁶
    * rows per type-pair (tie_t ~ n³ > 2⁶³) this raises on Spark
    * exactly where the oracle's HUGEINT→BIGINT cast raises on DuckDB,
    * instead of the silent-null the r14 ADVICE flagged. The z column
    * is untouched (its funnel reads the decimals directly).
    */
  private[graft] def mannWhitneyOf(ev: DataFrame,
      base: String = "view"): DataFrame =
    mannWhitneyCore(ev, base)
      .select(col("event_type"), col("n1"), col("n2"),
        loudLong(col("two_u"), "a32 two_u").as("two_u"),
        loudLong(col("tie_t"), "a32 tie_t").as("tie_t"),
        col("z"))
      .orderBy("event_type")

  /** a46 core over an arbitrary (category, x, y) frame — Kendall τ-b
    * with NO pair space at all. History: the first cut crossed the
    * joint grain G×G per category — quadratic the moment ONE variable
    * is continuous (price cents at sf0.1 made the cross ~10¹⁰ rows;
    * caught by the r15 sf0.1 sweep). The second cut (the a39 ECDF
    * device lifted to 2D) was exact and linear but paid two window
    * sorts over the dense |Dx|·|Dy| spine — 27 M rows and 11–13 s at
    * sf0.1 under the honest v2 protocol, with |Dy| corpus-sized
    * because cents are nearly unique. This cut is Knight's O(n·|Dx|)
    * counting algorithm (Knight, JASA 1966), bucketed for
    * parallelism; x is the BOUNDED axis (quantity 1..50, asserted ≤64
    * below):
    *   1. bucket y by VALUE RANGE per category (equal y → same
    *      bucket, so y-ties never span buckets; b is monotone in y);
    *   2. within a (category, bucket): ONE narrow hash shuffle +
    *      local sort by y, then a sequential pass with a |Dx|-slot
    *      counting array — rows in an equal-y run are scored against
    *      the array (C += counts below their x, D += counts above)
    *      and only then folded in, so ties contribute to neither;
    *   3. across buckets: b₁<b₂ already implies y₁<y₂, so the cross
    *      term needs only per-bucket x-HISTOGRAMS — a dense
    *      (category × bucket × x-domain) grid of ≤ |cat|·P·|Dx| rows
    *      (~22 k here) with two tiny prefix windows, the 2D-ECDF
    *      device on the coarsened grid.
    * The sequential pass is the sanctioned a14-class mapPartitions
    * carve-out: an order-dependent prefix count over a bounded
    * alphabet that no Catalyst expression expresses without the
    * |Dx|× row or column blow-up this rewrite removes. At 100 TB the
    * shape holds: one narrow shuffle into |cat|·P buckets (P scales
    * with the cluster; per-bucket Long pair partials need n_bucket
    * < 4.3e9 — sizing P to executor-sized buckets keeps that by
    * orders of magnitude), a constant-size grid, and partial-agg tie
    * terms. Values are the same exact integers as the dense spine,
    * so the DuckDB oracle (which keeps the dense-spine formulation)
    * and the brute-force O(n²) spec replay pin the rewrite.
    */
  private[graft] def kendallTauOf(rows: DataFrame,
      pOverride: Option[Int] = None): DataFrame = {
    val sess = rows.sparkSession
    import sess.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // localCheckpoint FIRST: the narrow (category, x, y) spine feeds
    // six consumers (domain/bounds stats, sequential pass, histogram,
    // totals, both tie terms) — without it each consumer re-scans and
    // re-cleans the wide input (the b15/g10 multi-consumer-spine
    // lesson; measured 8 contended re-scans ≈ 3× the operator's
    // honest cost)
    val ck = rows.select("category", "x", "y").localCheckpoint()
    // ONE stats job: global x domain (bounded by contract — quantity
    // 1..50, asserted ≤64) + per-category y bounds; both are
    // sanctioned domain-bounded driver reads (the b15/pivot class)
    val stats = ck.groupBy("category")
      .agg(min("y").as("y_min"), max("y").as("y_max"),
        collect_set("x").as("xset"), count(lit(1)).as("n_cat"))
      .collect()
    val xs = stats.flatMap(_.getAs[scala.collection.Seq[Long]]("xset"))
      .distinct.sorted
    require(xs.length <= 64,
      s"a46 bounded-alphabet pass needs a bounded x domain, got ${xs.length}")
    val xIdx = xs.zipWithIndex.toMap
    val nx = xs.length
    // y-range buckets per category: scale with the session's shuffle
    // parallelism (the "P scales with the cluster" claim made
    // executable — r15 ADVICE), floored at 64 so the gate fixture keeps
    // its measured grid shape. The result is P-invariant (bucketing
    // only reorganizes the count — the a28-cutoff argument, pinned by
    // the brute-force spec replay), so raising P on a big cluster is
    // free parallelism, not a semantics knob.
    // pOverride exists for the P-invariance spec (r16 ADVICE: the claim
    // "output is P-invariant" was only ever exercised at the floor P=64
    // because test configs keep shuffle partitions ≤ 64) — production
    // callers leave it None and P tracks the session's parallelism
    val P = math.max(64,
      pOverride.getOrElse(sess.sessionState.conf.numShufflePartitions))
    // executable pin of the documented overflow bound: the worst-case
    // bucket (a fully y-skewed category collapses into ONE bucket)
    // holds n_cat rows, and the sequential pass's conc/disc Long
    // partials stay exact only while n_bucket < 2³² — past that, lift
    // the accumulators to BigInt (documented, not yet needed: 4.3e9
    // rows PER CATEGORY is ~300× the 100 TB fixture's largest)
    val maxCatN =
      if (stats.isEmpty) 0L else stats.map(_.getAs[Long]("n_cat")).max
    require(maxCatN < (1L << 32),
      s"a46 Long pair partials overflow past 2^32 rows per bucket " +
        s"(worst-case bucket = category size $maxCatN): lift conc/disc " +
        "accumulation to BigInt")
    // per-category y bounds as a LITERAL map expression — |categories|
    // entries, no broadcast-join subtree; with no categories the empty
    // `map()` is typed, or `bnd.hi` cannot resolve on its VOID values
    val bMap =
      if (stats.isEmpty) map().cast("map<string,struct<lo:bigint,hi:bigint>>")
      else map(stats.flatMap(r => Seq(lit(r.getString(0)),
        struct(lit(r.getLong(1)).as("lo"), lit(r.getLong(2)).as("hi")))): _*)
    // floor(frac·P) over doubles is monotone in y and maps equal y to
    // equal b; frac < 1 keeps b < P (least() guards the ~2⁵³ edge)
    val bucketed = ck
      .withColumn("bnd", element_at(bMap, col("category")))
      .select(col("category"), col("x"), col("y"),
        when(col("bnd.hi") === col("bnd.lo"), lit(0))
          .otherwise(least(lit(P - 1),
            floor((col("y") - col("bnd.lo")).cast("double") /
              (col("bnd.hi") - col("bnd.lo") + 1L).cast("double") * P)
              .cast("int")))
          .as("b"))
    val parted = bucketed
      .repartition(col("category"), col("b"))
      .sortWithinPartitions("category", "b", "y")
      .select(col("category"), col("b"), col("x"), col("y"))
      .as[(String, Int, Long, Long)]
    // Sequential pass also accumulates the y-tie term Σt(t−1): equal-y
    // runs are CONTIGUOUS in the sort and never span buckets (value-
    // range bucketing), so the per-group partials are exact — no
    // separate corpus-sized (category, y) aggregation needed.
    val within = parted.mapPartitions { it =>
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      val cnt = new Array[Long](nx)
      val runIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      var curCat: String = null
      var curB = -1
      var runY = 0L
      var conc = 0L
      var disc = 0L
      var tieY2 = 0L
      def flushRun(): Unit = {
        val t = runIdx.length.toLong
        tieY2 += t * (t - 1L)
        runIdx.foreach(cnt(_) += 1L); runIdx.clear()
      }
      def flushGroup(): Unit = if (curCat != null) {
        flushRun()
        if (conc != 0L || disc != 0L || tieY2 != 0L)
          out += ((curCat, conc, disc, tieY2))
        java.util.Arrays.fill(cnt, 0L); conc = 0L; disc = 0L; tieY2 = 0L
      }
      it.foreach { case (cat, b, x, y) =>
        if (cat != curCat || b != curB) {
          flushGroup(); curCat = cat; curB = b; runY = y
        }
        if (y != runY) { flushRun(); runY = y }
        val xi = xIdx(x)
        var j = 0
        while (j < xi) { conc += cnt(j); j += 1 }
        j = xi + 1
        while (j < nx) { disc += cnt(j); j += 1 }
        runIdx += xi
      }
      flushGroup()
      out.iterator
    }.toDF("category", "conc_w", "disc_w", "tiey_w")
    // cross-bucket: dense (bucket × x-domain) grid per category, the
    // 2D-ECDF prefix device on ≤ |cat|·P·|Dx| rows
    val hist = bucketed.groupBy("category", "b", "x")
      .agg(count(lit(1)).as("m"))
    val grid = hist.select("category", "b").distinct()
      .join(hist.select("category", "x").distinct(), Seq("category"))
      .join(hist, Seq("category", "b", "x"), "left")
      .withColumn("m", coalesce(col("m"), lit(0L)))
    val wb = Window.partitionBy("category", "x").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wx = Window.partitionBy("category", "b").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val acc = grid
      .withColumn("gcum", coalesce(sum("m").over(wb), lit(0L)))
      .withColumn("g_lt", coalesce(sum("gcum").over(wx), lit(0L)))
      .withColumn("g_tot",
        sum("gcum").over(Window.partitionBy("category", "b")))
      .withColumn("g_le", col("g_lt") + col("gcum"))
    val cross = acc.groupBy("category").agg(
      sum(col("m").cast(d38) * col("g_lt")).as("conc_x"),
      sum(col("m").cast(d38) * (col("g_tot") - col("g_le"))).as("disc_x"))
    val cd = within.groupBy("category")
      .agg(sum(col("conc_w").cast(d38)).as("conc_w"),
        sum(col("disc_w").cast(d38)).as("disc_w"),
        sum(col("tiey_w").cast(d38)).as("tie_y2"))
      .join(cross, Seq("category"), "full")
      .select(col("category"),
        (coalesce(col("conc_w"), lit(0L).cast(d38)) +
          coalesce(col("conc_x"), lit(0L).cast(d38))).as("conc"),
        (coalesce(col("disc_w"), lit(0L).cast(d38)) +
          coalesce(col("disc_x"), lit(0L).cast(d38))).as("disc"),
        coalesce(col("tie_y2"), lit(0L).cast(d38)).as("tie_y2"))
    // totals and the x-tie term come from the TINY histogram (t(x) =
    // Σ_b m spans buckets correctly), not another corpus scan
    val tot = hist.groupBy("category", "x")
      .agg(sum("m").as("t"))
      .groupBy("category")
      .agg(sum("t").as("n"),
        sum(col("t").cast(d38) * (col("t") - 1L)).as("tie_x2"))
    tot
      .join(cd, Seq("category"))
      .withColumn("ax", col("n").cast(d38) * (col("n") - 1L) -
        col("tie_x2"))
      .withColumn("by_", col("n").cast(d38) * (col("n") - 1L) -
        col("tie_y2"))
      .select(col("category"), col("n"),
        col("conc").cast("long").as("conc"),
        col("disc").cast("long").as("disc"),
        when(col("ax") > 0 && col("by_") > 0,
          lit(2.0) * (col("conc") - col("disc")).cast("double") /
            sqrt(col("ax").cast("double") * col("by_").cast("double")))
          .otherwise(lit(0.0)).as("tau_b"))
      .orderBy("category")
  }
}
