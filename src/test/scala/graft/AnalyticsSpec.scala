package graft

import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Tables}
import graft.ext.{IVFIndex, Similarity, Stats}
import graft.queries.{A1to24Queries, Common}

class AnalyticsSpec extends SparkSpec {

  test("approx_count_distinct stays within 5% of exact per category") {
    // a7's only gate (no SQL oracle by nature — estimator internals are
    // engine-specific), so bound it at BOTH the correctness-gate scale and
    // the bench/sweep scale: HLL error grows with cardinality, sf0.001
    // alone would never exercise the estimator's high-count regime.
    // exact and approx computed in ONE aggregation pass so the cleanSales
    // pipeline (the dominant cost, especially at sf0.1) runs once per
    // scale, not twice — keeps the 3-scale bound affordable in the gate
    for (dir <- sweepDirs(sf, "/root/testdata/sf0.01")) {
      val cs = Pipelines.cleanSales(spark, dir)
      val both = cs.groupBy("category").agg(
          countDistinct("order_id").as("exact"),
          approx_count_distinct("order_id", 0.01).as("approx"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      both.foreach { case (cat, (n, approx)) =>
        assert(math.abs(approx - n) <= math.max(1, (n * 0.05).toLong),
          s"$dir category $cat: approx=$approx exact=$n")
      }
    }
  }

  test("a14 CMS heavy hitters: per-key bound vs exact and hot-key top-7, two scales") {
    // a14 is oracle-green since the PinnedCms swap, but it keeps the
    // a7/d5-style quantitative gate at both the correctness scale and
    // the bench/sweep scale: the Count-Min guarantee
    // est ∈ [exact, exact + ε·N] w.p. ≥ confidence, per reported key,
    // plus the construction fact that the 7 injected hot keys (~8× the
    // uniform tail even after maximal overestimate) must occupy the
    // top-7 slots exactly.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val keys = Tables.table(spark, dir, "lineitem")
        .select(A1to24Queries.skewedKey(col("l_partkey")).as("key"))
      val exact = keys.groupBy("key").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = exact.values.sum
      val got = SparkEntry.queries("a14_heavy_hitters_sketch")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 20)
      val slack = (graft.ext.PinnedCms.Eps * n).ceil.toLong
      got.foreach { case (k, est) =>
        val ex = exact(k)
        assert(est >= ex, s"$dir key $k: est $est below exact $ex — CMS can never underestimate")
        assert(est <= ex + slack, s"$dir key $k: est $est exceeds exact $ex + eps*N $slack")
      }
      assert(got.take(7).map(_._1).toSet == (0L until 7L).toSet,
        s"$dir: injected hot keys not ranked top-7: ${got.take(7).toSeq}")
    }
  }

  test("w4b histogram ntile: row-equal to w4; no per-type sort of raw rows") {
    val dir = "/root/testdata/sf0.01"
    val a = SparkEntry.queries("w4_ntile")(spark, dir).collect()
    val b = SparkEntry.queries("w4b_ntile_histogram")(spark, dir).collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"w4/w4b row drift: $x vs $y")
    }
    // the scale property w4b exists for: every Window in its plan either
    // ranks the tiny (type, value) tie groups (>= 2 partition keys) or
    // prefix-sums the COMPACT histogram (its input subtree contains the
    // Aggregate) — never w4's single-key partition over raw event rows
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = SparkEntry.queries("w4b_ntile_histogram")(spark, dir)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: logical.Window => w }
    assert(wins.nonEmpty, "w4b lost its windows — plan shape changed")
    wins.foreach { w =>
      val overAgg =
        w.child.collectFirst { case ag: logical.Aggregate => ag }.isDefined
      assert(w.partitionSpec.size >= 2 || overAgg,
        s"w4b window over raw rows partitioned by ${w.partitionSpec} — " +
          "the w4 scale-killer shape crept back")
    }
  }

  test("w4c bucketed positions: bounded histogram on a continuous domain, bracket + width hold") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    // a fully CONTINUOUS synthetic value column (hash-derived, effectively
    // all-distinct) — the domain where w4b's raw-value histogram is
    // data-sized and its boundedness argument collapses
    val ev = graft.etl.Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        (hash(col("event_id")).cast("double") / lit(1e9)).as("value"))
    val B = 8
    val out = Stats.bucketedPositions(ev, B).collect()
    assert(out.length == ev.count())
    val nTypes = ev.select("event_type").distinct().count()
    val nVals = ev.select("value").distinct().count()
    assert(nVals > out.length * 9 / 10, s"fixture not continuous: $nVals distinct")
    // the histogram the prefix-sum runs over is bounded by |types|·B —
    // independent of the ~n distinct values
    val nCells = out.map(r => (r.getString(0), r.getLong(3))).distinct.length
    assert(nCells <= nTypes * B,
      s"histogram not bounded: $nCells cells > $nTypes types × $B buckets")
    // bracket: w4's exact window cume_dist lies in (cume_lo, cume_hi] for
    // EVERY row, and the width obeys the equi-depth guarantee (~1/B, with
    // percentile_disc's ±1-rank discretization slack)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val exact = ev.withColumn("cume", cume_dist().over(w))
      .select("event_type", "event_id", "cume").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val perTypeN = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    var maxWidth = 0.0
    out.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (lo, hi) = (r.getDouble(4), r.getDouble(5))
      val c = exact(key)
      assert(c > lo - 1e-12 && c <= hi + 1e-12,
        s"$key: exact cume $c outside ($lo, $hi]")
      maxWidth = math.max(maxWidth, hi - lo)
    }
    val minN = perTypeN.values.min
    assert(maxWidth <= 1.0 / B + 2.0 / minN,
      s"bucket width $maxWidth exceeds 1/$B + 2/$minN")
    // the property w4c exists for, stronger than w4b's: NO window over
    // data rows at all — every Window in the plan prefix-sums the compact
    // histogram (its input subtree contains the Aggregate)
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = Stats.bucketedPositions(ev, B)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case win: logical.Window => win }
    assert(wins.nonEmpty, "w4c lost its histogram windows — plan shape changed")
    wins.foreach { win =>
      val overAgg =
        win.child.collectFirst { case ag: logical.Aggregate => ag }.isDefined
      assert(overAgg,
        s"w4c window over raw data rows (partition ${win.partitionSpec}) — " +
          "the scale-killer shape w4c exists to eliminate")
    }
  }

  test("a14 local top-m candidates: same top-20 as the distinct form; no global distinct") {
    import graft.ext.PinnedCms
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      // the pre-r10 candidate generation: a full distinct over every key —
      // the superset argument (ranking is a pure function of the key) says
      // the local-top-m form must produce the identical top-20
      val keys = Tables.table(spark, dir, "lineitem")
        .select(A1to24Queries.skewedKey(col("l_partkey")).as("key"))
      val old = PinnedCms.estimateAll(keys.distinct(),
          PinnedCms.counters(keys))
        .orderBy(col("est_n").desc, col("key")).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = SparkEntry.queries("a14_heavy_hitters_sketch")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == old, s"$dir: local-top-m top-20 drifted from the " +
        s"distinct-based form\nold: $old\ngot: $got")
      // the JVM heap ranking must agree with the in-plan md5 expressions
      // cell-for-cell, or the superset argument silently breaks
      val md = java.security.MessageDigest.getInstance("MD5")
      val flat = PinnedCms.flatten(PinnedCms.counters(keys).collect())
      old.foreach { case (k, est) =>
        assert(PinnedCms.estJvm(md, flat, k) == est,
          s"$dir key $k: JVM est ${PinnedCms.estJvm(md, flat, k)} != plan est $est")
      }
    }
    // plan shape: every Aggregate must either consume the MapPartitions
    // candidate stream (candidate dedup + final probe) or be the bounded
    // counter build whose (d, cell) grain is sized by the sketch
    // geometry, never the key domain — a global key distinct over the
    // raw scan is exactly what this form exists to eliminate
    import org.apache.spark.sql.catalyst.plans.logical
    val plan = SparkEntry.queries("a14_heavy_hitters_sketch")(
      spark, "/root/testdata/sf0.01").queryExecution.optimizedPlan
    val aggs = plan.collect { case ag: logical.Aggregate => ag }
    assert(aggs.nonEmpty)
    aggs.foreach { ag =>
      val overCand =
        ag.collectFirst { case mp: logical.MapPartitions => mp }.isDefined
      val ctrGrain = ag.groupingExpressions.size == 2 &&
        ag.groupingExpressions.forall(_.references.forall(a =>
          a.name == "d" || a.name == "cell"))
      assert(overCand || ctrGrain,
        s"an Aggregate over the raw key scan crept back into a14 " +
          s"(grouping ${ag.groupingExpressions}) — the global-distinct shape")
    }
  }

  test("a15b decimal moments: equal to a15 at gate scale; long path provably wraps") {
    val a = SparkEntry.queries("a15_group_stats")(spark, sf).collect()
    val b = SparkEntry.queries("a15b_group_stats_decimal")(spark, sf).collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) =>
      assert(x == y, s"a15/a15b row drift at gate scale: $x vs $y")
    }
    // synthetic large cents where ONE product x·x already exceeds 2^63:
    // the long path wraps silently; the decimal path must match exact
    // BigInt arithmetic. Values a, a+100, a+200 cents → var_samp is
    // exactly 1.0 dollar².
    val sess = spark
    import sess.implicits._
    val xs = Seq(3100000000L, 3100000100L, 3100000200L)
    val ev = xs.map(("t", _)).toDF("event_type", "x")
    val dec = Stats.decimalMoments(ev).collect().head
    val sx = xs.map(BigInt(_)).sum
    val sxx = xs.map(x => BigInt(x) * BigInt(x)).sum
    val varTrue = (BigDecimal(BigInt(3) * sxx - sx * sx)
      / BigDecimal(6) / BigDecimal(10000)).toDouble
    assert(varTrue == 1.0, s"fixture arithmetic check: $varTrue")
    assert(math.abs(dec.getDouble(3) - varTrue) < 1e-9,
      s"decimal var ${dec.getDouble(3)} != exact $varTrue")
    assert(math.abs(dec.getDouble(4) - 1.0) < 1e-9, "stddev")
    // and the long path provably BREAKS on the same input — under ANSI
    // (Spark 4's default) x·x > 2^63 kills the whole job with an
    // arithmetic overflow (non-ANSI would silently wrap) — proving a15b
    // is load-bearing, not a stylistic twin
    val e = intercept[Throwable] {
      Stats.longMoments(ev).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected long-path arithmetic overflow, got: $e")
  }

  test("a20 two-pass exact median equals a8's percentile_disc p50") {
    // the bounded-state form must reproduce the buffer-everything form's
    // answer bit-for-bit (both return an actual data value)
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val a8 = SparkEntry.queries("a8_percentiles")(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val a20 = SparkEntry.queries("a20_exact_median")(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(a20 == a8, s"$dir: two-pass median drifted from percentile_disc")
    }
  }

  test("IVF probe returns exact cosines and recalls well vs brute force") {
    val emb = Tables.table(spark, sf, "embeddings")
    val brute = Similarity.bruteForceTopK(emb, 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idx = IVFIndex.build(emb, nLists = 16)
    val got = IVFIndex.probe(idx, 0L, k = 10, nProbe = 4).collect()
    assert(got.length == 10)
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - brute(r.getLong(0))) < 1e-12)
    }
    // nProbe=4/16 cells should surface a decent share of the true top-20
    val trueTop20 = brute.toSeq.sortBy(-_._2).take(20).map(_._1).toSet
    val hit = got.map(_.getLong(0)).count(trueTop20)
    assert(hit >= 2, s"IVF recall vs top-20: $hit/10")
  }

  test("IVF nLists sizing: constant-occupancy rule, gate scale resolves " +
      "to the historical 16") {
    // the executable form of the 16·k-lists-for-a-×k-corpus rule: cells hold ~32
    // vectors regardless of corpus size, so nLists grows ∝ corpus
    assert(IVFIndex.defaultNLists(500L) == 16)
    assert(IVFIndex.defaultNLists(5000L) == 157) // ×10 corpus ≈ ×10 lists
    assert(IVFIndex.defaultNLists(1L) == 2) // k-means floor
    assert(IVFIndex.defaultNLists(Long.MaxValue / 2) == 65536) // broadcast cap
    // s4 builds with the derived default — identical to the historical
    // explicit 16 at the gate corpus (500 embeddings at sf0.01/sf0.001)
    val n = Tables.table(spark, sf, "embeddings").count()
    assert(IVFIndex.defaultNLists(n) == 16,
      s"gate corpus ($n rows) no longer resolves to 16 — s4's layout moved")
  }

  test("label centroids match locally computed means") {
    val rows: Seq[(Int, Seq[Double])] = Tables.table(spark, sf, "embeddings")
      .select("label", "embedding").collect().toSeq
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble))
    val expected = rows.groupBy(_._1).map { case (l, vs) =>
      l -> vs.map(_._2).transpose.map(xs => xs.sum / xs.length)
    }
    val got = SparkEntry.queries("v1_label_centroids")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    expected.foreach { case (l, c) =>
      c.zipWithIndex.foreach { case (b, pos) =>
        val a = got((l, pos.toLong))
        assert(math.abs(a - b) < 1e-9, s"label $l pos $pos centroid mismatch")
      }
    }
  }

  test("IVF assignment is deterministic across builds (seeded k-means)") {
    val emb = Tables.table(spark, sf, "embeddings")
    val a = IVFIndex.build(emb, nLists = 8).assigned
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = IVFIndex.build(emb, nLists = 8).assigned
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("a15 exact-cents moments agree with float var_samp; headroom holds") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("a15_group_stats")(spark, sf).collect()
    // the integer-identity variance must agree with Spark's own float
    // var_samp to float tolerance (semantic check — the EXACTNESS check
    // is the cross-engine oracle hash)
    val ref = graft.etl.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(avg("value").as("m"), var_samp("value").as("v"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    rows.foreach { r =>
      val (t, mean, v, sd) = (r.getString(0), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))
      assert(math.abs(mean - ref(t)._1) < 1e-6, s"$t mean drift")
      assert(math.abs(v - ref(t)._2) / ref(t)._2 < 1e-6, s"$t var drift")
      assert(math.abs(sd - math.sqrt(v)) == 0.0, s"$t stddev != sqrt(var)")
    }
    // documented overflow headroom (n·Σx² < 2^63) must hold with ×8
    // margin at the sweep scale, or the long path needs the decimal flip
    val hw = graft.etl.Tables.events(spark, "/root/testdata/sf0.1")
      .select((col("value").cast(graft.etl.Tables.Money) * 100)
        .cast("long").as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x") * col("x")).as("sxx"))
      .head()
    val prod = BigInt(hw.getLong(0)) * BigInt(hw.getLong(1))
    assert(prod * 8 < BigInt(Long.MaxValue),
      s"a15 long headroom too tight at sf0.1: n*sxx = $prod")
  }

  test("a8b approx percentiles: GK rank-error bound vs exact order stats") {
    // rows-only entry (GK compaction is engine state) → quantitative gate
    // at the correctness scale AND the sweep scale, like a7/a14/d5/d8.
    // Bound: the returned value must be an actual data value whose rank
    // sits within n/accuracy (+1 for boundary) of the requested rank.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("a8b_approx_percentiles")(spark, dir)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2))).toMap
      val byType = graft.etl.Tables.events(spark, dir)
        .select("event_type", "value").collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getDouble(1)).sorted).toMap
      assert(got.keySet == byType.keySet)
      for ((t, (p50, p90)) <- got; (q, v) <- Seq(0.5 -> p50, 0.9 -> p90)) {
        val xs = byType(t)
        val n = xs.length
        val slack = n / A1to24Queries.PctAccuracy + 1
        val lo = math.max(0, math.ceil(q * n).toInt - 1 - slack)
        val hi = math.min(n - 1, math.ceil(q * n).toInt - 1 + slack)
        assert(xs.indexOf(v) >= 0, s"$dir $t q=$q: $v is not a data value")
        assert(v >= xs(lo) && v <= xs(hi),
          s"$dir $t q=$q: $v outside rank window [${xs(lo)}, ${xs(hi)}]")
      }
    }
  }

  test("c16 weights: exact shares sum to 1; weighted tokens hit the target cap") {
    val rows = SparkEntry.queries("c16_mixing_weights")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val total = rows.map(_._3).sum
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12, "shares must sum to 1")
    val target = total.toDouble / rows.length.toDouble
    rows.foreach { case (lang, _, toks, share, w) =>
      assert(w > 0.0 && w <= 1.0, s"$lang weight $w out of range")
      if (toks <= target)
        assert(w == 1.0, s"$lang under target must keep everything")
      else
        assert(math.abs(toks * w - target) / target < 1e-9,
          s"$lang downweighted tokens ${toks * w} miss target $target")
    }
    assert(rows.exists(_._5 < 1.0) && rows.exists(_._5 == 1.0),
      "fixture must exercise both the capped and downweighted branches")
  }

  test("a19 HLL sketches: union of partials tracks one-pass; both ±5% of exact") {
    // what makes per-partition sketches a valid incremental DISTINCT
    // statistic: the union of the per-month sketches estimates the same
    // set as one sketch built over everything. NOT asserted as exact
    // equality — a unioned DataSketches HLL loses the HIP estimator and
    // falls back to the composite estimator (measured here: 1504 vs 1492
    // at sf0.01), so the pinned contract is both paths within ±5% of
    // exact countDistinct and within 2×RSE of each other, at the gate
    // scale and the sweep scale.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val keyed = Tables.table(spark, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_custkey"))
      val merged = keyed
        .groupBy("month")
        .agg(hll_sketch_agg(col("o_custkey"),
          lit(Stats.HllLgK)).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .head().getLong(0)
      val onePass = keyed
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"),
          lit(Stats.HllLgK))).as("est"))
        .head().getLong(0)
      val exact = keyed.select("o_custkey").distinct().count()
      // 2×RSE at lgK=12 ≈ 3.2% — the estimator-swap gap must stay inside
      // ordinary sketch error, or the merge is losing more than HIP
      assert(math.abs(merged - onePass) <= math.max(1, (exact * 0.032).toLong),
        s"$dir: union-of-partials $merged vs one-pass $onePass drifted past 2xRSE")
      assert(math.abs(merged - exact) <= math.max(1, (exact * 0.05).toLong),
        s"$dir: merged estimate $merged vs exact $exact")
      assert(math.abs(onePass - exact) <= math.max(1, (exact * 0.05).toLong),
        s"$dir: one-pass estimate $onePass vs exact $exact")
      // the library path (registry a19 moved to the oracle-exact KMV
      // form in r17; this keeps the HLL twin's per-month contract live)
      val lib = Stats.incrementalDistinctHll(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exactM = keyed.groupBy("month")
        .agg(countDistinct("o_custkey").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(lib.keySet == exactM.keySet, s"$dir: month spine mismatch")
      for ((m, est) <- lib)
        assert(math.abs(est - exactM(m)) <=
          math.max(1, (exactM(m) * 0.05).toLong),
          s"$dir month $m: HLL library estimate $est vs exact ${exactM(m)}")
    }
  }

  test("a19/a22 KMV registry forms: merged sketches equal the direct one-pass sketches") {
    // the merge-losslessness argument both r17 registry forms ride: the
    // k smallest distinct hashes of A∪B all live in top-k(A) ∪ top-k(B),
    // so (1) a19's standing+delta merge == the whole-month sketch and
    // (2) a22's 3-sketch union re-truncated == the 3-month-union sketch.
    // Replay both directly from the raw hash sets at gate scale.
    val dir = "/root/testdata/sf0.01"
    val k = 64
    val hashed = Tables.table(spark, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        graft.functions.KmvSketch.hash60(col("o_custkey")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def estOf(hs: Iterable[Long]): (Long, Double) = {
      val top = hs.toSeq.distinct.sorted.take(k)
      if (top.size < k) (top.size.toLong, top.size.toDouble)
      else (k.toLong, (k - 1).toDouble * graft.functions.KmvSketch.Domain /
        top.last.toDouble)
    }
    val byMonth = hashed.groupBy(_._1)
    val a19got = SparkEntry.queries("a19_incremental_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
    assert(a19got.nonEmpty)
    a19got.foreach { case (m, (nk, est)) =>
      val (wantN, wantE) = estOf(byMonth(m).map(_._2))
      assert(nk == wantN && est == wantE,
        s"a19 $m: ($nk, $est) vs direct one-pass ($wantN, $wantE)")
    }
    def idxOf(m: String) = m.take(4).toLong * 12 + m.drop(5).toLong
    val a22got = SparkEntry.queries("a22_sliding_distinct")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
    assert(a22got.nonEmpty)
    a22got.foreach { case (m, (nk, est)) =>
      val lo = idxOf(m) - 2
      val hs = byMonth.filter { case (mm, _) =>
        idxOf(mm) >= lo && idxOf(mm) <= idxOf(m) }.values.flatten.map(_._2)
      val (wantN, wantE) = estOf(hs)
      assert(nk == wantN && est == wantE,
        s"a22 $m: ($nk, $est) vs direct 3-month sketch ($wantN, $wantE)")
    }
  }

  test("a22 sliding distinct: windowed HLL union within ±5% of exact at both scales") {
    // the frame-merge property a22 rides: unioning the 3 monthly
    // sketches in a ROWS BETWEEN 2 PRECEDING frame estimates the same
    // set as an exact trailing-3-month COUNT DISTINCT. Exact reference
    // in ONE pass via the contribute-forward explode (an order in month
    // m is a member of the frames ending at m, m+1, m+2) — months past
    // the data's last month exist only in the reference and are
    // dropped by the join.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val got = Stats.slidingDistinctHll(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = Tables.table(spark, dir, "orders")
        .select(explode(array((0 to 2).map(k =>
            date_format(add_months(col("o_orderdate"), k), "yyyy-MM")): _*))
          .as("month"), col("o_custkey"))
        .groupBy("month")
        .agg(countDistinct("o_custkey").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty)
      for ((m, est) <- got) {
        val ex = exact(m)
        assert(math.abs(est - ex) <= math.max(1, (ex * 0.05).toLong),
          s"$dir month $m: windowed union estimate $est vs exact $ex")
      }
    }
  }

  test("a25 OLS: moment-form slope/intercept equals an exact BigInt replay") {
    val got = SparkEntry.queries("a25_group_ols")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // independent replay: exact BigInt moments over the collected daily
    // table, the same long->double funnel, plain Scala arithmetic
    val daily = Pipelines.cleanSales(spark, sf)
      .select(col("category"),
        datediff(col("order_date"), lit("1992-01-01")).cast("long").as("x"),
        (col("total_price").cast(Tables.Money) * 100).cast("long").as("c"))
      .groupBy("category", "x").agg(sum("c").as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && daily.nonEmpty)
    for ((cat, rows) <- daily.groupBy(_._1)) {
      val n = BigInt(rows.length)
      val sx = rows.map(r => BigInt(r._2)).sum
      val sy = rows.map(r => BigInt(r._3)).sum
      val sxy = rows.map(r => BigInt(r._2) * BigInt(r._3)).sum
      val sxx = rows.map(r => BigInt(r._2) * BigInt(r._2)).sum
      val slope = (n * sxy - sx * sy).toLong.toDouble /
        (n * sxx - sx * sx).toLong.toDouble
      val intercept =
        (sy.toLong.toDouble - slope * sx.toLong.toDouble) /
          n.toLong.toDouble / 100.0
      val (gn, gs, gi) = got(cat)
      assert(gn == rows.length, s"$cat day count")
      assert(gs == slope / 100.0, s"$cat slope $gs vs ${slope / 100.0}")
      assert(gi == intercept, s"$cat intercept $gi vs $intercept")
    }
    // the fit is non-degenerate: multiple days per category, and at
    // least one category has a visibly nonzero trend magnitude
    assert(got.values.forall(_._1 > 100))
  }

  test("a18 incremental merge equals one-pass rollup; cutoff month straddles") {
    val got = SparkEntry.queries("a18_incremental_rollup")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // the semantics a18 must reproduce, computed the direct way (one
    // groupBy over everything) with the same exact-cents device
    val direct = Tables.table(spark, sf, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        (col("o_totalprice").cast(Tables.Money) * 100).cast("long").as("x"))
      .groupBy("month")
      .agg(count(lit(1)).cast("long").as("n"), sum("x").cast("long").as("sx"))
      .select(col("month"), col("n"),
        (col("sx").cast("double") / lit(100.0)).as("total"))
      .orderBy("month")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == direct.toSeq)
    // the merge's key-collision path must actually run: the cutoff month
    // needs orders on BOTH sides of the mid-month split, or the union is
    // a disjoint concat and re-aggregation proves nothing
    val june = Tables.table(spark, sf, "orders")
      .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-06")
    val cutoff = lit("1997-06-15").cast("timestamp")
    assert(june.filter(col("o_orderdate") < cutoff).limit(1).count() == 1 &&
      june.filter(col("o_orderdate") >= cutoff).limit(1).count() == 1,
      "fixture orders must straddle the 1997-06-15 cutoff")
  }

  test("a27: gini replays in plain BigInt arithmetic per nation") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a27_gini")(spark, dir)
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.nonEmpty)
    // the closed form, straight off the raw tables in plain Scala
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val spend = Tables.table(spark, dir, "orders")
      .groupBy("o_custkey").agg(sum(cents).as("cents"))
    val cust = Tables.table(spark, dir, "customer")
      .join(Tables.table(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("nation"))
    val rows = spend.join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("nation"), col("cents"), col("c_custkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byNation = rows.groupBy(_._1)
    assert(got.keySet == byNation.keySet)
    for ((nation, rs) <- byNation) {
      val xs = rs.sortBy(t => (t._2, t._3)).map(t => BigInt(t._2))
      val n = xs.length
      val total = xs.sum
      val num = xs.zipWithIndex
        .map { case (x, i) => (BigInt(2) * (i + 1) - n - 1) * x }.sum
      val gini = (BigInt(1000000) * num) / (BigInt(n) * total)
      val (gn, gs, gg) = got(nation)
      assert(gn == n && BigInt(gs) == total && BigInt(gg) == gini,
        s"$nation: got ($gn,$gs,$gg) want ($n,$total,$gini)")
    }
    assert(got.values.exists(_._3 > 0), "all-zero ginis — degenerate fixture")
  }

  test("a28: bucketed Pareto cumsum equals the plain sorted replay; classes cover") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a28_pareto_abc")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.nonEmpty)
    // plain replay: part-grain rollup sorted (rev desc, id), running sum —
    // the textbook single-window statement the cutoff device reorganizes
    val rev = Pipelines.cleanSales(spark, dir)
      .groupBy("product_id")
      .agg(sum((col("total_price") * 100).cast("long")).as("rev_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, c) => (-c, id) }
    val total = rev.map(t => BigInt(t._2)).sum
    var cum = BigInt(0)
    val want = rev.map { case (id, c) =>
      cum += c
      val cls = if (cum * 100 <= total * 80) "A"
        else if (cum * 100 <= total * 95) "B" else "C"
      (id, c, cum.toLong, ((BigInt(1000000) * cum) / total).toLong, cls)
    }
    assert(got.toSeq == want.toSeq)
    assert(got.last._3 == total.toLong && got.last._4 == 1000000L)
    assert(Set("A", "B", "C").subsetOf(got.map(_._5).toSet),
      "fixture too uniform to exercise all three classes")
    // classes are monotone along the revenue-desc order
    val order = Map("A" -> 0, "B" -> 1, "C" -> 2)
    assert(got.map(t => order(t._5)).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("a30: two-pass weighted median equals the naive sorted replay") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a30_weighted_median")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val rows = Pipelines.cleanSales(spark, dir)
      .select(col("category"), col("unit_price"),
        col("quantity").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getDecimal(1), r.getLong(2)))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cat, rs) =>
      val byPrice = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      val target = (tot + 1) / 2
      var run = 0L
      val med = byPrice.collectFirst {
        case (p, w) if { run += w; run >= target } => p
      }.get
      // 2-decimal prices cast losslessly — the query now emits DOUBLE
      // (PlanSpec's no-DecimalType-output guard)
      (cat, tot, med.doubleValue)
    }
    assert(got.toSeq == want)
    // the defining property: at least half the weight sits at or below
    // the weighted median, and strictly less than half strictly below
    got.foreach { case (cat, tot, med) =>
      val rs = rows.filter(_._1 == cat)
      val below = rs.filter(_._2.doubleValue < med).map(_._3).sum
      val atOrBelow = rs.filter(_._2.doubleValue <= med).map(_._3).sum
      assert(2 * atOrBelow >= tot && 2 * below < tot + 1, cat)
    }
  }

  test("a29: leave-one-out encoding replays in BigInt; singletons are NULL") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a29_target_encode")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(got.nonEmpty)
    val rows = Pipelines.cleanSales(spark, dir)
      .select(col("order_id"), col("product_id"), col("category"),
        (col("total_price") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val agg = rows.groupBy(_._3).map { case (cat, rs) =>
      cat -> (rs.map(t => BigInt(t._4)).sum, rs.length)
    }
    val want = rows.map { case (o, p, cat, x) =>
      val (s, n) = agg(cat)
      val loo = if (n > 1) Some(((BigInt(1000000) * (s - x)) / (n - 1)).toLong)
        else None
      (o, p, cat, x, loo)
    }
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // the LOO estimate never equals the plain mean on non-degenerate rows:
    // spot-check the leakage correction actually moved at least one value
    val plain = rows.map { case (_, _, cat, _) =>
      val (s, n) = agg(cat); (BigInt(1000000) * s / n).toLong
    }
    assert(got.map(_._5).flatten.toSet != plain.toSet)
  }

  test("a31 Poisson bootstrap: pinned thresholds match the CDF; CI brackets; weights hit the pmf") {
    // the 12 threshold literals ARE the Poisson(1) inverse CDF — recompute
    // them from scratch so a typo'd literal can't silently skew every draw
    val e = math.exp(-1.0)
    var cdf = 0.0; var fact = 1.0
    val want = (0 until 12).map { k =>
      if (k > 0) fact *= k
      cdf += e / fact
      math.floor(cdf * math.pow(2.0, 60)).toLong
    }
    assert(Common.PoissonCdf60 == want)
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a31_poisson_bootstrap")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    got.foreach { case (cat, n, mean, b, lo, hi) =>
      assert(b == Common.BootB, cat)
      assert(lo <= hi, cat)
      // the interval must bracket the full-data point estimate (B = 64
      // replicates of a mean over hundreds of rows — a point estimate
      // outside its own 95% bootstrap interval would mean broken draws)
      assert(lo <= mean && mean <= hi, s"$cat: [$lo, $hi] misses $mean")
      // and must be a genuine interval, not a collapsed point
      assert(lo < hi, s"$cat: degenerate CI with n=$n rows")
    }
    // empirical weight distribution over the actual md5 draws: the four
    // head probabilities of Poisson(1) (.368/.368/.184/.061) within 2%
    // absolute — wrong threshold arithmetic (wrong hex width, wrong
    // comparison direction) lands far outside this
    val cs = Pipelines.cleanSales(spark, dir)
      .select(concat_ws(":", col("order_id"), col("product_id"),
        col("quantity"), col("unit_price").cast("string")).as("rk"))
    val ws = cs.select(explode(array((0 until 64).map(lit): _*)).as("rep"),
        col("rk"))
      .select(conv(substring(md5(concat_ws(":", col("rk"), col("rep"))),
        1, 15), 16, 10).cast("long").as("u"))
      .select(Common.PoissonCdf60.map(t =>
        when(col("u") >= lit(t), 1L).otherwise(lit(0L))).reduce(_ + _)
        .as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = ws.values.sum.toDouble
    Seq(0 -> e, 1 -> e, 2 -> e / 2, 3 -> e / 6).foreach { case (k, p) =>
      val emp = ws.getOrElse(k.toLong, 0L) / total
      assert(math.abs(emp - p) < 0.02, s"weight $k: empirical $emp vs $p")
    }
  }

  test("a48 bootstrap diff: exact Scala replay of draws, same-rep diffs, CI ranks") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a48_bootstrap_diff")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getBoolean(8))).toMap
    assert(got.nonEmpty && !got.contains("view"))
    // full replay off the raw events with the SAME pinned machinery
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val raw = Tables.events(spark, dir)
      .select(col("event_type"), (col("value").cast(dec) * 100)
        .cast("long").as("cents"), col("event_id").cast("string").as("rk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val mdt = java.security.MessageDigest.getInstance("MD5")
    def u60(s: String): Long = {
      val h = mdt.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(h, 16)
    }
    def w(u: Long): Long =
      Common.PoissonCdf60.count(u >= _).toLong
    val B = Common.BootB
    // per (type, rep) fixed-point means over the replayed draws
    val rm = raw.flatMap { case (t, c, rk) =>
      (0 until B).map(rep => ((t, rep), (w(u60(s"$rk:$rep")), c)))
    }.groupBy(_._1).flatMap { case ((t, rep), xs) =>
      val n = xs.map(_._2._1).sum
      if (n == 0) None else Some(((t, rep),
        (BigInt(1000000) * xs.map { case (_, (wi, c)) =>
          BigInt(wi) * c }.sum / n).toLong))
    }
    val fullMean = raw.groupBy(_._1).map { case (t, xs) =>
      t -> (BigInt(1000000) * xs.map(x => BigInt(x._2)).sum /
        xs.length).toLong
    }
    got.foreach { case (t, (n, mean, baseMean, diff, b, lo, hi, exz)) =>
      assert(n == raw.count(_._1 == t), t)
      assert(mean == fullMean(t) && baseMean == fullMean("view"), t)
      assert(diff == mean - baseMean, t)
      val diffs = (0 until B).flatMap { rep =>
        for (a <- rm.get((t, rep)); v <- rm.get(("view", rep)))
          yield (a - v, rep)
      }.sorted
      assert(b == diffs.length, s"$t: b $b vs ${diffs.length}")
      val loR = (5 * b + 199) / 200
      val hiR = (195 * b + 199) / 200
      assert(lo == diffs(loR.toInt - 1)._1, s"$t lo")
      assert(hi == diffs(hiR.toInt - 1)._1, s"$t hi")
      assert(lo <= hi && exz == (lo > 0 || hi < 0), t)
    }
  }

  test("w13 rolling median: plain per-customer frame replay, odd/even frames both exercised") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w13_rolling_median")(spark, dir)
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](4).longValue,
        r.getAs[Number](5).longValue, r.getDouble(6)))
    assert(got.nonEmpty)
    // replay: group by customer in the same total order, sliding 7-frame
    val key = Seq("order_date", "order_id", "line_id", "product_id",
      "quantity", "unit_price")
    val rows = Pipelines.cleanSales(spark, dir)
      .withColumn("cents", (col("total_price") * 100).cast("long"))
      .select(("customer_id" +: key :+ "cents").map(col): _*)
      .collect()
      .map(r => (r.getLong(0), (r.getDate(1).toString,
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue,
        r.getAs[Number](4).longValue, r.getAs[Number](5).longValue,
        BigDecimal(r.getDecimal(6))), r.getLong(7)))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (cust, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.zipWithIndex.map { case ((_, k, cents), i) =>
        val frame = sorted.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val n = frame.length
        val med = (frame((n + 1) / 2 - 1) + frame(n / 2)) / 2.0
        (cust, k._2, k._3, cents, n.toLong, med)
      }
    }
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).sorted.toSeq ==
      want.sorted.toSeq)
    // both parities must occur or the even-frame averaging is untested
    assert(got.exists(_._5 % 2 == 0) && got.exists(_._5 % 2 == 1))
  }

  test("a32 Mann–Whitney: value-grain rank pipeline equals the textbook replay") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a32_mann_whitney")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got.nonEmpty)
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val raw = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val base = raw.filter(_._1 == "view").map(_._2)
    got.foreach { case (t, (n1, n2, twoU, tieT, z)) =>
      val a = raw.filter(_._1 == t).map(_._2)
      assert(n1 == a.length && n2 == base.length, t)
      // textbook midranks over the combined sample
      val all = (a ++ base).sorted
      val rankOf = all.zipWithIndex.groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2 + 1).sum.toDouble / ps.length }
      val r1 = a.map(rankOf).sum
      val u1 = r1 - n1 * (n1 + 1) / 2.0
      assert(math.abs(2 * u1 - twoU) < 1e-6, s"$t: 2U $twoU vs ${2 * u1}")
      val ties = all.groupBy(identity).values.map(_.length.toLong)
        .map(c => c * c * c - c).sum
      assert(ties == tieT, t)
      val n = n1 + n2
      val sigma2 = n1.toDouble * n2 *
        ((n + 1) - ties.toDouble / (n.toDouble * (n - 1))) / 12.0
      val zWant = (u1 - n1.toDouble * n2 / 2.0) / math.sqrt(sigma2)
      assert(math.abs(z - zWant) < 1e-9, s"$t: z $z vs $zWant")
      // ranks of a two-sample split must be informative: |z| finite
      assert(!z.isNaN && !z.isInfinite, t)
    }
  }

  test("a32 output guard: tie_t past 2^63 raises loudly; the decimal core stays exact") {
    // synthetic cross of the BIGINT bound: one tie group of A = 2.2e6
    // rows makes tie_t ≥ A³ − A ≈ 1.07e19 > 2⁶³ ≈ 9.22e18. A second
    // value group keeps b1 > 0 so the z funnel stays well-defined
    // (under ANSI a fully-tied pair's 0/0 double division raises —
    // deliberate: a degenerate test frame should be loud too). The
    // grain table is 2 rows, so the 2.2M rows only flow through one
    // partial-agg count — the test is cheap.
    val bigA = 2200000L
    val ev = spark.range(bigA)
      .select(lit("t").as("event_type"), lit(500L).as("cents"))
      .unionAll(spark.range(10L)
        .select(lit("t").as("event_type"), lit(600L).as("cents")))
      .unionAll(spark.range(10L)
        .select(lit("view").as("event_type"), lit(600L).as("cents")))
    // the DECIMAL(38,0) core keeps full headroom: exact BigInt replay
    // of the doubled-midrank formulas over the 2-row value grain
    val grain = Seq((500L, bigA, 0L), (600L, 10L, 10L)) // (cents, n_t, n_b)
    val n1 = BigInt(grain.map(_._2).sum); val n2 = BigInt(grain.map(_._3).sum)
    var cum = BigInt(0); var twoR1 = BigInt(0); var tieT = BigInt(0)
    grain.sortBy(_._1).foreach { case (_, nt, nb) =>
      val cnt = BigInt(nt + nb)
      twoR1 += BigInt(nt) * (2 * cum + cnt + 1)
      tieT += cnt * cnt * cnt - cnt
      cum += cnt
    }
    val twoU = twoR1 - n1 * (n1 + 1)
    assert(tieT > BigInt(Long.MaxValue)) // the fixture DOES cross 2⁶³
    val core = Stats.mannWhitneyCore(ev).collect().head
    assert(BigInt(core.getDecimal(core.fieldIndex("tie_t")).toBigInteger) ==
      tieT)
    assert(BigInt(core.getDecimal(core.fieldIndex("two_u")).toBigInteger) ==
      twoU)
    assert(!core.getDouble(core.fieldIndex("z")).isNaN)
    // the registry output path raises — matching DuckDB, whose oracle
    // CAST(tie_t AS BIGINT) raises on the same bound (loud, not the
    // silent NULL of Spark's bare non-ANSI cast)
    val e = intercept[Exception] {
      Stats.mannWhitneyOf(ev).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exceeds BIGINT range")), e.toString)
  }

  test("a47 Cliff's delta: brute-force pair count replay; class thresholds exact") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a47_cliffs_delta")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getString(5))).toMap
    assert(got.nonEmpty)
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val raw = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val base = raw.filter(_._1 == "view").map(_._2)
    got.foreach { case (t, (n1, n2, margin, delta, effect)) =>
      val a = raw.filter(_._1 == t).map(_._2)
      assert(n1 == a.length && n2 == base.length, t)
      // margin = #(x>y) − #(x<y) over the full pair space, exactly
      var gt = 0L; var lt = 0L
      a.foreach(x => base.foreach(y => {
        if (x > y) gt += 1 else if (x < y) lt += 1
      }))
      assert(margin == gt - lt, s"$t: margin $margin vs ${gt - lt}")
      val prod = n1 * n2
      assert(math.abs(delta - (gt - lt).toDouble / prod) < 1e-15, t)
      val want =
        if (math.abs(margin) * 1000 < prod * 147L) "negligible"
        else if (math.abs(margin) * 1000 < prod * 330L) "small"
        else if (math.abs(margin) * 1000 < prod * 474L) "medium"
        else "large"
      assert(effect == want, s"$t: effect $effect vs $want")
      assert(delta >= -1.0 && delta <= 1.0, t)
    }
  }

  test("a33 Welch t: moments equal the textbook statistic; agrees with a32 on direction") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a33_welch_ttest")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(got.nonEmpty)
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val raw = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val base = raw.filter(_._1 == "view").map(_._2.toDouble)
    def meanVar(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      (m, xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1))
    }
    val (m2, v2) = meanVar(base)
    got.foreach { case (ty, (n1, n2, mean1, mean2, t, df)) =>
      val a = raw.filter(_._1 == ty).map(_._2.toDouble)
      assert(n1 == a.length && n2 == base.length, ty)
      val (m1, v1) = meanVar(a)
      assert(math.abs(mean1 - m1 / 100.0) < 1e-6, ty)
      assert(math.abs(mean2 - m2 / 100.0) < 1e-6, ty)
      val se2 = v1 / n1 + v2 / n2
      val tWant = (m1 - m2) / math.sqrt(se2)
      val dfWant = se2 * se2 /
        ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
      assert(math.abs(t - tWant) < 1e-6, s"$ty: t $t vs $tWant")
      assert(math.abs(df - dfWant) < 1e-3, s"$ty: df $df vs $dfWant")
      // Welch df must sit in (min(n)-1, n1+n2-2] — the statistic's range
      assert(df > math.min(n1, n2) - 1 && df <= n1 + n2 - 2, ty)
    }
    // parametric and rank tests must agree on the SIGN of the shift
    val z = SparkEntry.queries("a32_mann_whitney")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    got.foreach { case (ty, (_, _, _, _, t, _)) =>
      assert(t.sign == z(ty).sign || math.abs(t) < 0.5 ||
        math.abs(z(ty)) < 0.5, s"$ty: t=$t vs z=${z(ty)} disagree hard")
    }
  }

  test("w15 MASE: lag errors replay exactly; fixed-point ratio is the BigInt floor") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w15_mase")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val series = SparkEntry.queries("w14_cusum")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    got.foreach { case (nation, nS, errS, nN, errN, mase) =>
      val xs = series.filter(_._1 == nation).sortBy(_._2).map(_._3)
      val eS = xs.drop(12).zip(xs).map(p => math.abs(p._1 - p._2))
      val eN = xs.drop(1).zip(xs).map(p => math.abs(p._1 - p._2))
      assert(nS == eS.length && errS == eS.sum, nation)
      assert(nN == eN.length && errN == eN.sum, nation)
      assert(mase == (BigInt(1000000) * errS * nN /
        (BigInt(nS) * errN)).toLong, nation)
    }
    // seasonality must beat naive drift somewhere and lose somewhere —
    // otherwise the metric separates nothing on this data
    assert(got.exists(_._6 < 1000000L) && got.exists(_._6 > 1000000L))
  }

  test("a34 ANOVA: F replays the textbook partition; SSB+SSW = total SS") {
    val dir = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("a34_anova_f")(spark, dir).collect().head
    val (k, n, ssb, ssw, f) = (row.getLong(0), row.getLong(1),
      row.getDouble(2), row.getDouble(3), row.getDouble(4))
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val raw = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1).toDouble))
    assert(k == raw.map(_._1).distinct.length && n == raw.length)
    val grand = raw.map(_._2).sum / raw.length
    val groups = raw.groupBy(_._1).values.toSeq
    val ssbWant = groups.map(g => {
      val m = g.map(_._2).sum / g.length; g.length * (m - grand) * (m - grand)
    }).sum
    val sswWant = groups.map(g => {
      val m = g.map(_._2).sum / g.length
      g.map(t => (t._2 - m) * (t._2 - m)).sum
    }).sum
    assert(math.abs(ssb - ssbWant) / ssbWant < 1e-9, s"$ssb vs $ssbWant")
    assert(math.abs(ssw - sswWant) / sswWant < 1e-9, s"$ssw vs $sswWant")
    val fWant = (ssbWant / (k - 1)) / (sswWant / (n - k))
    assert(math.abs(f - fWant) / fWant < 1e-9)
    // the defining partition: between + within = total sum of squares
    val sst = raw.map(t => (t._2 - grand) * (t._2 - grand)).sum
    assert(math.abs((ssb + ssw) - sst) / sst < 1e-9)
  }

  test("w16 YoY: lag-12 replay; deltas signed both ways; growth is the exact ratio") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w16_yoy_growth")(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    assert(got.nonEmpty)
    val series = SparkEntry.queries("w14_cusum")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    got.foreach { case ((nation, month), (x, prev, delta, growth)) =>
      assert(x == series((nation, month)))
      val Array(y, m) = month.split("-").map(_.toInt)
      val prevMonth = f"${y - 1}%04d-$m%02d"
      assert(prev == series((nation, prevMonth)), s"$nation $month")
      assert(delta == x - prev)
      assert(growth == (x - prev).toDouble / prev.toDouble)
    }
    // a YoY metric that never goes negative isn't being tested
    assert(got.exists(_._2._3 < 0) && got.exists(_._2._3 > 0))
  }

  test("w14 CUSUM: window identity equals the max(0, ...) recurrence replay") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w14_cusum")(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4))))
    assert(got.nonEmpty)
    val byNation = got.groupBy(_._1._1)
    byNation.foreach { case (nation, rs) =>
      val seq = rs.sortBy(_._1._2)
      val xs = seq.map(_._2._1)
      val mu = xs.map(BigInt(_)).sum / xs.length
      val k = mu + mu / 20
      // the recurrence the window identity must reproduce
      var s = BigInt(0)
      seq.zip(xs).foreach { case (((_, month), (_, cusum, alarm)), x) =>
        s = (s + BigInt(x) - k).max(BigInt(0))
        assert(s == BigInt(cusum), s"$nation $month")
        assert(alarm == (s > mu / 2), s"$nation $month alarm")
      }
    }
    // the detector must actually fire somewhere and stay quiet somewhere
    assert(got.exists(_._2._3) && got.exists(!_._2._3))
  }

  test("a37 MAD outliers: census matches an in-memory replay of the rule") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("a37_mad_outliers")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent replay: sort-based medians + the fixed-point rule over
    // the same exact cents, computed OFF Spark (the oracle checks DuckDB;
    // this checks the rule's own semantics against a third implementation)
    val cents = Pipelines.cleanSales(spark, dir)
      .select(col("category"),
        (col("total_price").cast(Tables.Money) * 100).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (c, v) => c -> v.map(_._2).sorted }
    def discMedian(sorted: Array[Long]): Long =
      sorted((sorted.length + 1) / 2 - 1) // percentile_disc(0.5), 1-based
    rows.foreach { case (cat, (n, med, mad, out)) =>
      val xs = cents(cat)
      assert(n == xs.length, s"$cat n")
      assert(med == discMedian(xs), s"$cat med")
      val adev = xs.map(x => math.abs(x - med)).sorted
      assert(mad == discMedian(adev), s"$cat mad")
      val expectOut = adev.count(a => a * 10000L > mad * 44478L).toLong
      assert(out == expectOut, s"$cat outliers")
      // flagged share sane for a right-skewed money column: >0, <10%
      assert(out > 0 && out * 10 < n, s"$cat share: $out/$n")
    }
  }

  test("a38 Kendall tau: census matches an in-memory replay, τ ∈ [-1, 1]") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("a38_rank_stability")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val agg = Pipelines.cleanSales(spark, dir)
      .groupBy("category", "product_id")
      .agg(sum((col("total_price") * 100).cast("long")).as("rev"),
        sum(col("quantity").cast("long")).as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { case (cat, (nPairs, c, d, tau)) =>
      val head = agg(cat).sortBy(t => (-t._3, t._2)).take(100)
      val rq = head.sortBy(t => (-t._4, t._2)).zipWithIndex
        .map { case (t, i) => t._2 -> (i + 1) }.toMap
      val qRanks = head.map(t => rq(t._2)) // in revenue order
      var cc = 0L; var dd = 0L
      for (i <- qRanks.indices; j <- i + 1 until qRanks.length) {
        if (qRanks(i) < qRanks(j)) cc += 1 else if (qRanks(i) > qRanks(j)) dd += 1
      }
      assert(nPairs == qRanks.length.toLong * (qRanks.length - 1) / 2, s"$cat pairs")
      assert(c == cc && d == dd, s"$cat C/D: got ($c,$d) want ($cc,$dd)")
      assert(c + d == nPairs, s"$cat no rank ties possible under row_number")
      assert(tau >= -1.0 && tau <= 1.0, s"$cat tau range")
    }
    // the two signals genuinely differ somewhere (τ < 1) and genuinely
    // correlate somewhere (τ > 0) — otherwise the metric is vacuous
    assert(rows.values.exists(_._4 < 1.0) && rows.values.exists(_._4 > 0.0))
  }

  test("a39 KS: exact in-memory ECDF replay; D and the scaled statistic cohere") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("a39_ks_test")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.nonEmpty)
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = ev.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val base = byType("view")
    rows.foreach { case (t, (n1, n2, dE6, ks)) =>
      val xs = byType(t)
      assert(n1 == xs.length.toLong && n2 == base.length.toLong, s"$t sizes")
      var maxNum = BigInt(0)
      (xs ++ base).distinct.foreach { v =>
        val c1 = xs.count(_ <= v); val c2 = base.count(_ <= v)
        maxNum = maxNum.max((BigInt(c1) * n2 - BigInt(c2) * n1).abs)
      }
      assert(BigInt(dE6) == BigInt(1000000) * maxNum / (BigInt(n1) * n2),
        s"$t d_e6")
      // bit-equal: the replay runs the query's exact IEEE funnel
      val expKs = math.sqrt(n1.toDouble * n2.toDouble / (n1 + n2).toDouble) *
        (maxNum.toDouble / (n1.toDouble * n2.toDouble))
      assert(ks == expKs, s"$t ks: got $ks want $expKs")
      assert(dE6 >= 0L && dE6 <= 1000000L, s"$t D in [0,1]")
    }
    // distributions genuinely differ somewhere or the gate is vacuous
    assert(rows.values.exists(_._3 > 0L))
  }

  test("w17 ACF: exact cleared-denominator replay over the monthly spine") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("w17_acf")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val spine = Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.table(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast(Tables.Money) * 100)
        .cast("long")).as("x"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    spine.groupBy(_._1).foreach { case (nation, rows0) =>
      val series = rows0.map(t =>
        (t._2.substring(0, 4).toLong * 12 + t._2.substring(5, 7).toLong,
          t._3))
      val n = series.length
      val s = series.map(t => BigInt(t._2)).sum
      val dev = series.map { case (ym, x) => ym -> (BigInt(n) * x - s) }.toMap
      val den = dev.values.map(d => d * d).sum
      for (h <- 1 to 6) {
        val pairs = dev.toSeq.flatMap { case (ym, d) =>
          dev.get(ym - h).map(d * _) }
        if (den > 0) {
          val (gotNp, gotAcf) = got((nation, h.toLong))
          assert(gotNp == pairs.length.toLong, s"$nation lag $h pairs")
          val expAcf = pairs.sum.toDouble / den.toDouble
          assert(gotAcf == expAcf, s"$nation lag $h acf")
          // |Σ a·b over a pair subset| ≤ √(Σa²)·√(Σb²) ≤ den
          assert(gotAcf >= -1.0 && gotAcf <= 1.0, s"$nation lag $h range")
        }
      }
    }
  }

  test("a40 Benford: digit census replay; shares and deviations exact") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("a40_benford")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cents = Pipelines.cleanSales(spark, dir)
      .select((col("total_price") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).filter(_ > 0)
    val census = cents.map(c => c.toString.head.asDigit.toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    val n = cents.length.toLong
    assert(got.keySet == census.keySet)
    got.foreach { case (d, (nObs, shareE6, benfE6, devE6)) =>
      assert(nObs == census(d), s"digit $d count")
      assert(shareE6 == 1000000L * nObs / n, s"digit $d share")
      assert(benfE6 == Common.BenfordE9(d.toInt - 1) / 1000L,
        s"digit $d expectation")
      assert(devE6 == math.abs(shareE6 - benfE6), s"digit $d deviation")
    }
    // any spread-over-magnitudes money column puts digit 1 above digit 9
    assert(census(1L) > census(9L))
    // floor slack: shares sum to 1e6 minus at most one per digit
    val sumShares = got.values.map(_._2).sum
    assert(sumShares > 1000000L - 10 && sumShares <= 1000000L)
  }

  /** Shared by the w18/a41 replays: the nation- or category-month exact
    * cents spine as (key, ym, cents) triples.
    */
  private def nationSpine(dir: String): Map[String, Seq[(Long, Long)]] =
    Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.table(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast(Tables.Money) * 100)
        .cast("long")).as("x"))
      .collect().map(r => (r.getString(0),
        r.getString(1).substring(0, 4).toLong * 12 +
          r.getString(1).substring(5, 7).toLong, r.getLong(2)))
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }

  test("w18 Mann-Kendall: exact S/tie/variance replay; z and tau bit-equal") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("w18_mann_kendall")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    val spine = nationSpine(dir)
    // a key with <2 months yields no i<j pair on either engine — no
    // output row, by design. Assert against the ≥2-month subset so the
    // test is a statement about the QUERY (sparse keys pinned absent),
    // not about the fixture's density; the current fixture happens to
    // make the subset total, which the non-vacuity check below pins.
    val dense = spine.filter(_._2.size >= 2)
    assert(got.keySet == dense.keySet)
    dense.foreach { case (nation, series) =>
      val xs = series.map(_._2)
      val n = xs.length.toLong
      var s = 0L; var np = 0L
      for (i <- xs.indices; j <- i + 1 until xs.length) {
        np += 1
        s += java.lang.Long.signum(xs(j) - xs(i)).toLong
      }
      val tieT = xs.groupBy(identity).values
        .map { g => val t = g.length.toLong; t * (t - 1) * (2 * t + 5) }.sum
      val var18 = n * (n - 1) * (2 * n + 5) - tieT
      val (gN, gNp, gS, gVar, gTau, gZ) = got(nation)
      assert(gN == n && gNp == np && gS == s && gVar == var18, s"$nation ints")
      assert(gTau == s.toDouble / np.toDouble, s"$nation tau")
      val expZ =
        if (s > 0) (s - 1).toDouble / math.sqrt(var18.toDouble / 18.0)
        else if (s < 0) (s + 1).toDouble / math.sqrt(var18.toDouble / 18.0)
        else 0.0
      assert(gZ == expZ, s"$nation z")
      assert(gTau >= -1.0 && gTau <= 1.0 && var18 > 0, s"$nation ranges")
    }
    // a flat-revenue fixture would make every z ~ 0 and the test vacuous
    assert(got.values.exists(v => math.abs(v._6) > 0.0))
  }

  test("w19 seasonal: exact 13-tap trend replay; completeness gate drops edge months") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("w19_seasonal")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    val exp = collection.mutable.Map[(String, Long), (Long, Long)]()
    nationSpine(dir).foreach { case (nation, series) =>
      val m = series.toMap
      series.foreach { case (ym, x) =>
        val center = (-5 to 5).map(h => m.get(ym + h))
        if (center.forall(_.isDefined) &&
            m.contains(ym - 6) && m.contains(ym + 6)) {
          val s11 = center.flatten.sum
          val detr = 24L * x - (m(ym - 6) + 2L * s11 + m(ym + 6))
          val moy = ((ym - 1) % 12) + 1
          val (n0, d0) = exp.getOrElse((nation, moy), (0L, 0L))
          exp((nation, moy)) = (n0 + 1, d0 + detr)
        }
      }
    }
    // the replay DEFINES the output key set: a month with any missing
    // tap must be absent, a complete one present
    assert(got.keySet == exp.keySet)
    exp.foreach { case (k, (n, num)) =>
      val (gN, gNum, gSeas) = got(k)
      assert(gN == n && gNum == num, s"$k ints")
      assert(gSeas == num.toDouble / (n * 24L).toDouble, s"$k seasonal")
    }
    // seasonality is genuinely measured, not vacuously zero
    assert(got.values.exists(v => math.abs(v._3) > 0.0))
  }

  test("a44 runs test: median/tie-drop/runs replay; z bit-equal") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("a44_runs_test")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(got.nonEmpty)
    nationSpine(dir).foreach { case (nation, series) =>
      val xs = series.map(_._2)
      val med = xs.sorted.apply(((xs.length + 1) / 2) - 1)
      val signs = series.sortBy(_._1).map(_._2).filter(_ != med)
        .map(x => if (x > med) 1L else 0L)
      val n1 = signs.count(_ == 1L).toLong
      val n2 = signs.count(_ == 0L).toLong
      if (n1 > 0 && n2 > 0 && n1 + n2 > 2) {
        val runs = 1L + signs.sliding(2).count(p =>
          p.length == 2 && p(0) != p(1))
        val (gN1, gN2, gRuns, gExcess, gZ) = got(nation)
        assert(gN1 == n1 && gN2 == n2 && gRuns == runs, s"$nation ints")
        val mu = (n1 * n2 * 2L).toDouble / (n1 + n2).toDouble + 1.0
        val s2 = ((n1 * n2 * 2L).toDouble *
          (n1 * n2 * 2L - (n1 + n2)).toDouble) /
          (((n1 + n2) * (n1 + n2)).toDouble * (n1 + n2 - 1L).toDouble)
        assert(gExcess == runs.toDouble - mu, s"$nation excess")
        assert(gZ == (runs.toDouble - mu) / math.sqrt(s2), s"$nation z")
        // runs is structurally bounded by the sign multiset
        assert(runs >= 2 && runs <= 2 * math.min(n1, n2) + 1, s"$nation bounds")
      } else assert(!got.contains(nation), s"$nation degenerate filter")
    }
  }

  test("a41 Theil-Sen: lower-median slope/intercept replay, bounded by slope extremes") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("a41_theil_sen")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val monthly = Pipelines.cleanSales(spark, dir)
      .groupBy(col("category"), col("month"))
      .agg(sum((col("total_price") * 100).cast("long")).as("y"))
      .collect().map(r => (r.getString(0),
        r.getString(1).substring(0, 4).toLong * 12 +
          r.getString(1).substring(5, 7).toLong, r.getLong(2)))
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    // same density decoupling as the w18 replay: <2-month keys produce
    // no pair slope and no output row on either engine
    val dense = monthly.filter(_._2.size >= 2)
    assert(got.keySet == dense.keySet)
    def lowerMedian(v: Seq[Double]): Double =
      v.sorted.apply(((v.length + 1) / 2) - 1)
    dense.foreach { case (cat, series) =>
      val slopes = for {
        i <- series.indices; j <- i + 1 until series.length
      } yield (series(j)._2 - series(i)._2).toDouble /
        (series(j)._1 - series(i)._1).toDouble
      val slope = lowerMedian(slopes)
      val icpt = lowerMedian(series.map { case (ym, y) =>
        y.toDouble - slope * ym.toDouble })
      val (gM, gP, gSlope, gIcpt) = got(cat)
      assert(gM == series.length.toLong && gP == slopes.length.toLong,
        s"$cat counts")
      assert(gSlope == slope, s"$cat slope: got $gSlope want $slope")
      assert(gIcpt == icpt, s"$cat intercept")
      // the estimator is an order statistic of the pair slopes
      assert(gSlope >= slopes.min && gSlope <= slopes.max, s"$cat bounds")
    }
  }

  test("a45 Spearman: midrank moments replay exactly; rho bit-equal and bounded") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("a45_spearman")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.nonEmpty)
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val rows = Pipelines.cleanSales(spark, dir)
      .select(col("category"), col("quantity").cast("long"),
        (col("unit_price").cast(dec) * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(got.keySet == rows.keySet)
    // centered doubled midrank: 2·(count below) + (count equal) − n
    def ranks2(xs: Seq[Long]): Map[Long, Long] = {
      val n = xs.length.toLong
      val cnt = xs.groupBy(identity).map { case (v, g) => v -> g.length.toLong }
      cnt.map { case (v, c) =>
        v -> (2L * xs.count(_ < v) + c - n) }
    }
    rows.foreach { case (cat, rs) =>
      val (n, rho) = got(cat)
      assert(n == rs.length.toLong, cat)
      val rx = ranks2(rs.map(_._2).toSeq); val ry = ranks2(rs.map(_._3).toSeq)
      val u = rs.map(t => BigInt(rx(t._2))); val v = rs.map(t => BigInt(ry(t._3)))
      // centered midranks sum to zero EXACTLY — the property that makes
      // the n-multiplication (and its 2^63-crossing funnel) unnecessary
      assert(u.sum == BigInt(0), s"$cat centered rank-sum x")
      assert(v.sum == BigInt(0), s"$cat centered rank-sum y")
      val num = u.zip(v).map { case (a, b) => a * b }.sum
      val du = u.map(a => a * a).sum
      val dv = v.map(a => a * a).sum
      val want =
        if (du > 0 && dv > 0)
          num.toDouble / (math.sqrt(du.toDouble) * math.sqrt(dv.toDouble))
        else 0.0
      assert(rho == want, s"$cat: rho $rho vs $want")
      assert(rho >= -1.0 && rho <= 1.0, cat)
      // the funnel inputs genuinely sit in the exact-double window
      assert(du.abs < BigInt(2).pow(53) && dv.abs < BigInt(2).pow(53), cat)
    }
    // the statistic must be informative on the fixture, not all ~0
    assert(got.values.exists { case (_, r) => math.abs(r) > 0.01 })
  }

  test("a42/a43 contingency: full-grid replay; chi2 fold and V bit-equal") {
    val dir = "/root/testdata/sf0.01"
    val cells = SparkEntry.queries("a42_contingency")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    val obs = Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val segs = obs.keySet.map(_._1); val pris = obs.keySet.map(_._2)
    // the FULL domain grid, absent combos included at 0
    assert(cells.keySet == (for (s <- segs; p <- pris) yield (s, p)))
    val n = obs.values.sum
    val rowT = obs.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val colT = obs.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
    cells.foreach { case ((sg, pr), (o, r, c, nt, e, resid)) =>
      assert(o == obs.getOrElse((sg, pr), 0L), s"($sg,$pr) observed")
      assert(r == rowT(sg) && c == colT(pr) && nt == n, s"($sg,$pr) marginals")
      val expE = r.toDouble * c.toDouble / n.toDouble
      assert(e == expE, s"($sg,$pr) expected")
      assert(resid == (o.toDouble - expE) / math.sqrt(expE), s"($sg,$pr) resid")
    }
    // a43: fold the same terms in the same (segment, priority) order
    val row = SparkEntry.queries("a43_cramers_v")(spark, dir).head()
    val terms = cells.toSeq.sortBy(_._1).map { case (_, (o, _, _, _, e, _)) =>
      (o.toDouble - e) * (o.toDouble - e) / e }
    val chi2 = terms.foldLeft(0.0)(_ + _)
    assert(row.getLong(0) == n &&
      row.getLong(1) == segs.size.toLong && row.getLong(2) == pris.size.toLong)
    assert(row.getDouble(3) == chi2, "chi2 fold")
    val v = math.sqrt(chi2 / (n.toDouble *
      math.min(segs.size - 1, pris.size - 1).toDouble))
    assert(row.getDouble(4) == v, "cramers v")
    assert(v >= 0.0 && v <= 1.0)
  }

  test("a46 kendall tau-b: brute-force O(n²) pair replay confirms the 2D ECDF spine") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("a46_kendall_tau")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    val rows = graft.etl.Pipelines.cleanSales(spark, dir)
      .selectExpr("category", "cast(quantity as long) AS x",
        "cast(cast(unit_price as decimal(12,2)) * 100 as long) AS y")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (cat, rs) =>
      val n = rs.length.toLong
      var c = BigInt(0); var d = BigInt(0)
      for (i <- rs.indices; j <- i + 1 until rs.length) {
        val s = (rs(i)._2 - rs(j)._2).sign * (rs(i)._3 - rs(j)._3).sign
        if (s > 0) c += 1 else if (s < 0) d += 1
      }
      val tx = rs.groupBy(_._2).values
        .map(g => BigInt(g.length) * (g.length - 1)).sum
      val ty = rs.groupBy(_._3).values
        .map(g => BigInt(g.length) * (g.length - 1)).sum
      val (gn, gc, gd, gt) = got(cat)
      assert(gn == n, s"$cat n")
      assert(BigInt(gc) == c && BigInt(gd) == d, s"$cat C/D replay")
      val ax = BigInt(n) * (n - 1) - tx
      val ay = BigInt(n) * (n - 1) - ty
      val tau = if (ax > 0 && ay > 0)
        2.0 * (c - d).toDouble / math.sqrt(ax.toDouble * ay.toDouble)
      else 0.0
      assert(math.abs(gt - tau) < 1e-12, s"$cat tau $gt vs $tau")
      assert(gt >= -1.0 - 1e-9 && gt <= 1.0 + 1e-9)
      // ties genuinely present (τ-b ≠ τ-a on this fixture)
      assert(tx > 0 || ty > 0, s"$cat: no ties — τ-b untested")
    }
    // non-degenerate: the association is not uniformly zero
    assert(got.values.exists(v => math.abs(v._4) > 1e-6))
  }

  test("a46 P-invariance: non-default bucket count P=128 is byte-equal to the P=64 floor") {
    // r16 ADVICE: the "output is P-invariant" claim was only exercised
    // at the floor (test configs keep shuffle partitions ≤ 64). Run the
    // SAME core at P=128 — twice the buckets, different bucket
    // boundaries — and demand exact equality: bucketing only
    // reorganizes the count (the a28-cutoff argument), so any
    // divergence is a boundary-sensitivity bug.
    val dir = "/root/testdata/sf0.001"
    val frame = graft.etl.Pipelines.cleanSales(spark, dir)
      .selectExpr("category", "cast(quantity as long) AS x",
        "cast(cast(unit_price as decimal(12,2)) * 100 as long) AS y")
    def run(p: Option[Int]) = Stats.kendallTauOf(frame, p)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val atFloor = run(None) // session shuffle partitions = 4 → floor 64
    val at128 = run(Some(128))
    assert(atFloor.nonEmpty && atFloor == at128,
      s"a46 output is P-sensitive:\nP=64:  $atFloor\nP=128: $at128")
  }

  test("loudLong boundary: -2^63 passes (legal BIGINT), +2^63 and -2^63-1 raise") {
    // r16 ADVICE: the old abs() guard raised on the single legal value
    // -2^63, which DuckDB's HUGEINT→BIGINT cast accepts — the bounds
    // must be asymmetric to match DuckDB's exact accept range.
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def narrowed(s: String): Long = spark.range(1)
      .select(Stats.loudLong(
        lit(new java.math.BigDecimal(s)).cast(d38), "t").as("v"))
      .head().getLong(0)
    assert(narrowed("-9223372036854775808") == Long.MinValue)
    assert(narrowed("9223372036854775807") == Long.MaxValue)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    for (bad <- Seq("9223372036854775808", "-9223372036854775809")) {
      val e = intercept[Exception] { narrowed(bad) }
      assert(msgs(e).exists(_.contains("exceeds BIGINT range")),
        s"$bad: ${e.toString.take(200)}")
    }
  }
}
