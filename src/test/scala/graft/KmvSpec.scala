package graft

import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.functions.{KmvAggregator, KmvSketch}

/** KMV sketch (a35/a36): the oracle replays the full pipeline exactly, so
  * these tests pin what the hash-compare can't see — the estimator's
  * statistical quality against EXACT distinct counts at two scales, the
  * exact branch below k, and merge-order insensitivity (the partial-agg
  * contract the oracle only exercises through one grouping shape).
  */
class KmvSpec extends SparkSpec {

  private val K = 64

  test("KMV below k is the exact sorted distinct hash set") {
    val sess = spark
    import sess.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), KmvSketch.hash60(col("user_id")).as("h"))
    val sk = ev.as[(String, Long)]
      .groupByKey(_._1)
      .agg(new KmvAggregator(K).toColumn.name("kmin"))
      .collect().toMap
    val exact = ev.distinct().collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getLong(1)).sorted.toSeq }
    // sf0.001 has ~15 distinct users — every sketch is in the exact branch
    exact.foreach { case (t, hs) =>
      assert(hs.size < K, s"fixture drift: $t has ${hs.size} >= $K hashes")
      assert(sk(t) == hs, s"$t: sketch != exact distinct sorted hashes")
    }
  }

  test("KMV merge is set-union + truncate: array device == direct sketch") {
    val sess = spark
    import sess.implicits._
    // a36's merge (array_union ∘ array_sort ∘ slice) over two per-type
    // sketches at sf0.01 (150 distinct users > k: both sketches full)
    // must equal the ONE sketch computed over the unioned rows — the
    // associativity/idempotence that makes map-side partials safe.
    val dir = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), KmvSketch.hash60(col("user_id")).as("h"))
    def sketch(types: String*): Map[String, Seq[Long]] =
      ev.filter(col("event_type").isin(types: _*))
        .withColumn("g", lit("all"))
        .select(col("g"), col("h"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .agg(new KmvAggregator(K).toColumn.name("kmin"))
        .collect().toMap
    val a = sketch("click")("all")
    val b = sketch("view")("all")
    val direct = sketch("click", "view")("all")
    val merged = (a ++ b).distinct.sorted.take(K)
    assert(merged == direct, "array-merge of sketches != sketch of union")
    assert(a.size == K && b.size == K && direct.size == K)
  }

  test("KMV property: any merge tree == sorted distinct take-k (ScalaCheck)") {
    // the partial-aggregation contract, adversarially: for ARBITRARY hash
    // streams split into ARBITRARY partitions, reducing each partition
    // then merging in arbitrary tree order must equal the one-pass
    // reference (sorted distinct, first k). ScalaCheck shrinks failures
    // to a minimal stream — better repro than any fixture. Pure JVM (no
    // Spark jobs), so hundreds of cases cost nothing.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val k = 8
    val agg = new KmvAggregator(k)
    val genStream = Gen.listOf(Gen.choose(0L, 24L)) // dense → many dups
    val genCuts = Gen.listOf(Gen.choose(0, 40))
    val prop = Prop.forAll(genStream, genCuts) { (xs, cuts) =>
      val reference = xs.distinct.sorted.take(k)
      // split at the (sorted, deduped, in-range) cut points
      val bounds = (0 +: cuts.filter(_ < xs.size).distinct.sorted :+ xs.size)
        .distinct.sorted
      val parts = bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
      val partials = parts.map(p =>
        p.foldLeft(agg.zero)((buf, h) => agg.reduce(buf, ("g", h))))
      val leftFold = partials.foldLeft(agg.zero)(agg.merge)
      val rightFold = partials.foldRight(agg.zero)(agg.merge)
      leftFold == reference && rightFold == reference
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(300)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("a35 estimate within 25% of exact distinct at two scales") {
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val est = SparkEntry.queries("a35_kmv_distinct")(spark, dir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      val exact = Tables.events(spark, dir)
        .groupBy("event_type").agg(countDistinct("user_id").as("d"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      est.foreach { case (t, (nKept, e)) =>
        assert(nKept <= K, s"$t: buffer exceeded k")
        val x = exact(t)
        val rel = math.abs(e - x) / x.toDouble
        // k=64 → σ ≈ 1/√62 ≈ 12.7%; realized errors are deterministic
        // (pinned hash). Measured extreme across the 15 type×scale
        // draws: 29.6% ('click' @ sf0.1 — 2.3σ, an unexceptional tail
        // for 15 deterministic draws; first EXECUTED at sweep scale in
        // r15b — the env-gated leg had not run since the family landed
        // in r13, and the old 2σ bound was wrong there). Bound at 3σ;
        // the production knob is k (state is 8k bytes — k=256 → σ 6.3%,
        // but would kill the live estimator branch at the sf0.01 gate
        // where distinct ≈ 150).
        assert(rel <= 0.38, s"$dir $t: est=$e exact=$x rel=$rel")
        if (x < K) assert(e == x.toDouble, s"$t: exact branch must be exact")
      }
    }
  }

  test("st17 stream KMV equals batch a35 exactly (stream ≡ batch)") {
    // the oracle pins both to the same SQL at the driver; this pins them
    // to EACH OTHER locally, including the keep-max(rows_seen) final-state
    // selection under whatever micro-batching AvailableNow chose
    val dir = "/root/testdata/sf0.01"
    val batch = SparkEntry.queries("a35_kmv_distinct")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val stream = SparkEntry.queries("st17_stream_kmv")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(stream.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
  }

  test("a36 union estimate within 25% and intersection sane, two scales") {
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("a36_kmv_retention_overlap")(
        spark, dir).collect()
      assert(rows.nonEmpty)
      val m = Tables.table(spark, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_custkey").as("c"))
      // exact union/intersection of consecutive-month customer sets
      // (collected reference: ≤ ~100k distinct (month, cust) pairs)
      val exactPairs = {
        val byMonth = m.distinct().collect()
          .groupBy(_.getString(0)).map { case (k, v) =>
            k -> v.map(_.getLong(1)).toSet }
        rows.map { r =>
          val mo = r.getString(0); val nx = r.getString(1)
          val (sa, sb) = (byMonth(mo), byMonth(nx))
          mo -> ((sa ++ sb).size, (sa & sb).size)
        }.toMap
      }
      val relUs = rows.map { r =>
        val mo = r.getString(0)
        val (u, i) = exactPairs(mo)
        val uEst = r.getDouble(4); val iEst = r.getDouble(5)
        val relU = math.abs(uEst - u) / u.toDouble
        // per-pair: 3σ for k=64 (σ ≈ 1/√62 ≈ 12.7%) — ~79 pairs, the
        // realized max sits ≈ 2σ (25.9% at sf0.01's 1995-02)
        assert(relU <= 0.38, s"$dir $mo: union est=$uEst exact=$u")
        // intersection is the high-variance estimate (ρ ≈ 4 at J≈0.06,
        // k=64): bound it additively by the union scale, which is the
        // Beyer §4 error model's own envelope
        assert(math.abs(iEst - i) <= 0.15 * u,
          s"$dir $mo: inter est=$iEst exact=$i union=$u")
        relU
      }
      // the aggregate is the real estimator gate: the per-pair errors
      // must look like noise (median well inside 1σ), not like bias
      val medU = relUs.sorted.apply(relUs.size / 2)
      assert(medU <= 0.12, s"$dir: median union error $medU — biased?")
      assert(relUs.max > 0.0, "estimator branch never engaged — fixture drift")
    }
  }
}
