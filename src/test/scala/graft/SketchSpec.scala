package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, DocFixtures, MinHashLSH, SimHash, Similarity, Vectors}
import graft.queries.{DQueries, SQueries, TQueries}

/** Semantic coverage for the hash-sketch operators that have no DuckDB
  * oracle (xxhash64-based): recall of injected near-duplicates, estimate
  * accuracy vs. the exact-Jaccard path, and ANN correctness vs. brute
  * force.
  */
class SketchSpec extends SparkSpec {

  private val injectedPairs: Set[(Long, Long)] =
    (0L until 500L by 10).map(id => (id, id + 1000000)).toSet

  test("s9 hybrid RRF: fusion replays from the two legs' own outputs") {
    // the fused stage is pure rank arithmetic over the legs' top-20s —
    // replay it locally from the collected leg outputs and demand byte
    // equality (the legs themselves are oracled separately as t23/s1)
    val dir = "/root/testdata/sf0.01"
    val sparse = TQueries.bm25Top20(spark, dir)
      .collect().map(r => r.getLong(0)).toSeq // already (bm25 desc, id)
    val dense = graft.ext.Similarity.bruteForceTopK(
        graft.etl.Tables.table(spark, dir, "embeddings"), 0L, 20)
      .collect().map(r => r.getLong(0)).toSeq
    val rb = sparse.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val rc = dense.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val want = (rb.keySet ++ rc.keySet).toSeq.map { d =>
      val s1 = rb.get(d).map(r => 1.0 / (60L + r).toDouble).getOrElse(0.0)
      val s2 = rc.get(d).map(r => 1.0 / (60L + r).toDouble).getOrElse(0.0)
      (d, rb.get(d), rc.get(d), s1 + s2)
    }.sortBy { case (d, _, _, f) => (-f, d) }.take(10)
    val got = SparkEntry.queries("s9_hybrid_rrf")(spark, dir)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3))).toSeq
    assert(got == want, s"fusion replay\ngot:  $got\nwant: $want")
    // fixture-contract diagnostics (r17 ADVICE): properties of the
    // CURRENT fixture, computed from the legs' own collected outputs —
    // if a regenerated fixture stops exercising fusion these fire with
    // a contract message, not a false code-bug signal
    assert(want.exists(_._2.isEmpty) || want.exists(_._3.isEmpty),
      "fixture-contract: every fused doc appears in BOTH legs' top-20 — " +
        "the one-legged RRF branch is unexercised by this fixture")
    assert(want.map(_._1) != sparse.take(10) && want.map(_._1) != dense.take(10),
      "fixture-contract: fused top-10 equals a single leg's — fusion is " +
        "vacuous on this fixture")
  }

  test("MinHash-LSH finds injected near-copies with accurate estimates") {
    val near = DocFixtures.docsNear(spark, sf)
    val exact = Dedup.ngramJaccardPairs(near, n = 7, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = MinHashLSH.nearDupPairs(near)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val found = injectedPairs.count(est.contains)
    assert(found >= (injectedPairs.size * 0.9).toInt,
      s"minhash recall on injected pairs: $found/${injectedPairs.size}")
    // estimates within 0.25 of exact Jaccard where both scored the pair
    est.keys.filter(exact.contains).foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.25, s"pair $k est=${est(k)} exact=${exact(k)}")
    }
  }

  test("SimHash puts injected near-copies within Hamming 3") {
    val got = SimHash.nearDupPairs(DocFixtures.docsNear(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = injectedPairs.count(got.contains)
    // one dropped word among ~hundreds of tokens rarely flips >3 bits
    assert(found >= (injectedPairs.size * 0.7).toInt,
      s"simhash recall on injected pairs: $found/${injectedPairs.size}")
  }

  test("embedding dup detection recovers all injected vector copies") {
    val pairs = Similarity.embeddingDupPairs(DocFixtures.embDup(spark, sf),
        threshold = 0.999, numPlanes = 12, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 500L by 10).map(id => (id, id + 100000)).toSet
    assert(expected.subsetOf(pairs), s"missing: ${expected -- pairs}")
  }

  test("d5 embedding dup: recall 1.0 and exact cosines at sf0.01 AND sf0.1") {
    // d5 is a no-oracle entry (Gaussian projection planes are engine
    // state), so like a7 it carries a quantitative gate at BOTH the
    // correctness scale and the bench/sweep scale: bucket occupancy —
    // the thing that could silently drop a true duplicate — grows with
    // corpus size, and sf0.001 alone never exercises it.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val dup = DocFixtures.embDup(spark, dir)
      val n = graft.etl.Tables.table(spark, dir, "embeddings").count()
      val pairs = Similarity.embeddingDupPairs(dup,
          threshold = 0.999, numPlanes = 12, dim = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // recall 1.0 on the injected identical copies: identical vectors
      // have identical sign patterns, so the bucket join can never
      // separate them — at ANY corpus size
      val got = pairs.map(p => (p._1, p._2)).toSet
      val expected = (0L until n by 10).map(id => (id, id + 100000)).toSet
      assert(expected.subsetOf(got),
        s"$dir: missing injected pairs ${expected -- got}")
      // precision/agreement: every emitted cosine re-derived DRIVER-SIDE
      // from the raw float vectors (same left-to-right double fold as the
      // DotProduct kernel) must match to 1e-9 and clear the threshold —
      // the LSH restriction may lower recall on non-identical pairs, but
      // must never distort a similarity value
      val vecs = dup.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      pairs.foreach { case (id1, id2, c) =>
        val exact = cos(vecs(id1), vecs(id2))
        assert(math.abs(c - exact) < 1e-9, s"$dir ($id1,$id2): $c vs $exact")
        assert(exact >= 0.999 - 1e-9, s"$dir ($id1,$id2) below threshold: $exact")
      }
    }
  }

  test("bucketed kNN finds every injected duplicate and keeps general recall") {
    val emb = graft.etl.Tables.table(spark, sf, "embeddings")
    val exact = Similarity.knnJoinExact(emb, k = 3).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val approx = Similarity.knnJoinBucketed(emb, k = 3, numPlanes = 4, dim = 64)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val recall = exact.map { case (id, nbrs) =>
      approx.getOrElse(id, Set.empty[Long]).intersect(nbrs).size.toDouble / nbrs.size
    }.sum / exact.size
    info(f"bucketed kNN recall@3 vs exact: $recall%.3f")
    assert(recall >= 0.35, f"bucketed kNN recall too low: $recall%.3f")
    // recall on exact duplicates is 1 by construction (identical sign bucket)
    val dup = Similarity.knnJoinBucketed(DocFixtures.embDup(spark, sf),
        k = 1, numPlanes = 8, dim = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 500L by 10).foreach { id =>
      assert(dup(id) == id + 100000, s"dup partner missed for $id")
      assert(dup(id + 100000) == id, s"dup partner missed for ${id + 100000}")
    }
  }

  test("exact kNN guard trips on a replicated corpus; knnJoin auto-routes") {
    val emb = graft.etl.Tables.table(spark, sf, "embeddings")
    // 25 disjoint replicas: 12_500 rows, past the 10k exactness cap
    val big = (0 until 25).map(i => emb.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val e = intercept[IllegalArgumentException] {
      Similarity.knnJoinExact(big, k = 3)
    }
    assert(e.getMessage.contains("knnJoinBucketed"), e.getMessage)
    // the router takes the bucketed arm: no quadratic operator in the plan
    val routed = Similarity.knnJoin(big, k = 1, numPlanes = 8, dim = 64)
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(5).mkString("\n"))
    // below the cap the router IS the exact join
    val small = Similarity.knnJoin(emb, k = 3, numPlanes = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.knnJoinExact(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(small == exact)
  }

  // v2 is hash-oracled since r14 (fixed-point sum → order-free); this
  // cross-path check now pins the ×10¹² GRAIN bound against the
  // fold-exact double path rather than carrying v2's correctness.
  test("fixed-point centroid path matches the fold-exact path to 1e-9") {
    val v1 = SparkEntry.queries("v1_label_centroids")(spark, sf)
      .collect().map(r => (r.get(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val v2 = SparkEntry.queries("v2_label_centroids_avg")(spark, sf)
      .collect().map(r => (r.get(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(v1.keySet == v2.keySet)
    v1.foreach { case (k, (x1, n1)) =>
      val (x2, n2) = v2(k)
      assert(n1 == n2)
      assert(math.abs(x1 - x2) < 1e-9, s"component $k: fold=$x1 avg=$x2")
    }
  }

  test("no MinHash band bucket exceeds the cap at fixture scale") {
    // the d3 DuckDB oracle states candidates WITHOUT the bucket cap; this
    // guard keeps that equivalence honest — if a denser fixture ever
    // pushes a band bucket over the cap, this fails loudly instead of the
    // oracle silently diverging from the capped Spark plan
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val sigs = MinHashLSH.signatures(DocFixtures.docsNear(spark, dir),
        shingleN = 7, numPerm = 32)
      val maxBucket = MinHashLSH.bandKeys(sigs, bands = 8, rowsPerBand = 4)
        .groupBy("band_idx", "band_key").count()
        .agg(max("count")).head().getLong(0)
      assert(maxBucket <= 1000,
        s"$dir: band bucket of $maxBucket docs exceeds the cap the oracle ignores")
    }
  }

  test("rolling-hash oracle fixtures are pure ASCII (bytes == code points)") {
    // RollingHash/WinnowFingerprints hash UTF-8 bytes; the DuckDB oracles
    // hash code points — identical only for ASCII. Pin it per sf dir.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val nonAscii = graft.etl.Tables.table(spark, dir, "documents")
        .filter(length(col("text")) =!= octet_length(col("text"))).count()
      assert(nonAscii == 0,
        s"$dir: $nonAscii documents contain non-ASCII text — rolling-hash oracles diverge")
    }
  }

  test("bucketed kNN plan is equi-join only — nothing quadratic") {
    val emb = graft.etl.Tables.table(spark, sf, "embeddings")
    val plan = Similarity.knnJoinBucketed(emb, k = 3, numPlanes = 4, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      plan.linesIterator.take(5).mkString("\n"))
  }

  test("ANN cosines are exact for returned candidates and bucket-consistent") {
    val emb = graft.etl.Tables.table(spark, sf, "embeddings")
    val brute = Similarity.bruteForceTopK(emb, 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTopK(emb, 0L, 10, numPlanes = 4, dim = 64).collect()
    assert(ann.length == 10)
    ann.foreach { r =>
      val (id, cos) = (r.getLong(0), r.getDouble(1))
      assert(math.abs(cos - brute(id)) < 1e-12, s"vec $id cosine mismatch")
    }
    // and the ANN top-1 should rank well in the exact ordering
    val annTop = ann.maxBy(_.getDouble(1)).getLong(0)
    val bruteRank = brute.toSeq.sortBy(-_._2).indexWhere(_._1 == annTop)
    assert(bruteRank >= 0 && bruteRank < 100,
      s"ANN best hit ranks $bruteRank in exact ordering")
  }

  test("pinned PqCodebook artifact is the trainer's exact sf0.01 output (provenance)") {
    // the registry's v5/s6 encode against ext/PqCodebook.scala; this pins
    // the checked-in literals to their stated provenance (regenerate via
    // `Test/runMain graft.PqPinGen`)
    import graft.ext.{PqCodebook, ProductQuantizer}
    val emb = graft.etl.Tables
      .table(spark, "/root/testdata/sf0.01", "embeddings")
      .select("vec_id", "embedding")
    val trained = ProductQuantizer.train(emb, m = 8, k = 16)
    def canon(p: ProductQuantizer.PQ) =
      p.codebooks.map(_.map { case (j, c) => (j, c.toSeq) }.toSeq).toSeq
    assert(canon(PqCodebook.Default) == canon(trained),
      "ext/PqCodebook.scala is stale — regenerate via `Test/runMain graft.PqPinGen`")
  }

  test("pinned IvfCentroids artifacts are the trainer's exact sf0.01 output (provenance)") {
    // s4/s8 probe against IvfCentroids.Default and d8 keeps against
    // IvfCentroids.EmbDup; this pins both literal tables to their stated
    // training runs (regenerate via `Test/runMain graft.IvfPinGen`)
    import graft.ext.{DocFixtures, IVFIndex, IvfCentroids}
    val dir = "/root/testdata/sf0.01"
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    def canon(cs: Array[(Int, Array[Double])]) =
      cs.map { case (i, c) => (i, c.toSeq) }.toSeq
    for ((pinned, idx) <- Seq(
        IvfCentroids.Default -> IVFIndex.build(emb),
        IvfCentroids.EmbDup -> IVFIndex.build(DocFixtures.embDup(spark, dir), nLists = 16))) {
      try assert(canon(pinned) == canon(idx.centroids),
        "ext/IvfCentroids.scala is stale — regenerate via `Test/runMain graft.IvfPinGen`")
      finally idx.unpersist()
    }
  }

  test("v5 PQ codes: deterministic, copy-consistent, and reconstruction-tight") {
    import graft.ext.ProductQuantizer
    val dir = "/root/testdata/sf0.01"
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val pq = ProductQuantizer.train(emb, m = 8, k = 16)
    // seeded training is bit-deterministic across builds (compare by
    // VALUE — Array equality is referential)
    val pq2 = ProductQuantizer.train(emb, m = 8, k = 16)
    def canon(p: ProductQuantizer.PQ) =
      p.codebooks.map(_.map { case (j, c) => (j, c.toSeq) }.toSeq).toSeq
    assert(canon(pq) == canon(pq2), "seeded PQ training must be deterministic")
    val codes = ProductQuantizer.encode(emb, pq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // identical vectors encode identically (the d8 cell argument per
    // subspace), so dup-injected copies carry their partner's codes
    val dupCodes = ProductQuantizer
      .encode(graft.ext.DocFixtures.embDup(spark, dir), pq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    dupCodes.keys.filter(_ >= 100000L).foreach { id =>
      assert(dupCodes(id) == dupCodes(id - 100000L),
        s"copy $id codes differ from its source")
    }
    // reconstruction quality: decoded centroids must stay close to the
    // originals — mean cosine over the corpus, measured driver-side
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cosines = vecs.map { case (id, v) =>
      cos(v, ProductQuantizer.decode(pq, codes(id))) }
    val mean = cosines.sum / cosines.size
    info(f"PQ mean reconstruction cosine: $mean%.4f (min ${cosines.min}%.4f)")
    // measured 0.676 at sf0.01: the fixture's vectors are label clusters
    // under heavy per-coordinate noise, and 8×16 codes is 64× compression
    // — a random/degenerate codebook scores ≈ the all-mean baseline
    // (≤ ~0.5 here), so 0.60 asserts the codebooks genuinely learned
    // sub-space structure while leaving noise-level headroom
    assert(mean > 0.60, f"mean reconstruction cosine $mean%.4f below 0.60 — " +
      "codebooks are not capturing the label-cluster structure")
    assert(cosines.min > 0.30, f"worst reconstruction ${cosines.min}%.4f " +
      "collapsed — some codebook is degenerate")
  }

  test("s6 ADC+rerank: scores replay the LUT bit-exactly; recall vs exact L2") {
    import graft.ext.ProductQuantizer
    val dir = "/root/testdata/sf0.01"
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val got = SparkEntry.queries("s6_pq_adc_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 10)
    // driver-side replay: same codebooks (seeded), LUT summed in subspace
    // order — both emitted distances must match the plan bit-exactly
    val pq = ProductQuantizer.train(emb, m = 8, k = 16)
    val codes = ProductQuantizer.encode(emb, pq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val q = vecs(0L)
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      for (i <- a.indices) { val d = a(i) - b(i); s += d * d }
      s
    }
    def adc(id: Long): Double =
      pq.codebooks.zipWithIndex.map { case (book, i) =>
        val qSub = q.slice(i * pq.subDim, (i + 1) * pq.subDim)
        l2sq(qSub, book(codes(id)(i).toInt)._2)
      }.sum
    got.foreach { case (id, a, l) =>
      assert(a == adc(id), s"vec $id: plan ADC $a != replay ${adc(id)}")
      assert(l == l2sq(q, vecs(id)), s"vec $id: rerank L2 $l != replay")
    }
    // the two-stage contract: final ranking is exact L2 over the 50-row
    // ADC shortlist, so recall@10 measures how well the codes funnel the
    // true neighborhood into the shortlist (raw single-stage ADC@10
    // measures 0.20 here — the re-rank is what makes 64× compression
    // servable)
    val exact10 = vecs.keys.filter(_ != 0L).toSeq
      .sortBy(id => (l2sq(q, vecs(id)), id)).take(10).toSet
    val recall = got.map(_._1).count(exact10.contains) / 10.0
    info(f"ADC+rerank recall@10 vs exact L2: $recall%.2f")
    assert(recall >= 0.5, f"recall@10 $recall%.2f below 0.5")
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
  }

  test("v10 int8 Gram: integer sums replay exactly; Cauchy–Schwarz holds cell-wise") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("v10_gram_int8")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == 64 * 65 / 2)
    val vecs = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val maxabs = vecs.map(_.map(math.abs).max).max
    val s = 127.0 / maxabs
    val qs = vecs.map(_.map(x => math.floor(x * s).toLong))
    val g = Array.ofDim[BigInt](64, 64)
    for (i <- 0 until 64; j <- i until 64)
      g(i)(j) = qs.map(q => BigInt(q(i)) * q(j)).sum
    for (i <- 0 until 64; j <- i until 64) {
      val (sumQ, gram) = got((i.toLong, j.toLong))
      assert(BigInt(sumQ) == g(i)(j), s"cell ($i,$j) integer sum")
      // the de-quantization funnel is one pinned double expression
      val want = g(i)(j).toDouble * ((maxabs / 127.0) * (maxabs / 127.0))
      assert(gram == want, s"cell ($i,$j) gram funnel")
    }
    // G is a Gram matrix of integer vectors: diagonal ≥ 0 and
    // G_ij² ≤ G_ii·G_jj EXACTLY in BigInt — a structural property no
    // hash can fake
    for (i <- 0 until 64) assert(g(i)(i) >= 0)
    for (i <- 0 until 64; j <- i + 1 until 64)
      assert(g(i)(j) * g(i)(j) <= g(i)(i) * g(j)(j),
        s"Cauchy–Schwarz at ($i,$j)")
    // non-vacuity: off-diagonal structure exists
    assert((0 until 64).exists(i => (i + 1 until 64).exists(j =>
      g(i)(j) != 0)))
  }

  test("v11 PCA power: exact recurrence replay; quantization tracks floats; Rayleigh certified") {
    // The embeddings fixture is deliberately near-isotropic
    // (λ₂/λ₁ ≈ 0.93–0.98 — measured), so NO power method converges to
    // the eigenvector in bounded rounds there; the operator's contract
    // is the 20-round iterate with its certified Rayleigh quotient,
    // and that is what this test pins: (1) the integer recurrence
    // replays bit-exactly (the b15 spec device), (2) e6 quantization
    // tracks a float iteration of the SAME round count to |cos| ≥
    // 0.999 — quantization error, not convergence, is the only gap,
    // (3) λ is a certified lower bound on λ₁ that beats the trace/d
    // floor and never exceeds the PSD trace ceiling.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val got = SparkEntry.queries("v11_pca_power")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == 64, dir)
      val lambdaE6 = got.head._3
      assert(got.forall(_._3 == lambdaE6), s"$dir: λ constant across rows")
      val v = got.sortBy(_._1).map(_._2)
      val gRows = SparkEntry.queries("v10_gram_int8")(spark, dir)
        .select("i", "j", "sum_q").collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2)))
      // (1) exact BigInt recurrence replay
      val (vr, lamR, rounds) = Vectors.pcaPowerIterate(gRows.toSeq)
      assert(vr.map(_.toLong).sameElements(v), s"$dir: recurrence replay")
      assert(lamR.toLong == lambdaE6, s"$dir: λ replay")
      assert(rounds >= 1 && rounds <= 20, dir)
      // (2) float power iteration, SAME round count, same start
      val g = Array.ofDim[Double](64, 64)
      gRows.foreach { case (i, j, q) =>
        g(i)(j) = q.toDouble; g(j)(i) = q.toDouble }
      var w = Array.fill(64)(1.0)
      (1 to rounds).foreach { _ =>
        val s = Array.tabulate(64)(i =>
          (0 until 64).map(j => g(i)(j) * w(j)).sum)
        val n = math.sqrt(s.map(x => x * x).sum)
        if (n > 0) w = s.map(_ / n)
      }
      val vd = v.map(_.toDouble)
      val dot = vd.indices.map(i => vd(i) * w(i)).sum
      val cos = math.abs(dot) / (math.sqrt(vd.map(x => x * x).sum) *
        math.sqrt(w.map(x => x * x).sum))
      assert(cos >= 0.999, s"$dir: |cos| to same-round float iterate $cos")
      // (3) Rayleigh bounds: trace/d ≤ λ ≤ trace for a PSD Gram
      val trace = (0 until 64).map(i => g(i)(i)).sum
      assert(lambdaE6 / 1e6 >= trace / 64.0 * 0.999,
        s"$dir: λ ${lambdaE6 / 1e6} vs trace/d floor ${trace / 64.0}")
      assert(lambdaE6 / 1e6 <= trace * 1.001, s"$dir: λ vs trace ceiling")
    }
  }

  test("IVF assignment: wide-quantizer data route equals the chain route's argmin") {
    // >64 centroids takes the array-literal route (the r16 s8 ×100 OOM
    // fix); ≤64 keeps the codegen'd least() chain. Both must implement
    // the identical argmin with the smallest-cell tie rule — pinned
    // against a driver-side brute-force replay on real vectors.
    import graft.ext.IVFIndex
    val emb = graft.etl.Tables.table(spark, "/root/testdata/sf0.001",
      "embeddings").select("vec_id", "embedding")
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for (n <- Seq(16, 80)) {
      val cents = (0 until n).map(i =>
        (i, Array.tabulate(64)(j => math.sin(i * 64.0 + j)))).toArray
      val got = IVFIndex.fromCentroids(emb, cents).assigned
        .select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got.size == vecs.size, s"n=$n")
      vecs.foreach { case (id, v) =>
        var best = -1; var bd = Double.MaxValue
        cents.foreach { case (i, c) =>
          var s = 0.0; var j = 0
          while (j < 64) { val d = v(j) - c(j); s += d * d; j += 1 }
          if (s < bd) { bd = s; best = i }
        }
        assert(got(id) == best, s"n=$n vec $id: ${got(id)} vs $best")
      }
    }
  }

  test("v10 gramInt8Of derives the triangle from the row's own width (no hardcoded dim)") {
    // r14 shipped dim = 64 as a literal — a width change in the
    // embeddings fixture would have silently truncated the triangle
    // (verdict item). Pin the fix with a deliberately non-64 width.
    val sess = spark
    import sess.implicits._
    val rows = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f, 4.0f, -0.25f, 3.0f, 0.0f, -1.5f)),
      (2L, Array(-1.0f, 0.5f, 2.0f, -4.0f, 1.25f, 0.5f, 2.0f, 1.0f)),
      (3L, Array(0.25f, 1.0f, -0.5f, 2.0f, -2.25f, 1.5f, -1.0f, 0.75f)))
    val got = Vectors.gramInt8Of(rows.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 8 * 9 / 2, "triangle must follow the 8-wide input")
    val vecs = rows.map(_._2.map(_.toDouble))
    val maxabs = vecs.map(_.map(math.abs).max).max
    val s = 127.0 / maxabs
    val qs = vecs.map(_.map(x => math.floor(x * s).toLong))
    for (i <- 0 until 8; j <- i until 8)
      assert(BigInt(got((i.toLong, j.toLong))) ==
        qs.map(q => BigInt(q(i)) * q(j)).sum, s"cell ($i,$j)")
  }

  test("s8 IVFADC: routing respects the probe cut; scores replay bit-exactly; recall vs exact L2") {
    import graft.ext.{IvfCentroids, PqCodebook}
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("s8_ivfpq_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 10)
    val vecs = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val q = vecs(0L)
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      for (i <- a.indices) { val d = a(i) - b(i); s += d * d }
      s
    }
    // the pinned artifacts replay both quantizers driver-side
    val cells = IvfCentroids.Default
    def cellOf(v: Array[Double]): Int =
      cells.minBy { case (i, c) => (l2sq(v, c), i) }._1
    val probed = cells.sortBy { case (i, c) => (l2sq(q, c), i) }
      .take(4).map(_._1).toSet
    val pq = PqCodebook.Default
    def codeOf(v: Array[Double], i: Int): Int = {
      val sv = v.slice(i * pq.subDim, (i + 1) * pq.subDim)
      pq.codebooks(i).minBy { case (j, c) => (l2sq(sv, c), j) }._1
    }
    def adc(v: Array[Double]): Double =
      pq.codebooks.indices.map { i =>
        val qSub = q.slice(i * pq.subDim, (i + 1) * pq.subDim)
        l2sq(qSub, pq.codebooks(i)(codeOf(v, i))._2)
      }.sum
    got.foreach { case (id, a, l) =>
      // every survivor must live in one of the 4 probed cells — the
      // routing contract that makes the 100 TB file-level prune honest
      assert(probed.contains(cellOf(vecs(id))), s"vec $id outside probe set")
      assert(a == adc(vecs(id)), s"vec $id: plan ADC $a != replay")
      assert(l == l2sq(q, vecs(id)), s"vec $id: rerank L2 $l != replay")
    }
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.toSeq)
    // two-stage, two-quantizer recall: the probe cut (s4's loss) and the
    // code funnel (s6's loss) compose — recall@10 vs GLOBAL exact L2
    // lower-bounds into the product of the two stages' gates
    val exact10 = vecs.keys.filter(_ != 0L).toSeq
      .sortBy(id => (l2sq(q, vecs(id)), id)).take(10).toSet
    val recall = got.map(_._1).count(exact10.contains) / 10.0
    info(f"IVFADC recall@10 vs exact L2: $recall%.2f")
    assert(recall >= 0.4, f"recall@10 $recall%.2f below 0.4")
    // within the probed cells, the top-k must be EXACTLY the best-L2
    // members that survived the ADC shortlist — i.e. the re-rank stage
    // is lossless given its shortlist
    val inCells = vecs.keys.filter(id => id != 0L &&
      probed.contains(cellOf(vecs(id)))).toSeq
    val short50 = inCells
      .sortBy(id => (adc(vecs(id)), id)).take(50)
    val want10 = short50.sortBy(id => (l2sq(q, vecs(id)), id)).take(10)
    assert(got.map(_._1).toSeq == want10, "composed pipeline replay")
  }

  test("d8 semantic dedup: flags replay brute-force in-cell; copies always drop") {
    // Both index paths carry the quantitative gate at the correctness
    // scale AND the sweep scale: the per-corpus TRAINING path (the
    // first-class library API; seeded k-means is engine state, so this
    // replay is its only exact check) and the PINNED-quantizer path the
    // registry serves (hash-oracled at the gate, replayed here at the
    // scales the oracle never sees). Given the cells each path assigned,
    // the duplicate rule is exactly replayable driver-side: is_dup ⇔
    // some lower-id same-cell vector has cosine ≥ tau (same
    // left-to-right double fold as the DotProduct kernel →
    // bit-identical values).
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val dup = graft.ext.DocFixtures.embDup(spark, dir)
      val vecs = dup.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      // the registered query's exact parameters (incl. the occupancy cap)
      // so kept-complement equality below compares like with like
      def checkFlags(flags: Array[(Long, Int, Boolean)],
          label: String): Unit = {
        val byCell = flags.groupBy(_._2)
        flags.foreach { case (id, cell, isDup) =>
          val expected = byCell(cell).exists { case (oid, _, _) =>
            oid < id && cos(vecs(oid), vecs(id)) >= 0.97 }
          assert(isDup == expected, s"$dir $label vec $id in cell $cell: " +
            s"flag $isDup != brute-force $expected")
        }
        // recall 1.0 on injected exact copies: an identical vector lands
        // in the identical cell (same distances → same argmin), its
        // partner has the lower id, and cosine 1 ≥ tau — so every copy
        // must be flagged
        val copyIds = flags.map(_._1).filter(_ >= 100000L).toSet
        assert(copyIds.nonEmpty)
        val flagged = flags.filter(_._3).map(_._1).toSet
        assert(copyIds.subsetOf(flagged),
          s"$dir $label: unflagged injected copies ${copyIds -- flagged}")
      }
      val trained = graft.ext.SemanticDedup.flagged(dup, nLists = 16,
          tau = 0.97, maxCell = DQueries.D8MaxCell)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      checkFlags(trained, "trained")
      val pinned = graft.ext.SemanticDedup.flaggedPinned(dup,
          graft.ext.IvfCentroids.EmbDup, tau = 0.97,
          maxCell = DQueries.D8MaxCell)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      checkFlags(pinned, "pinned")
      // and the registered query is exactly the pinned kept complement
      val kept = SparkEntry.queries("d8_semantic_dedup")(spark, dir)
        .collect().map(_.getLong(0)).toSet
      assert(kept == pinned.filterNot(_._3).map(_._1).toSet)
      assert(kept.nonEmpty && kept.size < pinned.length,
        s"$dir: dedup must drop something and keep something")
    }
  }

  test("d8 jumbo-cell cap: normal fixture unchanged; injected jumbo cell's pair space bounded") {
    import graft.ext.SemanticDedup
    val dir = "/root/testdata/sf0.01"
    val base = graft.ext.DocFixtures.embDup(spark, dir)
    // (1) the production cap is a no-op on the normal fixture: identical
    // flags with and without it (exact-value collapse runs in both, so
    // this isolates the cap machinery)
    def flagSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val unCapped = flagSet(SemanticDedup.flagged(base, 16, 0.97))
    val capped = flagSet(SemanticDedup.flagged(base, 16, 0.97,
      maxCell = DQueries.D8MaxCell))
    assert(capped == unCapped,
      "the occupancy cap changed flags on the normal fixture")
    // (2) inject a GEOMETRIC jumbo cell — many DISTINCT near-identical
    // vectors (distinct values defeat the exact-value collapse, near-
    // identical directions land in one k-means cell) — and cap at 100:
    // the recursive sub-quantizer must shrink the pair space well below
    // the unsplit cell's quadratic.
    val one = base.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val sess = spark
    import sess.implicits._
    // 6 sub-blobs of 100 distinct vectors each: offset 0.15 along one of
    // six axes (inter-blob separation ~0.21 ≫ intra-blob spread ~0.01,
    // so the sub-quantizer has real structure to find), micro-jitter for
    // value distinctness; all stay within cos ≥ ~0.98 of the base vector
    // (unit-norm corpus), so the whole cloud lands in one coarse cell
    val nJumbo = 600
    val jumbo = (0 until nJumbo).map { i =>
      val v = one.clone()
      val axis = i % 6
      v(axis) = v(axis) + 0.15f + 0.0001f * (i / 6)
      (200000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val mixed = base.unionAll(jumbo)
    val cap = 100
    val refined = SemanticDedup.flagged(mixed, 16, 0.97, maxCell = cap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // pair space = Σ reps_c² over the REFINED cells, reps = distinct
    // values; every jumbo vector is a distinct value so its rep count is
    // its row count
    val jumboCells = refined.filter(_._1 >= 200000L).groupBy(_._2)
      .view.mapValues(_.length).toMap
    assert(jumboCells.values.sum == nJumbo)
    assert(jumboCells.size > 1,
      s"jumbo cell was never split: $jumboCells")
    val pairSpace = jumboCells.values.map(n => n.toLong * n).sum
    val unsplit = nJumbo.toLong * nJumbo
    info(s"jumbo split into ${jumboCells.size} cells, occupancies " +
      s"${jumboCells.values.toSeq.sorted.reverse}, pair space " +
      s"$pairSpace vs unsplit $unsplit")
    assert(pairSpace * 4 <= unsplit,
      s"pair space $pairSpace not bounded vs unsplit $unsplit")
    // within a sub-blob all vectors are mutual duplicates (cos ≈ 1 ≥
    // tau), so each refined cell keeps at most one jumbo row per blob it
    // contains — with ~6 blobs the kept set must collapse from 600 to a
    // handful however k-means carved the cloud
    val keptJumbo = refined.count(r => r._1 >= 200000L && !r._3)
    assert(keptJumbo <= 2 * jumboCells.size && keptJumbo <= 20,
      s"kept $keptJumbo of $nJumbo jumbo rows across ${jumboCells.size} " +
        "refined cells — dup flags inside the refined cells are off")
  }

  test("d8 refine is batched: Spark job count does not grow with the oversized-cell count") {
    // The r12 scaling wart was one KMeans.fit + assignment pass PER
    // oversized cell, serialized on the driver — a skewed 100 TB corpus
    // with a few hundred hot cells became a few hundred sequential jobs.
    // The batched refine runs a CONSTANT number of jobs per depth (the
    // census and one sample collect for every oversized cell; the fits
    // run in-process on the driver), so the job count for a 1-jumbo
    // corpus and a 3-jumbo corpus must be ~equal — measured with a
    // listener, not asserted from the code's shape.
    import graft.ext.SemanticDedup
    val dir = "/root/testdata/sf0.01"
    val base = graft.ext.DocFixtures.embDup(spark, dir)
    val one = base.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val sess = spark
    import sess.implicits._
    // k jumbo clouds, each aimed at a DIFFERENT coarse cell by scaling a
    // different base direction (distinct values defeat the exact-value
    // collapse; each cloud oversubscribes the 100-cap on its own)
    def jumboAround(seedId: Long, tag: Long, n: Int) = {
      val v0 = base.filter(col("vec_id") === seedId)
        .select("embedding").head().getSeq[Float](0).toArray
      (0 until n).map { i =>
        val v = v0.clone()
        v(i % 6) = v(i % 6) + 0.15f + 0.0001f * (i / 6)
        (tag + i, v.toSeq)
      }
    }
    def countJobs(body: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      // listener events post asynchronously; onJobStart fires before the
      // job's result returns, so by the time both actions below have
      // RETURNED every started job has been counted — a short settle
      // covers the last event's bus hop (listenerBus is spark-private)
      try { body; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val mixed1 = base.unionAll(
      jumboAround(0L, 200000L, 300).toDF("vec_id", "embedding"))
    val mixed3 = base.unionAll(
      (jumboAround(0L, 200000L, 300) ++ jumboAround(1L, 300000L, 300) ++
        jumboAround(2L, 400000L, 300)).toDF("vec_id", "embedding"))
    val jobs1 = countJobs(
      SemanticDedup.flagged(mixed1, 16, 0.97, maxCell = 100).count())
    val jobs3 = countJobs(
      SemanticDedup.flagged(mixed3, 16, 0.97, maxCell = 100).count())
    info(s"refine jobs: 1 oversized cell -> $jobs1, 3 -> $jobs3")
    // allow a little slack (AQE/broadcast sub-jobs vary by a few), but a
    // per-cell driver loop would add ~2 jobs PER extra cell per depth —
    // ≥ 4 extra for 2 extra cells — which this bound rejects
    assert(jobs3 <= jobs1 + 3,
      s"refine job count grew with oversized-cell count: $jobs1 -> $jobs3")
  }

  test("d8 refine: the same (vec_id, cell, is_dup) rows under 1 and 8 shuffle partitions") {
    // the re-split's sample and fit depend on ids and values only, so the
    // refined cells and the flags must not move with the layout
    import graft.ext.SemanticDedup
    val base = graft.ext.DocFixtures.embDup(spark, "/root/testdata/sf0.01")
    val one = base.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val sess = spark
    import sess.implicits._
    val jumbo = (0 until 300).map { i =>
      val v = one.clone()
      v(i % 6) = v(i % 6) + 0.15f + 0.0001f * (i / 6)
      (200000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val mixed = base.unionAll(jumbo)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def rows(parts: Int) = {
      spark.conf.set(key, parts.toString)
      SemanticDedup.flagged(mixed, 16, 0.97, maxCell = 100)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).sortBy(_._1).toSeq
    }
    try {
      val at1 = rows(1)
      assert(at1.count(_._1 >= 200000L) == 300)
      assert(at1.filter(_._1 >= 200000L).map(_._2).distinct.size > 1,
        "the jumbo cell was never split")
      assert(rows(8) == at1)
    } finally spark.conf.set(key, before)
  }

  test("d8 zero-norm vectors: never flagged (cosine undefined), collapse stays flag-preserving") {
    // cosine(0,0) is undefined (NULL from try_divide), never >= tau, so
    // under the pair rule duplicate
    // all-zero vectors are NOT duplicates. The exact-value collapse would
    // flag every non-representative unconditionally — which is why zero-
    // norm vectors are excluded from it (singleton groups). This pins the
    // exclusion: identical zeros stay unflagged while identical nonzero
    // copies in the same run are flagged as before.
    import graft.ext.SemanticDedup
    val dir = "/root/testdata/sf0.01"
    val base = graft.ext.DocFixtures.embDup(spark, dir)
    val dim = base.select("embedding").head().getSeq[Float](0).size
    val sess = spark
    import sess.implicits._
    val zeros = (0 until 5).map(i =>
      (300000L + i, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val mixed = base.unionAll(zeros)
    val flags = SemanticDedup.flagged(mixed, 16, 0.97)
      .collect().map(r => (r.getLong(0), r.getBoolean(2)))
    val zeroFlags = flags.filter(_._1 >= 300000L)
    assert(zeroFlags.length == 5)
    assert(zeroFlags.forall(!_._2),
      s"zero-norm vectors flagged as duplicates: ${zeroFlags.filter(_._2)}")
    // and the injected exact nonzero copies (embDup's >= 100000L ids)
    // still flag — the zeros didn't perturb the normal collapse path
    val copyIds = flags.map(_._1).filter(id => id >= 100000L && id < 300000L)
    assert(copyIds.nonEmpty)
    assert(copyIds.forall(id => flags.find(_._1 == id).get._2),
      "nonzero exact copies lost their duplicate flag")
  }

  test("v7 JL projection: pairwise distance distortion bounded, two scales") {
    // the quantitative gate for the projection's PURPOSE (the oracle pins
    // arithmetic, not geometry): for y = (1/√16)·Px with Gaussian P,
    // ‖y_a−y_b‖²/‖x_a−x_b‖² ~ χ²₁₆/16 per pair — mean 1, and essentially
    // never outside [0.1, 4] across a few thousand pairs. Everything is
    // seeded, so the measured distortion is deterministic and the bounds
    // cannot flake.
    for (dir <- sweepDirs("/root/testdata/sf0.01")) {
      val orig = graft.etl.Tables.table(spark, dir, "embeddings")
        .filter(col("vec_id") < 80)
        .select(col("vec_id"),
          graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val proj = SparkEntry.queries("v7_random_projection")(spark, dir)
        .filter(col("vec_id") < 80).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2)).toSeq).toMap
      assert(proj.keySet == orig.keySet && orig.size >= 50)
      def sq(a: Seq[Double], b: Seq[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val ids = orig.keys.toSeq.sorted
      val ratios = for {
        i <- ids.indices; j <- (i + 1) until ids.size
        dx = sq(orig(ids(i)), orig(ids(j))) if dx > 0
      } yield sq(proj(ids(i)), proj(ids(j))) / dx
      val mean = ratios.sum / ratios.size
      info(f"$dir: ${ratios.size} pairs, mean ratio $mean%.4f, " +
        f"min ${ratios.min}%.4f, max ${ratios.max}%.4f")
      assert(math.abs(mean - 1.0) < 0.1,
        s"$dir: mean distortion $mean off the JL expectation")
      assert(ratios.min > 0.1 && ratios.max < 4.0,
        s"$dir: distortion tail [${ratios.min}, ${ratios.max}] out of range")
    }
  }

  test("s7: MMR greedy replays in plain Scala; diversity genuinely binds") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s7_mmr_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == SQueries.MmrK)
    // plain-Scala greedy over the same pool with the same tiebreaks
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val qv = emb(0L)
    val rel = emb.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      (id, dot(v, qv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(qv, qv))))
    }
    val pool = rel.sortBy { case (id, r) => (-r, id) }
      .take(SQueries.MmrPool)
    val relMap = pool.toMap
    var sel = List(pool.head._1)
    var mmrs = List(pool.head._2)
    while (sel.length < SQueries.MmrK) {
      val scored = pool.filterNot(p => sel.contains(p._1)).map { case (id, r) =>
        val ms = sel.map { sid =>
          dot(emb(id), emb(sid)) /
            (math.sqrt(dot(emb(id), emb(id))) *
              math.sqrt(dot(emb(sid), emb(sid))))
        }.max
        (id, SQueries.MmrLambda * r - SQueries.MmrMu * ms)
      }
      val best = scored.minBy { case (id, m) => (-m, id) }
      sel = sel :+ best._1
      mmrs = mmrs :+ best._2
    }
    assert(got.map(_._2).toSeq == sel, "pick order diverged from the replay")
    got.zip(mmrs).foreach { case ((_, _, _, m), w) =>
      assert(math.abs(m - w) < 1e-12)
    }
    got.foreach { case (_, id, r, _) =>
      assert(math.abs(r - relMap(id)) < 1e-12)
    }
    // diversity must actually bind: the MMR set differs from pure top-k
    val topk = pool.take(SQueries.MmrK).map(_._1).toSet
    assert(got.map(_._2).toSet != topk,
      "MMR picked exactly the relevance top-k - diversity never engaged")
    // and mmr scores are non-increasing after the seed pick
    assert(got.drop(1).map(_._4).sliding(2).forall(p => p.head >= p(1)))
  }

  test("v9 binary Hamming: pack/popcount replay exactly; re-rank recall vs exact top-10") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("v9_binary_hamming_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    val vecs = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val qv = vecs(0L)
    def signs(v: Array[Double]) = v.map(x => if (x >= 0.0) 1 else 0)
    val qs = signs(qv)
    // plain-Scala replay of the full pipeline: hamming = sign mismatches
    val ham = vecs.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      id -> signs(v).zip(qs).count(p => p._1 != p._2).toLong
    }
    val hamMap = ham.toMap
    got.foreach { case (id, h, _) =>
      assert(h == hamMap(id), s"vec $id: packed hamming $h vs sign replay")
    }
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // the emitted top-10 must be the exact-cosine best of the Hamming
    // top-100 candidate set (the algorithm's own contract)
    val cand = ham.sortBy(p => (p._2, p._1)).take(100).map(_._1)
    val want = cand.map(id => id -> cos(vecs(id), qv))
      .sortBy(p => (-p._2, p._1)).take(10).map(_._1)
    assert(got.map(_._1).toSeq == want,
      "re-rank order diverged from the candidate-set replay")
    // and the 1-bit candidate stage must genuinely recall the exact
    // answer: measured overlap with the full-precision top-10 (s1)
    val exact = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(v, qv) }
      .sortBy(p => (-p._2, p._1)).take(10).map(_._1).toSet
    val recall = got.map(_._1).count(exact.contains)
    assert(recall >= 5, s"recall@10 only $recall/10 through the binary stage")
  }
}
