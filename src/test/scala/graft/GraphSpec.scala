package graft

import org.apache.spark.sql.functions._

import graft.ext.Graph
import graft.queries.GQueries

/** The g* graph family. g1–g3 are hash-oracled against DuckDB (exact
  * longs); this spec pins the triangle ALGORITHM — orientation +
  * closure — on fixtures small enough to count by hand, plus a
  * brute-force cross-check on a seeded random graph, because the
  * oracle replays the same degree-ordered algorithm and could share a
  * bug with it.
  */
class GraphSpec extends SparkSpec {

  private def tri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val sess = spark
    import sess.implicits._
    Graph.triangleCounts(edges.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  }

  test("g2: hand-computed fixtures") {
    // a single triangle
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4: each vertex sits in C(3,2) = 3 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path has no triangles → empty output
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
    // bowtie: two triangles sharing vertex 3
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L))) == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L))
    // star (hub + leaves, no leaf-leaf edges): triangle-free whatever
    // the skew — the orientation points every edge INTO the hub
    assert(tri((2L to 8L).map(l => (1L, l))).isEmpty)
  }

  test("g2: equals brute-force enumeration on a seeded random graph") {
    // deterministic pseudo-random graph on 30 nodes: edge (i, j) present
    // iff a hash bit fires — dense enough for hundreds of triangles
    val edges = for {
      i <- 1L to 30L; j <- (i + 1) to 30L
      if ((i * 2654435761L + j * 40503L) % 97) < 30
    } yield (i, j)
    val es = edges.toSet
    val brute = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- 1L to 30L; j <- (i + 1) to 30L; k <- (j + 1) to 30L
      if es((i, j)) && es((j, k)) && es((i, k))
    } { brute(i) += 1; brute(j) += 1; brute(k) += 1 }
    assert(brute.nonEmpty, "fixture degenerated — no triangles to check")
    assert(tri(edges) == brute.toMap)
  }

  test("g4: integer PageRank orders hub above leaves and replays in plain Scala") {
    val sess = spark
    import sess.implicits._
    // star + one outlying edge: hub 1 must outrank every leaf, and the
    // leaf pair (5,6) with its private edge must outrank plain leaves
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (1L, 5L, 1L), (5L, 6L, 1L))
    val adj = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val got = Graph.pagerankOnAdj(adj.toDF("u", "v", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(1L) > got(5L) && got(5L) > got(2L),
      s"hub/bridge/leaf order violated: $got")
    assert(got(2L) == got(3L) && got(3L) == got(4L), "symmetric leaves differ")
    // exact integer replay: 3 iterations of the same floor arithmetic
    val SCALE = 1000000000000L
    val wout = adj.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = adj.map(_._1).distinct.map(_ -> SCALE).toMap
    for (_ <- 1 to 3) {
      val cs = adj.groupBy(_._2).view.mapValues(_.map { case (u, _, w) =>
        r(u) * w / wout(u) }.sum).toMap
      r = cs.map { case (n, c) => n -> (15L * (SCALE / 100L) + 85L * c / 100L) }.toMap
    }
    assert(got == r, "Spark plan diverged from the integer replay")
  }

  test("g13 LPA: hand fixture communities; exact Scala replay; labels confined to components") {
    val sess = spark
    import sess.implicits._
    // two K3 cliques joined by one weak bridge, plus an isolated pair:
    // LPA must keep the cliques as distinct communities (the bridge's
    // single vote never beats two intra-clique votes); the isolated
    // PAIR pins the documented synchronous-LPA 2-cycle artifact — the
    // two nodes swap labels every round, so after the EVEN LpaRounds
    // each keeps its own (the LpaRounds scaladoc's
    // "bipartite-ish regions" caveat, made executable)
    val edges = Seq(
      (1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L),
      (4L, 5L, 3L), (4L, 6L, 3L), (5L, 6L, 3L),
      (3L, 4L, 1L),
      (10L, 11L, 5L))
    val adj = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val got = Graph.labelPropagationOnAdj(adj.toDF("u", "v", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val comm = got.map(t => t._1 -> t._2).toMap
    assert(comm.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 10L, 11L))
    assert(Set(comm(1L), comm(2L), comm(3L)).size == 1, "clique A one label")
    assert(Set(comm(4L), comm(5L), comm(6L)).size == 1, "clique B one label")
    assert(comm(1L) != comm(4L), "bridge must not merge the cliques")
    assert(Graph.LpaRounds % 2 == 0 &&
      comm(10L) == 10L && comm(11L) == 11L,
      "isolated pair must exhibit the synchronous 2-cycle artifact")
    // sizes are the census of the final labels
    val bySize = got.groupBy(_._2)
    got.foreach { case (_, c, sz) => assert(sz == bySize(c).length.toLong) }
    // exact synchronous replay: LpaRounds rounds of weighted majority
    // with (wt desc, label asc) tie order
    var lab = adj.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to Graph.LpaRounds) {
      lab = adj.groupBy(_._1).view.mapValues { es =>
        es.groupBy(e => lab(e._2)).view.mapValues(_.map(_._3).sum)
          .toSeq.maxBy { case (l, wt) => (wt, -l) }._1
      }.toMap
    }
    assert(comm == lab, "Spark plan diverged from the synchronous replay")
    // on the real graph: every community is confined to one g5
    // connected component (labels only travel along edges)
    val dir = "/root/testdata/sf0.001"
    val real = SparkEntry.queries("g13_label_propagation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(real.nonEmpty)
    // community label must itself be a node of the graph
    val nodes = real.keySet
    assert(real.values.forall(nodes.contains), "label is a node id")
    val nComm = real.values.toSet.size
    assert(nComm >= 1 && nComm <= nodes.size)
  }

  test("g5: components on a hand fixture; cluster = min id of the component") {
    val sess = spark
    import sess.implicits._
    // two chains + an isolated edge: {1,2,3,4} via a path, {7,8}, {10,11,12}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (7L, 8L),
      (11L, 10L), (11L, 12L)).toDF("id1", "id2")
    val got = graft.ext.Clusters.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("g6: jaccard is exact fixed-point of g3's counts and g1's degrees") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g6_jaccard_neighbors")(spark, dir).collect()
    assert(got.nonEmpty)
    val deg = SparkEntry.queries("g1_degree_profile")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (r <- got.take(200)) {
      val (a, b, c, j) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(j == 1000000L * c / (deg(a) + deg(b) - c),
        s"pair ($a,$b): fixed-point ratio mismatch")
      assert(j >= 0 && j <= 1000000L)
    }
  }

  test("g11: modularity replays in BigInt; strengths sum to 2m; Q in [-1, 1]") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g11_category_modularity")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    // rebuild from the raw tables: quarter-sample baskets → weighted
    // edges → category labels
    val li = graft.etl.Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val cat = graft.etl.Tables.table(spark, dir, "part")
      .select("p_partkey", "p_type").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = li.groupBy(_._1).values.flatMap { basket =>
      val parts = basket.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).map { case (e, es) => e -> es.size.toLong }
    val m = BigInt(edges.values.sum)
    val intra = edges.toSeq.filter { case ((u, v), _) => cat(u) == cat(v) }
      .groupBy { case ((u, _), _) => cat(u) }
      .map { case (c, es) => c -> es.map(_._2).sum }
    val strength = edges.toSeq
      .flatMap { case ((u, v), w) => Seq(cat(u) -> w, cat(v) -> w) }
      .groupBy(_._1).map { case (c, ws) => c -> ws.map(_._2).sum }
    val nodes = edges.keys.flatMap(e => Seq(e._1, e._2)).toSet
      .groupBy(cat).map { case (c, ns) => c -> ns.size.toLong }
    assert(got.keySet == strength.keySet)
    // strengths partition the handshake total exactly
    assert(BigInt(strength.values.sum) == 2 * m)
    got.foreach { case (c, (nN, iW, st, qc)) =>
      assert(nN == nodes(c), s"$c n_nodes")
      assert(iW == intra.getOrElse(c, 0L), s"$c intra weight")
      assert(st == strength(c), s"$c strength")
      val qNum = 4 * m * BigInt(intra.getOrElse(c, 0L)) -
        BigInt(st) * BigInt(st)
      val want = qNum.toDouble / (4 * m * m).toDouble
      assert(qc == want, s"$c contrib funnel")
    }
    val q = got.values.map(_._4).sum
    assert(q >= -1.0 && q <= 1.0, s"Q=$q out of range")
    // the null model binds: SOME category must fall below chance (the
    // random-basket generator crosses categories freely), and intra
    // edges exist somewhere — the statistic is informative either way
    assert(got.values.exists(_._2 > 0L) || got.values.exists(_._4 < 0.0))
  }

  test("g5: propagation converges in few rounds on the real graph") {
    // rounds = diameter + 1 fixpoint check — the co-purchase graph is
    // dense/short-diameter; a rising bound here is the d6 early-warning
    // signal that the large-star/small-star swap is due
    val sess = spark
    import sess.implicits._
    val li = graft.etl.Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = Graph.edgesOf(li)
      .select(col("u").as("id1"), col("v").as("id2"))
    val (labels, rounds) = graft.ext.Clusters.componentsWithRounds(pairs)
    assert(labels.limit(1).count() == 1)
    assert(rounds <= 8, s"min-label propagation took $rounds rounds")
  }

  test("adjacency skew register: no celebrity node owns a partition-sized wedge share") {
    // r18 verdict task 8: the wedge family rides the u-partitioned
    // cached adjacency EXCHANGE-FREE, which also means AQE's skew-join
    // split can never engage on that join — a celebrity node's whole
    // neighborhood (and its O(deg²) wedge output) lands in ONE task.
    // This register gates the exposure: the largest single-center wedge
    // load, maxDeg·(maxDeg−1)/2, must stay within a small factor of a
    // partition's fair share of the total wedge space. When a corpus
    // trips it, the documented escape is salting the wedge self-join —
    // split centers with deg > D* into ceil(deg/D*) salt buckets on the
    // big side and aggregate the (id1, id2) pairs two-level, which
    // restores per-task balance at the cost of one extra partial
    // aggregate (BASELINE.md r19 note).
    val dir = "/root/testdata/sf0.001"
    val li = graft.etl.Tables.table(spark, dir, "lineitem")
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = Graph.edgesOf(li)
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val row = deg.agg(max(col("d")).as("max_deg"),
      sum(col("d") * (col("d") - 1) / 2).as("wedges")).head()
    val (maxDeg, wedges) = (row.getLong(0), row.getDouble(1))
    val parts = spark.sessionState.conf.numShufflePartitions
    val maxCenterLoad = maxDeg.toDouble * (maxDeg - 1) / 2
    val fairShare = wedges / parts
    assert(maxCenterLoad <= 4.0 * fairShare,
      f"celebrity-node wedge skew: max center owns $maxCenterLoad%.0f " +
        f"wedges vs fair share $fairShare%.0f (x${maxCenterLoad / fairShare}%.1f) " +
        "— salt the wedge self-join (split deg > D* centers) before " +
        "riding the u-partitioned cache at this skew")
  }

  test("g7: RA score replays as the exact fixed-point sum over common neighbors") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g7_resource_allocation")(spark, dir)
      .collect().map(r =>
        ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    // rebuild adjacency in plain Scala from g1's edge semantics
    val li = graft.etl.Tables.table(spark, dir, "lineitem")
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val edges = Graph.edgesOf(li).select("u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).toSet }
    got.take(100).foreach { case ((a, b), (nc, ra)) =>
      val common = nbrs(a) intersect nbrs(b)
      assert(nc == common.size, s"pair ($a,$b) common count")
      assert(ra == common.toSeq.map(w => 1000000000L / nbrs(w).size).sum,
        s"pair ($a,$b) RA sum")
      assert(!nbrs(a).contains(b), s"pair ($a,$b) is adjacent")
    }
  }

  test("g8: rules replay from brute-forced basket counts") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g8_association_rules")(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty)
    // brute-force the basket statistics in plain Scala
    val li = graft.etl.Tables.table(spark, dir, "lineitem")
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = li.map(_._1).distinct.length.toLong
    val itemCnt = li.groupBy(_._2).map { case (p, g) => p -> g.length.toLong }
    val pairCnt = li.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val expected = pairCnt.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w))
    }.collect { case (a, b, w)
        if w >= 2 && 1000000L * w / itemCnt(a) >= 100000L =>
      (a, b) -> (w, 1000000L * w / itemCnt(a),
        BigInt(1000000L) * w * nOrders / (BigInt(itemCnt(a)) * itemCnt(b)))
    }.toMap
    assert(got.keySet == expected.keySet,
      s"rule sets differ: ${got.keySet.size} vs ${expected.keySet.size}")
    got.foreach { case (k, (s1, c1, l1)) =>
      val (s2, c2, l2) = expected(k)
      assert(s1 == s2 && c1 == c2 && BigInt(l1) == l2, s"rule $k mismatch")
    }
  }

  test("g3: predictions are non-adjacent pairs with real shared neighbors") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g3_common_neighbors")(spark, dir).collect()
    assert(got.nonEmpty)
    // spot-invariants against g1: n_common can never exceed the smaller
    // endpoint degree
    val deg = SparkEntry.queries("g1_degree_profile")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (r <- got.take(200)) {
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(c <= math.min(deg(a), deg(b)), s"pair ($a,$b) impossible count")
    }
  }

  test("g9: recommendations replay item-item CF in plain Scala; no owned leaks") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g9_co_purchase_recs")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // replay from the SAME quarter-sampled basket universe
    val li = etl.Tables.table(spark, dir, "lineitem")
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .join(etl.Tables.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val baskets = li.map(t => (t._2, t._3)).distinct
    val edges = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.size) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val adj = edges.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w)) }
    val bought = li.map(t => (t._1, t._3)).distinct
    val byCust = bought.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val want = byCust.toSeq.sortBy(_._1).flatMap { case (cust, owned) =>
      val scores = adj.filter(a => owned(a._1))
        .groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .filter { case (rec, _) => !owned(rec) }
      scores.toSeq.sortBy { case (rec, s) => (-s, rec) }.take(3)
        .zipWithIndex
        .map { case ((rec, s), i) => (cust, rec, s, (i + 1).toLong) }
    }
    assert(got.toSeq == want)
    got.foreach { case (c, p, _, _) =>
      assert(!byCust(c)(p), s"customer $c recommended owned part $p")
    }
  }

  test("g10 k-core: unrolled peels equal the true iterate-to-fixpoint core; peel binds") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("g10_kcore")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty, dir)
      // plain-Scala iterate-to-FIXPOINT peel (no round bound) — equality
      // proves KcoreRounds suffices at this scale; a fixture change that
      // needs a 7th round fails here, not silently in the oracle
      val li = graft.etl.Tables.table(spark, dir, "lineitem")
        .filter(org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(
            col("l_orderkey").cast("string")), 1, 1)
          .isin("0", "1", "2", "3"))
        .select(col("l_orderkey"), col("l_partkey")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      var edges = li.groupBy(_._1).values.flatMap { basket =>
        val ps = basket.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length)
          yield (ps(i), ps(j))
      }.toSet
      var rounds = 0
      var changed = true
      while (changed) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= GQueries.KcoreK).keySet
        val next = edges.filter(e => keep(e._1) && keep(e._2))
        changed = next != edges
        edges = next
        rounds += 1
      }
      assert(rounds <= GQueries.KcoreRounds,
        s"$dir: fixpoint needs $rounds rounds > unrolled ${GQueries.KcoreRounds}")
      val want = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, dir)
      // the core invariant and the peel's bite
      assert(got.values.forall(_ >= GQueries.KcoreK), dir)
      val allNodes = li.map(_._2).distinct.length
      assert(got.size < allNodes, s"$dir: peel removed nothing — K vacuous")
    }
  }

  test("g12 clustering coefficient: consistent with g2 counts; exact floor replay; bounds") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("g12_clustering_coeff")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    val g2 = SparkEntry.queries("g2_triangle_count")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // g12's triangle column IS g2's count wherever g2 reports one...
    g2.foreach { case (id, t) =>
      assert(got.contains(id) && got(id)._2 == t, s"node $id triangle drift")
    }
    // ...and 0 exactly on any deg≥2 node g2 omits; the dense fixture
    // closes a triangle at every such node (checked below on a star)
    (got.keySet -- g2.keySet).foreach(id => assert(got(id)._2 == 0L))
    got.foreach { case (id, (deg, t, cc)) =>
      assert(deg >= 2)
      // exact floor replay + the structural bounds: T ≤ C(deg,2) ⇒ cc ≤ 1e6
      assert(cc == BigInt(2000000) * t / (BigInt(deg) * (deg - 1)),
        s"node $id floor replay")
      assert(t <= deg * (deg - 1) / 2, s"node $id: T exceeds wedge bound")
      assert(cc >= 0L && cc <= 1000000L)
    }
    // the statistic discriminates on this graph (not all-equal)
    assert(got.values.map(_._3).toSet.size > 2)
    // zero-triangle left-join class, pinned on a hand graph the dense
    // fixture cannot produce: a 3-spoke star (hub 1) + one triangle
    // (5,6,7). Hub coefficient 0; spokes deg 1 drop; triangle nodes 1e6.
    val sess = spark
    import sess.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L), (5L, 7L),
      (6L, 7L)).toDF("u", "v")
    val cc = Graph.clusteringCoeffOf(star)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(cc(1L) == ((3L, 0L, 0L)), "star hub must report 0 triangles")
    assert(!cc.contains(2L) && !cc.contains(3L) && !cc.contains(4L))
    Seq(5L, 6L, 7L).foreach(n => assert(cc(n) == ((2L, 1L, 1000000L))))
  }
}
