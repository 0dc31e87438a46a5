package graft
package queries

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.etl.Tables
import graft.ext.Graph.{LpaRounds, clusteringCoeffOnTri, degrees, edgesOf,
  labelPropagationOnAdj, pagerankOnAdj, triangleCountsOnAdj}
import graft.ext.Supersteps

/** Graph analytics over the part co-occurrence graph (g*) — the graph
  * family a curation/analytics engine needs beyond d6's connected
  * components: nodes are parts, an undirected edge joins two parts that
  * co-occur in at least one order, edge weight = number of co-occurring
  * orders (the "co-purchase" graph every basket dataset induces; in an
  * LLM-data setting the same shape is the doc/domain co-citation graph).
  *
  * Scale design: edge generation is a per-order self-join — pair count
  * is Σ C(basket, 2), bounded because TPC-H baskets are ≤ 7 lines (a
  * corpus with unbounded baskets caps or samples the basket first, the
  * df-cap trade d2 makes). Everything downstream runs on the EDGE list
  * (near-linear in orders), never on the all-pairs space, and triangle
  * counting orients edges by (degree, node) so wedge enumeration is
  * Σ out-deg² with out-degrees √-bounded (Suri & Vassilvitskii, WWW'11).
  * All outputs are exact longs → hash-oracled in DuckDB with the same
  * statements. The operator cores live in [[graft.ext.Graph]].
  */
object GQueries {

  /** Registry fixture: the co-occurrence graph of a DETERMINISTIC 1/4
    * order sample (md5 first hex ∈ 0–3 — the repo's standard
    * layout-independent subsample, eventsThin's device). The g* plans
    * are density-sensitive (wedge space ~ Σ deg², and this generator's
    * random-basket noise densifies super-linearly with SF), so the
    * sample keeps the GATE queries at interactive cost. Production
    * bounds density on real signal instead: a min-support threshold on
    * w (the frequent-itemset trade) or d2's df-cap on hub nodes.
    */
  private def basketItems(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .filter(substring(md5(col("l_orderkey").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))

  /** The g* family's shared lineages, held in [[Shared]] per (session,
    * dir) like Pipelines.cleanSales (the r12 perf note: g2/g3/g6/g7/g9
    * each re-paid the basket self-join ~2–3 s per run, and a single plan
    * references the edge list up to three times — wedge source, degree
    * source, anti-join probe).
    */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "edges", dir)(edgesOf(basketItems(s, dir)))

  /** g3/g6's shared candidate table: wedge-pair common-neighbor counts
    * over the undirected adjacency (g7 keeps its own enumeration — it
    * needs the center carried through the rollup).
    */
  private def pairCounts(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "pairs", dir)(
      wedgePairs(adjacency(s, dir))
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("n_common")))

  /** g2/g12's shared per-node triangle table (r19): the oriented
    * Suri–Vassilvitskii closure is the family's single most expensive
    * enumeration after the wedge space, and TWO queries consume its
    * exact output — g2 reports it, g12 joins degree onto it. Built as
    * [[graft.ext.Supersteps]] rounds over the cached [[adjacency]], read
    * in its own layout as g4 and g13 read it.
    */
  private def tri(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "tri", dir)(triangleCountsOnAdj(adjacency(s, dir)))

  /** The undirected adjacency, cached ALREADY HASH-PARTITIONED by `u`
    * (r18): InMemoryRelation preserves its child's output partitioning,
    * so every consumer keyed by the node — the wedge self-join's two
    * sides AND the degree aggregate — rides the cached layout with ZERO
    * exchanges. Before this, each wedge consumer shuffled the adjacency
    * twice per run (the two self-join exchanges canonicalize unequal —
    * profiled in g7: 2 × 605 k-row writes of identical content,
    * ReuseExchange never fired) plus once more for the degree agg. The
    * cache-partitioned-by-join-key shape is the in-session analog of a
    * bucketed graph layout, which is how a 100 TB adjacency is stored
    * anyway (guide §2.4: bucketed tables persist a partitioning so
    * repeated joins/aggregations skip the shuffle).
    */
  private def adjacency(s: SparkSession, dir: String): DataFrame =
    // carries w since r19 so g9's item-item scoring rides the same
    // cached layout (columnar pruning drops w from the wedge consumers'
    // scans, so their shuffles stay as narrow as before)
    Shared.frame(s, "adj", dir)(PartitionOps.repartitionBeforeFanout(
      edges(s, dir).select("u", "v", "w").unionAll(
        edges(s, dir).select(col("v").as("u"), col("u").as("v"), col("w"))),
      col("u")))

  /** Edge CTEs shared by every g* oracle — same statement as [[edges]],
    * same md5 quarter-sample gate.
    */
  private val edgesSql =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |       WHERE substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')),
      |edges AS (SELECT a.pk AS u, b.pk AS v, COUNT(*) AS w
      |          FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |          GROUP BY a.pk, b.pk)""".stripMargin

  /** g2/g12's oracle CTEs: the edges, a degree table and the oriented
    * Suri–Vassilvitskii closure `tris`, one row per triangle.
    */
  private def triangleCtes: String =
    s"""$edgesSql,
       |deg AS (SELECT node, COUNT(*) AS degree
       |        FROM (SELECT u AS node FROM edges
       |              UNION ALL SELECT v AS node FROM edges)
       |        GROUP BY node),
       |oriented AS (SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
       |                         THEN e.u ELSE e.v END AS s,
       |                    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
       |                         THEN e.v ELSE e.u END AS t,
       |                    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
       |                         THEN dv.degree ELSE du.degree END AS dt
       |             FROM edges e
       |             JOIN deg du ON e.u = du.node
       |             JOIN deg dv ON e.v = dv.node),
       |tris AS (SELECT a.s AS x, a.t AS y, b.t AS z
       |         FROM oriented a
       |         JOIN oriented b ON a.s = b.s
       |           AND (a.dt, a.t) < (b.dt, b.t)
       |         JOIN oriented c ON c.s = a.t AND c.t = b.t)""".stripMargin

  /** Per-node degree table CTE (both endpoints of every edge). */
  private val degSql =
    """deg AS (SELECT node, COUNT(*) AS degree, SUM(w) AS strength
      |        FROM (SELECT u AS node, w FROM edges
      |              UNION ALL SELECT v AS node, w FROM edges)
      |        GROUP BY node)""".stripMargin

  /** (id1 < id2, center) wedge enumeration over the node-ordered
    * adjacency — the ONE candidate generator behind g3/g6/g7 (their
    * scores differ; the wedge space and its Σ deg² bound do not).
    */
  private def wedgePairs(adj: DataFrame): DataFrame = {
    // Callers pass [[adjacency]] (cached, u-keyed) so the self-join adds
    // no exchange; the guard repartition below is elided by
    // EnsureRequirements when the input already carries
    // hashpartitioning(u, n) and protects any future un-keyed caller.
    val keyed = PartitionOps.repartitionBeforeFanout(adj, col("u"))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b, col("a.u") === col("b.u") && col("a.v") < col("b.v"))
      .select(col("a.v").as("id1"), col("b.v").as("id2"),
        col("a.u").as("center"))
  }

  /** The shared prediction gate: drop already-adjacent pairs, keep the
    * n_common ≥ 3 support floor (one definition so the three consumers
    * cannot drift).
    */
  private def predictions(scored: DataFrame, e: DataFrame): DataFrame =
    // The trailing explicit exchange is a materialization barrier for the
    // consumers' total ORDER BY (r18): a range exchange samples its child
    // to compute bounds, then executes it AGAIN to partition — and here
    // the child is the whole wedge-space aggregation (g7 profiled: two
    // 10.2 M-row-read final-agg passes, ~7 s of task time each). Behind
    // this barrier the sort's two passes read a materialized ≤|predictions|
    // shuffle instead of re-running the aggregation.
    // keyed by id1 ALONE: keying by (id1, id2) matches the upstream pair
    // aggregate's partitioning key-for-key and EnsureRequirements elides
    // the exchange as redundant (measured — the plan was unchanged)
    PartitionOps.repartitionBeforeFanout(
      scored.join(e.select(col("u").as("id1"), col("v").as("id2")),
          Seq("id1", "id2"), "left_anti")
        .filter(col("n_common") >= 3),
      col("id1"))

  /** g9 core over an ALREADY-undirected (u, v, w) adjacency — g9 passes
    * the family's u-keyed cached [[adjacency]] so the incidence join's
    * adjacency side rides the cached partitioning (r19: previously each
    * rep re-built and re-shuffled the 605 k-row union).
    */
  private[graft] def coPurchaseRecsOnAdj(bought: DataFrame,
      undirectedAdj: DataFrame): DataFrame = {
    val adj = undirectedAdj.select(col("u").as("pk"), col("v").as("rec"),
      col("w"))
    val wdw = Window.partitionBy("cust")
      .orderBy(col("score").desc, col("rec"))
    bought.join(adj, "pk")
      .groupBy(col("cust"), col("rec"))
      .agg(sum("w").as("score"))
      .join(bought.select(col("cust"), col("pk").as("rec")),
        Seq("cust", "rec"), "left_anti")
      .withColumn("rn", row_number().over(wdw))
      .filter(col("rn") <= 3)
      .select(col("cust").as("customer_id"), col("rec").as("product_id"),
        col("score").cast("long").as("score"),
        col("rn").cast("long").as("rank"))
      .orderBy("customer_id", "rank")
  }

  /** g10's core order and unrolled peel depth. K = 15 puts the fixture
    * graphs mid-transition (the random co-purchase graph is near-complete
    * below k≈12 and core-free above k≈21 — measured), so the peel
    * genuinely removes nodes at every gate scale. KcoreRounds = 6 covers
    * the measured fixpoint at sf0.001 (4), sf0.01 (4) and sf0.1 (6);
    * GraphSpec asserts the unrolled result EQUALS the true iterate-to-
    * fixpoint core, so a fixture change that needed round 7 fails loudly
    * instead of shipping a not-quite-core.
    */
  val KcoreK = 15

  val KcoreRounds = 6

  /** g10 core over an undirected (u < v) edge list as [[Supersteps]]
    * rounds in one lazy chain, the edges read both ways and laid out by
    * source. Round 1 counts each source's degree in its own partition;
    * later rounds send a 1 from each kept node to each neighbour and keep
    * the counts `>= KcoreK` (a dropped node's count only falls, so it is
    * never re-admitted). One more round gives the survivors' degrees in
    * the core; a survivor with none drops out, as in the oracle.
    */
  private[graft] def kcoreOf(e0raw: DataFrame): DataFrame = {
    val part = Supersteps.partitioner(e0raw)
    val edges = Supersteps.reading(e0raw.select(col("u").cast("long"),
      col("v").cast("long")))(Supersteps.bothWays(_, part))
    def keptDegrees(keep: RDD[(Long, Long)]): RDD[(Long, Long)] =
      Supersteps.messages(keep, edges)((_: Long, dst: Long) => Some((dst, 1L)))
        .reduceByKey(part, _ + _)
    var keep = Supersteps.degrees(edges).filter(_._2 >= KcoreK)
    for (_ <- 2 to KcoreRounds) keep = keptDegrees(keep).filter(_._2 >= KcoreK)
    val core = Supersteps.leftJoin(keep, keptDegrees(keep)) { (_: Long, d: Option[Long]) =>
      d.getOrElse(0L)
    }.filter(_._2 > 0)
    Supersteps.frame(e0raw.sparkSession, core.map { case (v, d) => Row(v, d) },
      e0raw.schema("u").copy(name = "part_id"),
      StructField("core_deg", LongType, nullable = false))
      .orderBy("part_id")
  }

  val all: Seq[Query] = Seq(
    // — per-node degree profile: distinct-neighbor degree and weighted
    //   strength for every part in the graph. One union + one hash agg
    //   over the edge list — the node table is what sizes every later
    //   graph pass (orientation keys, partition counts), so it is the
    //   family's anchor query. Exact longs. —
    Query("g1_degree_profile", ((s, dir) =>
      degrees(edges(s, dir))
        .select(col("node").as("part_id"), col("degree"), col("strength"))
        .orderBy("part_id")), Some(Oracle.sqlWith(s"$edgesSql,\n$degSql",
      """SELECT node AS part_id, degree, CAST(strength AS BIGINT) AS strength
        |FROM deg ORDER BY part_id""".stripMargin))),
    // — per-node triangle participation, degree-ordered: orient every
    //   edge from its (degree, node)-smaller endpoint to the larger;
    //   wedges are pairs of out-edges of one source, a triangle closes
    //   when the oriented edge between the two targets exists — which,
    //   because orientation is a TOTAL order, can only be oriented
    //   small→large, so one equi-join probe per wedge finds it and every
    //   triangle is enumerated exactly once (charged to its
    //   lowest-ordered vertex). Out-degrees under this orientation are
    //   O(√|E|)-bounded whatever the degree skew (a hub's edges point
    //   INTO it), which is what keeps Σ out-deg² — the wedge count, the
    //   only super-linear term — polynomially smaller than the naive
    //   Σ deg² on a skewed graph. The closure runs as message rounds
    //   over the cached adjacency (see triangleCountsOnAdj): each wedge
    //   is checked in its middle node's partition against that node's
    //   out-edges, and each closed triangle credits its three corners. —
    // rides the shared [[tri]] cache (r19): g2 and g12 consume the same
    // per-node triangle table; the closure enumeration runs once per
    // corpus (rep 1), the report is a sort over its output
    Query("g2_triangle_count", ((s, dir) => tri(s, dir).orderBy("part_id")), Some(Oracle.sqlWith(
      triangleCtes,
      """SELECT part_id, COUNT(*) AS n_triangles
        |FROM (SELECT x AS part_id FROM tris
        |      UNION ALL SELECT y FROM tris
        |      UNION ALL SELECT z FROM tris)
        |GROUP BY part_id ORDER BY part_id""".stripMargin))),
    // — common-neighbor link prediction: for every NON-adjacent part
    //   pair reachable in two hops, the number of shared neighbors —
    //   the classic "customers who bought X also bought Y" candidate
    //   score. Wedge enumeration over the node-ordered adjacency (both
    //   directions of each edge, centers enumerate their neighbor
    //   pairs), one groupBy on the pair, then a LEFT ANTI against the
    //   edge list drops already-connected pairs. Reported at
    //   n_common ≥ 3 to keep the prediction table the small output a
    //   recommender would consume (the wedge space itself is the g2
    //   bound). —
    Query("g3_common_neighbors", ((s, dir) => {
      val e = edges(s, dir).select("u", "v")
      predictions(pairCounts(s, dir), e).orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |adj AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |pairs AS (SELECT a.v AS id1, b.v AS id2, COUNT(*) AS n_common
         |          FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
         |          GROUP BY a.v, b.v)""".stripMargin,
      """SELECT id1, id2, n_common FROM pairs p
        |WHERE n_common >= 3
        |  AND NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = p.id1 AND e.v = p.id2)
        |ORDER BY id1, id2""".stripMargin))),
    // — PageRank, integer-exact: 3 unrolled power iterations of the
    //   UNNORMALIZED form (r0 = SCALE per node; ranking is invariant
    //   under uniform scaling, so the per-node teleport constant
    //   replaces the 1/N division and no global count enters the
    //   plan). Every quantity is a LONG with FLOOR division —
    //   contrib(u→v) = (r_u·w_uv) div W_u, r'_v = 15%·SCALE +
    //   (85·Σcontrib) div 100 — because floor division of positive
    //   longs is bit-identical on every engine, where float PageRank's
    //   Σcontrib depends on summation order and can never hash-match
    //   cross-engine. Precision: SCALE = 10¹² makes the floor loss
    //   ≤ deg ulps per node per iteration — ~10⁻¹⁰ relative, far below
    //   any ranking use. Overflow headroom: r ≤ ~SCALE·deg after an
    //   iteration never exceeds 2⁶³ with 10¹²·10⁴ ≪ 9.2·10¹⁸ margins
    //   at any realistic degree. Per iteration: one shuffle of
    //   (node, contrib) longs summed map-side, over the cached
    //   adjacency read in its own layout (ext.Supersteps) — 3 fixed
    //   rounds, no driver loop, one lazy chain. —
    // g4 oracle: the same three unrolled integer iterations — floor division
    // of positive longs (DuckDB //, Spark div) is engine-exact where
    // float PageRank never hashes the same twice
    Query("g4_pagerank", ((s, dir) => pagerankOnAdj(adjacency(s, dir))), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |adjp AS (SELECT u, v, w FROM edges UNION ALL SELECT v, u, w FROM edges),
         |woutp AS (SELECT u, SUM(w) AS wout FROM adjp GROUP BY u),
         |adjw AS (SELECT a.u, a.v, a.w, o.wout FROM adjp a JOIN woutp o ON a.u = o.u),
         |r0 AS (SELECT DISTINCT u AS node, CAST(1000000000000 AS BIGINT) AS pr FROM adjp),
         |r1 AS (SELECT a.v AS node,
         |         150000000000 + (85 * SUM((r.pr * a.w) // a.wout)) // 100 AS pr
         |       FROM adjw a JOIN r0 r ON a.u = r.node GROUP BY a.v),
         |r2 AS (SELECT a.v AS node,
         |         150000000000 + (85 * SUM((r.pr * a.w) // a.wout)) // 100 AS pr
         |       FROM adjw a JOIN r1 r ON a.u = r.node GROUP BY a.v),
         |r3 AS (SELECT a.v AS node,
         |         150000000000 + (85 * SUM((r.pr * a.w) // a.wout)) // 100 AS pr
         |       FROM adjw a JOIN r2 r ON a.u = r.node GROUP BY a.v)""".stripMargin,
      """SELECT node AS part_id, CAST(pr AS BIGINT) AS pr
        |FROM r3 ORDER BY part_id""".stripMargin))),
    // — general connected components (d6's operator promoted to a
    //   first-class graph query, on a graph that is NOT near-clique
    //   shaped): component id = min part id reachable. Reuses the d6
    //   min-label propagation loop — per round one message shuffle from
    //   the nodes the last round changed, min-reduced, one job;
    //   rounds = diameter, and the co-purchase graph is dense
    //   (short diameter — the probe tracks the round count exactly as
    //   it does for d6, with the Kiveris large-star/small-star swap as
    //   the documented escape hatch if a sparser graph lengthens it).
    //   Oracled by a recursive reachability CTE (the d6 device): the
    //   oracle states WHAT a component is, min over reachable ids,
    //   independent of how the propagation computes it. —
    // reads the family's shared edge list, like every g* query: the
    // basket self-join is built once per session (connectedComponents
    // then shuffles both directions of it by source in its first round)
    // g5 oracle: component = MIN reachable id, stated as recursive reachability
    // (the d6 oracle device) — algorithm-independent of the propagation.
    // Replay cost note: the reach CTE is O(n·|component|) — fine at the
    // sf0.01 gate (~4M rows), ~4·10⁸ rows at sf0.1 where the quarter
    // sample is ONE 19,989-node component; the sweep verifies sf0.1 by
    // the cheap component axioms instead (no cross-component edge +
    // label = min member + full node coverage)
    Query("g5_connected_components", ((s, dir) =>
      graft.ext.Clusters.connectedComponents(
        edges(s, dir).select(col("u").as("id1"), col("v").as("id2")))
        .select(col("id").as("part_id"), col("cluster").as("component"))
        .orderBy("part_id")), Some(Oracle.sqlRecursive(
      s"""$edgesSql,
         |adjcc AS (SELECT u AS a, v AS b FROM edges
         |          UNION ALL SELECT v, u FROM edges),
         |reach(id, r) AS (
         |  SELECT DISTINCT a, a FROM adjcc
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN adjcc e ON e.a = reach.id)""".stripMargin,
      """SELECT id AS part_id, MIN(r) AS component
        |FROM reach GROUP BY id ORDER BY part_id""".stripMargin))),
    // — neighborhood Jaccard link scoring (g3's candidates, properly
    //   normalized): |N(u)∩N(v)| / |N(u)∪N(v)| for every non-adjacent
    //   candidate pair — the score a "related items" recommender
    //   actually ranks by (raw common-neighbor counts just surface hub
    //   pairs). Intersection = g3's wedge count; union by
    //   inclusion-exclusion from the two degrees, so NO second pair
    //   pass — two broadcast-able degree joins onto the candidate
    //   table. Reported as a ×10⁶ fixed-point integer (floor division
    //   of non-negative longs — engine-exact where a float ratio's
    //   rounding is not guaranteed to hash cross-engine). —
    Query("g6_jaccard_neighbors", ((s, dir) => {
      val e = edges(s, dir).select("u", "v")
      // u-keyed cached adjacency: the degree agg rides the cached
      // partitioning, exchange-free (see [[adjacency]])
      val deg = adjacency(s, dir).groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("degree"))
      predictions(pairCounts(s, dir), e)
        .join(deg.select(col("node").as("id1"), col("degree").as("d1")), "id1")
        .join(deg.select(col("node").as("id2"), col("degree").as("d2")), "id2")
        .select(col("id1"), col("id2"), col("n_common"),
          expr("(1000000 * n_common) div (d1 + d2 - n_common)")
            .as("jaccard_e6"))
        .orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |adj AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |degj AS (SELECT u AS node, COUNT(*) AS degree FROM adj GROUP BY u),
         |pairs AS (SELECT a.v AS id1, b.v AS id2, COUNT(*) AS n_common
         |          FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v
         |          GROUP BY a.v, b.v)""".stripMargin,
      """SELECT id1, id2, n_common,
        |       (1000000 * n_common) // (d1.degree + d2.degree - n_common)
        |         AS jaccard_e6
        |FROM pairs p
        |JOIN degj d1 ON d1.node = p.id1
        |JOIN degj d2 ON d2.node = p.id2
        |WHERE n_common >= 3
        |  AND NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = p.id1 AND e.v = p.id2)
        |ORDER BY id1, id2""".stripMargin))),
    // — resource-allocation link score (Zhou/Lü/Zhang 2009): Σ over the
    //   COMMON neighbors w of 1/deg(w) — the link-prediction index that
    //   discounts hub-mediated wedges (a shared neighbor of degree 500
    //   is weak evidence; one of degree 3 is strong), consistently among
    //   the strongest local indices in the published benchmarks. Chosen
    //   over Adamic–Adar deliberately: AA's 1/log(deg) weights are
    //   transcendental (float sums — never hash-exact cross-engine),
    //   while RA's weights are exact fixed-point integers (10⁹ div deg,
    //   an order-free integer sum — the t19 Rényi-vs-Shannon trade
    //   again). Same wedge enumeration as g3 with the center CARRIED;
    //   one broadcast-able degree join on the center key. —
    Query("g7_resource_allocation", ((s, dir) => {
      val e = edges(s, dir).select("u", "v")
      // u-keyed cached adjacency: both wedge self-join sides AND the
      // degree agg ride the cached partitioning, exchange-free
      val adj = adjacency(s, dir)
      val deg = adj.groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("degree"))
      val scored = wedgePairs(adj)
        .join(deg.select(col("node").as("center"), col("degree").as("dc")),
          "center")
        .groupBy("id1", "id2")
        .agg(count(lit(1)).as("n_common"),
          sum(expr("1000000000 div dc")).as("ra_e9"))
      predictions(scored, e).orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |adj AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |degj AS (SELECT u AS node, COUNT(*) AS degree FROM adj GROUP BY u),
         |wed AS (SELECT a.v AS id1, b.v AS id2, a.u AS center
         |        FROM adj a JOIN adj b ON a.u = b.u AND a.v < b.v),
         |sc AS (SELECT id1, id2, COUNT(*) AS n_common,
         |              CAST(SUM(1000000000 // d.degree) AS BIGINT) AS ra_e9
         |       FROM wed JOIN degj d ON d.node = wed.center
         |       GROUP BY id1, id2)""".stripMargin,
      """SELECT id1, id2, n_common, ra_e9 FROM sc p
        |WHERE n_common >= 3
        |  AND NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = p.id1 AND e.v = p.id2)
        |ORDER BY id1, id2""".stripMargin))),
    Query("g8_association_rules", ((s, dir) => {
      val li = basketItems(s, dir).distinct()
      val n = li.agg(countDistinct("ok").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)).as("n_orders"))
      val ic = li.groupBy("pk").agg(count(lit(1)).as("cnt"))
      val e = edges(s, dir)
      val rules = e.select(col("u").as("ante"), col("v").as("cons"), col("w"))
        .unionAll(
          e.select(col("v").as("ante"), col("u").as("cons"), col("w")))
      rules
        .join(ic.select(col("pk").as("ante"), col("cnt").as("na")), "ante")
        .join(ic.select(col("pk").as("cons"), col("cnt").as("nb")), "cons")
        .crossJoin(broadcast(n))
        .filter(col("w") >= 2)
        .select(col("ante"), col("cons"), col("w").as("support"),
          expr("(1000000 * w) div na").as("confidence_e6"),
          expr("""(1000000 * cast(w as decimal(38,0)) * n_orders) div
                  (cast(na as decimal(38,0)) * cast(nb as decimal(38,0)))""")
            .as("lift_e6"))
        .filter(col("confidence_e6") >= 100000)
        .orderBy("ante", "cons")
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |n8 AS (SELECT CAST(COUNT(DISTINCT ok) AS HUGEINT) AS n_orders FROM li),
         |ic8 AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY pk),
         |rules8 AS (SELECT u AS ante, v AS cons, w FROM edges
         |           UNION ALL SELECT v, u, w FROM edges)""".stripMargin,
      """SELECT ante, cons, CAST(w AS BIGINT) AS support,
        |       CAST((1000000 * w) // ia.cnt AS BIGINT) AS confidence_e6,
        |       CAST((1000000 * CAST(w AS HUGEINT) * n_orders)
        |            // (CAST(ia.cnt AS HUGEINT) * CAST(ib.cnt AS HUGEINT))
        |            AS BIGINT) AS lift_e6
        |FROM rules8 r
        |JOIN ic8 ia ON ia.pk = r.ante
        |JOIN ic8 ib ON ib.pk = r.cons, n8
        |WHERE w >= 2 AND (1000000 * w) // ia.cnt >= 100000
        |ORDER BY ante, cons""".stripMargin))),
    // — association rules over the co-purchase baskets (g8): the
    //   level-1 frequent-itemset surface every retail/recommendation
    //   stack ships — directed rules A→B with support n(AB),
    //   confidence P(B|A) = n(AB)/n(A), and lift
    //   P(AB)/(P(A)·P(B)) = n(AB)·N/(n(A)·n(B)). Pair counts ARE g1's
    //   edge weights (the basket-bounded Σ C(basket,2) join, the
    //   family's probed bound); item counts are one groupBy on the
    //   distinct membership table; N enters IN-PLAN as a broadcast
    //   one-row agg (the x9/t16b device — no driver count). Both
    //   ratios are ×10⁶ fixed-point floor divisions of exact counts;
    //   lift's n(AB)·N·10⁶ numerator rides DECIMAL(38)/HUGEINT for
    //   extreme-scale headroom. support ≥ 2 and confidence ≥ 10 %
    //   bound the rule table the way a recommender would. —
    // — item-based co-purchase recommendations (g9): "customers also
    //   bought" — for each customer, the top-3 parts they have NOT
    //   bought, scored by Σ co-occurrence weight from the parts they
    //   HAVE (classic item-item collaborative filtering; the g* edge
    //   list IS the item-item model). One incidence join of the
    //   (customer, part) purchase table against the undirected adjacency
    //   — bounded by Σ degree over purchases, the family's wedge
    //   argument, never |customers|×|parts| — then a partial-agg'able
    //   score rollup, LEFT ANTI vs owned parts, and a per-customer
    //   top-3 window over the candidate set (bounded by the
    //   neighborhood of the basket; production caps hubs with the g8
    //   min-support knob). Integer scores → hash-exact. —
    // g9 oracle: the same incidence-join statement; NOT EXISTS ≡ LEFT ANTI
    Query("g9_co_purchase_recs", ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("cust"))
      // localCheckpoint (r19): bought feeds BOTH the incidence join and
      // the owned-parts anti-join — without it the lineitem quarter-
      // sample scan + orders join + distinct ran twice per execution.
      // The checkpointed distinct keeps its hash(cust, pk) layout, so
      // the anti-join's build side arrives co-partitioned with the
      // (cust, rec) score aggregate for free.
      val bought = basketItems(s, dir).join(o, "ok")
        .select("cust", "pk").distinct().localCheckpoint()
      coPurchaseRecsOnAdj(bought, adjacency(s, dir))
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |bought9 AS (SELECT DISTINCT o.o_custkey AS cust, li.pk
         |            FROM li JOIN orders o ON li.ok = o.o_orderkey),
         |adj9 AS (SELECT u AS pk, v AS rec, w FROM edges
         |         UNION ALL SELECT v, u, w FROM edges),
         |sc9 AS (SELECT b.cust, a.rec, CAST(SUM(a.w) AS BIGINT) AS score
         |        FROM bought9 b JOIN adj9 a USING (pk)
         |        GROUP BY b.cust, a.rec),
         |rk9 AS (SELECT cust, rec, score,
         |               ROW_NUMBER() OVER (PARTITION BY cust
         |                                  ORDER BY score DESC, rec) AS rn
         |        FROM sc9 s
         |        WHERE NOT EXISTS (SELECT 1 FROM bought9 b
         |                          WHERE b.cust = s.cust AND b.pk = s.rec))""".stripMargin,
      """SELECT cust AS customer_id, rec AS product_id, score,
        |       CAST(rn AS BIGINT) AS rank
        |FROM rk9 WHERE rn <= 3
        |ORDER BY customer_id, rank""".stripMargin))),
    // — k-core decomposition (g10): the dense-subgraph extraction every
    //   graph pipeline wants before community/embedding passes — peel
    //   nodes with degree < K until the survivors all have ≥ K neighbors
    //   WITHIN the survivor set. Each round is one message shuffle of
    //   the kept nodes' edges (ext.Supersteps); rounds are unrolled to
    //   the measured fixpoint depth with the true-core equality
    //   spec-pinned (see [[kcoreOf]]) — the g4 bounded-unroll discipline
    //   applied to a monotone shrinking process, so a plain chained SQL
    //   statement can state it and the oracle hashes it. Reads the shared
    //   edge cache, so warm reps skip the basket self-join. —
    // g10 oracle: the same KcoreRounds unrolled peels — per round a degree agg
    // and the two-sided restriction, stated as chained CTEs. MATERIALIZED
    // is load-bearing: each round references its predecessor three times,
    // and DuckDB's default CTE inlining would expand the chain to 3⁶
    // scans of the base parquet (measured: "too many open files"). The
    // Spark side never re-plans a round: each round's input is the
    // previous round's shuffle output.
    Query("g10_kcore", ((s, dir) => kcoreOf(edges(s, dir))), Some({
      val rounds = (1 to KcoreRounds).map { r =>
        s"""kd$r AS MATERIALIZED (SELECT node, COUNT(*) AS d
           |         FROM (SELECT u AS node FROM ke${r - 1}
           |               UNION ALL SELECT v AS node FROM ke${r - 1})
           |         GROUP BY node HAVING COUNT(*) >= $KcoreK),
           |ke$r AS MATERIALIZED (SELECT e.u, e.v FROM ke${r - 1} e
           |         WHERE e.u IN (SELECT node FROM kd$r)
           |           AND e.v IN (SELECT node FROM kd$r))""".stripMargin
      }.mkString(",\n")
      Oracle.sqlWith(
        s"""$edgesSql,
           |ke0 AS MATERIALIZED (SELECT u, v FROM edges),
           |$rounds""".stripMargin,
        s"""SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS core_deg
           |FROM (SELECT u AS node FROM ke$KcoreRounds
           |      UNION ALL SELECT v AS node FROM ke$KcoreRounds)
           |GROUP BY node ORDER BY part_id""".stripMargin)
    })),
    // g11 oracle: same edge labeling, same exact weight sums, the same
    // HUGEINT-cleared numerator funneled through ONE double division
    // (no integer floor — q_num can be negative, the div/// trap)
    Query("g11_category_modularity", ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cat = Tables.table(s, dir, "part")
        .select(col("p_partkey").as("node"), col("p_type").as("category"))
      val labeled = edges(s, dir)
        .join(broadcast(cat.select(col("node").as("u"),
          col("category").as("cu"))), "u")
        .join(broadcast(cat.select(col("node").as("v"),
          col("category").as("cv"))), "v")
      val strength = labeled
        .select(col("cu").as("category"), col("w"))
        .unionAll(labeled.select(col("cv").as("category"), col("w")))
        .groupBy("category").agg(sum("w").as("strength"))
      val nNodes = labeled
        .select(col("u").as("node"), col("cu").as("category"))
        .unionAll(labeled.select(col("v").as("node"),
          col("cv").as("category")))
        .distinct()
        .groupBy("category").agg(count(lit(1)).as("n_nodes"))
      val intra = labeled.filter(col("cu") === col("cv"))
        .groupBy(col("cu").as("category")).agg(sum("w").as("intra_w"))
      val mTot = edges(s, dir).groupBy().agg(sum("w").as("m"))
      val m38 = col("m").cast(d38)
      val qNum = lit(4) * m38 * coalesce(col("intra_w"), lit(0L)) -
        col("strength").cast(d38) * col("strength")
      strength
        .join(nNodes, Seq("category"))
        .join(intra, Seq("category"), "left")
        .crossJoin(broadcast(mTot))
        .select(col("category"), col("n_nodes"),
          coalesce(col("intra_w"), lit(0L)).as("intra_w"),
          col("strength"),
          (qNum.cast("double") /
            (lit(4) * m38 * m38).cast("double")).as("q_contrib"))
        .orderBy("category")
    }), Some(Oracle.sqlWith(
      s"""$edgesSql,
         |cat11 AS (SELECT p_partkey AS node, p_type AS category FROM part),
         |lab11 AS (SELECT e.u, e.v, e.w,
         |                 cu.category AS cu, cv.category AS cv
         |          FROM edges e JOIN cat11 cu ON e.u = cu.node
         |                       JOIN cat11 cv ON e.v = cv.node),
         |m11 AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM edges),
         |st11g AS (SELECT category, CAST(SUM(w) AS BIGINT) AS strength
         |          FROM (SELECT cu AS category, w FROM lab11
         |                UNION ALL SELECT cv, w FROM lab11)
         |          GROUP BY category),
         |nn11 AS (SELECT category, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |         FROM (SELECT DISTINCT node, category
         |               FROM (SELECT u AS node, cu AS category FROM lab11
         |                     UNION ALL SELECT v, cv FROM lab11))
         |         GROUP BY category),
         |in11 AS (SELECT cu AS category, CAST(SUM(w) AS BIGINT) AS intra_w
         |         FROM lab11 WHERE cu = cv GROUP BY cu)""".stripMargin,
      """SELECT s.category, n.n_nodes,
        |       COALESCE(i.intra_w, 0) AS intra_w, s.strength,
        |       CAST(4 * CAST(m.m AS HUGEINT) * COALESCE(i.intra_w, 0)
        |            - CAST(s.strength AS HUGEINT) * s.strength AS DOUBLE)
        |         / CAST(4 * CAST(m.m AS HUGEINT) * m.m AS DOUBLE)
        |         AS q_contrib
        |FROM st11g s JOIN nn11 n ON s.category = n.category
        |LEFT JOIN in11 i ON s.category = i.category, m11 m
        |ORDER BY s.category""".stripMargin))),
    // — category modularity (g11): does the co-purchase graph organize
    //   along the CATALOG's partition, or do baskets cross categories
    //   freely? Newman modularity of the p_type partition — per
    //   category c, the contribution e_c/m − (d_c/2m)² (intra-category
    //   edge weight vs the degree-preserving null model; Newman &
    //   Girvan 2004), Q = Σ_c contrib. In an LLM-data setting the same
    //   statement scores how strongly a doc/domain co-citation graph
    //   aligns with a topic or source labeling — the diagnostic behind
    //   "should I shard/curate by this attribute". Everything on the
    //   comparison path is exact: e_c, d_c, m are integer weight sums,
    //   the cleared numerator q_num = 4m·e_c − d_c² rides DECIMAL(38)/
    //   HUGEINT (m² at 10¹² edges exceeds a long), and the contribution
    //   is ONE pinned decimal→double division — NOT an integer ×10⁶
    //   floor, because q_num is legitimately NEGATIVE for categories
    //   with less intra-weight than chance and floor-division semantics
    //   on negatives is exactly where engines disagree (the w16 div
    //   vs // caveat, avoided by construction). Plan: two broadcast
    //   part-dim joins label the cached edge list's endpoints, one
    //   union+agg each for strengths/node counts, a filtered agg for
    //   intra weight, the ONE-row total-weight scalar cross
    //   (whitelisted). Domain-bounded output (≤|p_type| rows). —
    // — local clustering coefficient (g12): per-node closure rate
    //   2T_i / (deg_i·(deg_i−1)) — the node-level statistic under g2's
    //   global triangle count and g11's partition score: which nodes
    //   sit in tight near-cliques (bundles, co-bought sets) versus
    //   hub-and-spoke stars (generic connectors a recommender should
    //   discount)? T_i comes from the shared Suri–Vassilvitskii
    //   oriented closure (g2's [[tri]] entry — every triangle found
    //   once, each corner credited once), degree from the distinct
    //   undirected adjacency. Nodes in NO triangle still report (left
    //   join, 0 — they are the statistic's point); deg<2 is filtered
    //   (coefficient undefined). ×10⁶ floor on DECIMAL(38)/HUGEINT —
    //   2·10⁶·T wraps a long once T > 4.6·10¹², and hub nodes on a
    //   100 TB co-citation graph genuinely get there. The closure
    //   itself is g2's; g12 adds a degree aggregate and one join. —
    // g12 oracle: g2's exact oriented-closure CTEs + the degree table, left
    // join (no-triangle nodes report 0), same ×10⁶ HUGEINT floor
    Query("g12_clustering_coeff", ((s, dir) =>
      clusteringCoeffOnTri(edges(s, dir).select("u", "v"), tri(s, dir))), Some(Oracle.sqlWith(
      triangleCtes + """,
        |tc12 AS (SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |         FROM (SELECT x AS part_id FROM tris
        |               UNION ALL SELECT y FROM tris
        |               UNION ALL SELECT z FROM tris)
        |         GROUP BY part_id)""".stripMargin,
      """SELECT d.node AS part_id, CAST(d.degree AS BIGINT) AS degree,
        |       COALESCE(t.n_triangles, 0) AS n_triangles,
        |       CAST((2000000 * CAST(COALESCE(t.n_triangles, 0) AS HUGEINT))
        |         // (CAST(d.degree AS HUGEINT) * (d.degree - 1))
        |         AS BIGINT) AS cc_e6
        |FROM deg d LEFT JOIN tc12 t ON d.node = t.part_id
        |WHERE d.degree >= 2 ORDER BY part_id""".stripMargin))),
    // — label-propagation communities (g13): the DISCOVERY companion
    //   to g11's fixed-partition modularity and g5's connectivity —
    //   g5 answers "which nodes are reachable", g13 answers "which
    //   nodes cluster densely": co-purchase communities emerge from
    //   weighted majority voting without any target community count
    //   or parameter. Everything integer (labels are node ids, votes
    //   are edge-weight sums, ties to min label), synchronous and
    //   round-bounded — see LpaRounds for determinism and
    //   labelPropagationOnAdj for the per-round one-shuffle shape. Output: every node's
    //   community plus its size (the dup-cluster-style census). —
    // g13 oracle: the same 4 synchronous rounds unrolled — weighted majority
    // as a (u, label) aggregate + ROW_NUMBER argmax with the identical
    // (wt DESC, label ASC) tie order; MATERIALIZED per round (the v11
    // lesson: inlined round chains expand exponentially)
    Query("g13_label_propagation", ((s, dir) =>
      labelPropagationOnAdj(adjacency(s, dir))), Some({
      val rounds = (1 to LpaRounds).map { r =>
        s"""t13_$r AS MATERIALIZED (
           |  SELECT a.u, l.label, CAST(SUM(a.w) AS BIGINT) AS wt
           |  FROM adj13 a JOIN l13_${r - 1} l ON l.node = a.v
           |  GROUP BY a.u, l.label),
           |l13_$r AS MATERIALIZED (
           |  SELECT u AS node, label
           |  FROM (SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
           |          ORDER BY wt DESC, label ASC) AS rn
           |        FROM t13_$r)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      Oracle.sqlWith(
        s"""$edgesSql,
           |adj13 AS MATERIALIZED (SELECT u, v, w FROM edges
           |                       UNION ALL
           |                       SELECT v AS u, u AS v, w FROM edges),
           |l13_0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label
           |                       FROM adj13),
           |$rounds,
           |sz13 AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS comm_size
           |         FROM l13_$LpaRounds GROUP BY label)""".stripMargin,
        s"""SELECT CAST(l.node AS BIGINT) AS part_id,
           |       CAST(l.label AS BIGINT) AS community,
           |       s.comm_size
           |FROM l13_$LpaRounds l JOIN sz13 s ON s.label = l.label
           |ORDER BY part_id""".stripMargin)
    })))
}
