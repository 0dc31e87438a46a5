package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair lists — the step that
  * turns pairwise dup detection into dedup groups (keep the cluster
  * representative, drop the rest).
  *
  * Algorithm: iterative min-label propagation to a fixpoint — each round
  * every node adopts the smallest label among itself and its neighbors.
  * Rounds needed = graph diameter; dup clusters are near-cliques, so this
  * converges in 2-3 rounds in practice. Lineage is truncated per round
  * with `localCheckpoint` (on a cluster, prefer `checkpoint` to HDFS so a
  * lost executor doesn't recompute the whole loop); the fixpoint test
  * piggybacks on the same pass.
  *
  * At extreme scale (billions of edges, long chains) swap the inner loop
  * for the alternating large-star/small-star rounds of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC'14) — same
  * join-shape, logarithmic round count on pathological chains.
  */
object Clusters {

  /** @param pairs (id1, id2) undirected edges, any orientation
    * @return (id, cluster) for every node appearing in pairs, cluster =
    *         min node id of the component
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    componentsWithRounds(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of propagation rounds run —
    * the quantity to watch as a corpus grows: rounds = graph diameter
    * (+1 for the fixpoint check), so a corpus growing with fresh content
    * must hold it flat; a rising round count means dup chains are lengthening and
    * it's time for the large-star/small-star swap documented above.
    */
  def componentsWithRounds(pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionAll(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    // One propagation round: adopt the min label among self + neighbors,
    // carrying the pre-round label as `ownN` (neighbors contribute null —
    // min ignores it; every node has exactly one own-row) so the fixpoint
    // test rides the same aggregate instead of a separate join.
    def prop(l: DataFrame, carry: Seq[String], own: String): DataFrame =
      l.join(edges, col("id") === col("a"))
        .select(Seq(col("b").as("id"), col("label"),
          lit(null).cast("long").as(own)) ++
          carry.map(c => lit(null).cast("long").as(c)): _*)
        .unionAll(l.select(Seq(col("id"), col("label"),
          col("label").as(own)) ++ carry.map(col): _*))
        .groupBy("id").agg(min("label").as("label"),
          (Seq(own) ++ carry).map(c => min(c).as(c)): _*)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxIters) {
      // TWO rounds per materialization (r19, the g5 job-floor fix): the
      // loop's cost at a small-diameter graph is the per-round fixed
      // job/stage overhead (checkpoint job + fixpoint-count job), not
      // compute. Fusing a second propagation into the same DAG halves
      // the materializations and count jobs; lineage width stays 2.
      // Both halves' pre-labels ride the aggregates (`own0` = label
      // before the pair, `own1` = label between the rounds), so ONE
      // bounded aggregate recovers each half's change count and the
      // reported round total keeps the old loop's exact semantics —
      // min-label propagation is idempotent at fixpoint, so the extra
      // half-round a pair may run past convergence cannot change labels.
      val next = prop(prop(labels, Nil, "own0"), Seq("own0"), "own1")
        .localCheckpoint()
      // coalesce: with no edges both sums are null, and no node means
      // no change
      val cnt = next.agg(
        coalesce(sum(when(col("label") < col("own1"), 1L).otherwise(0L)), lit(0L)).as("c2"),
        coalesce(sum(when(col("own1") < col("own0"), 1L).otherwise(0L)), lit(0L)).as("c1"))
        .head()
      val c1 = cnt.getLong(1)
      val c2 = cnt.getLong(0)
      // the old per-round loop would have stopped at the first no-change
      // round: after round 1 of this pair if c1 == 0, else after round 2
      rounds += (if (c1 == 0) 1 else 2)
      changed = if (c1 == 0) 0 else c2
      labels = next.select(col("id"), col("label"))
    }
    (labels.select(col("id"), col("label").as("cluster")), rounds)
  }
}
