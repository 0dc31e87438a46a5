package graft.ext

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField}
import org.apache.spark.storage.StorageLevel

/** Connected components over near-duplicate pair lists — the step that
  * turns pairwise dup detection into dedup groups (keep the cluster
  * representative, drop the rest).
  *
  * Algorithm: synchronous min-label propagation to a fixpoint, as
  * [[Supersteps]] rounds — each round every node adopts the smallest
  * label among itself and its neighbors. Round 1 reads each node's own
  * adjacency (no shuffle); after that only nodes whose label changed in
  * the last round send it on, so a round is one message shuffle of the
  * changed frontier's edges. The round's one job materializes the new
  * labels and counts the changed nodes together. Rounds needed = graph
  * diameter (+1 for the fixpoint check); dup clusters are near-cliques,
  * so the count stays small — the `north_star` workload records 4 at
  * seed 1 (`ext.Clusters.rounds`, e2ebench/NOTES.md).
  *
  * At extreme scale (billions of edges, long chains) swap the rounds for
  * the alternating large-star/small-star rounds of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" (SoCC'14) — same
  * join-shape, logarithmic round count on pathological chains.
  */
object Clusters {

  /** @param pairs (id1, id2) undirected edges of an integral id type, any
    *              orientation; a pair with a null end is dropped
    * @return (id, cluster) for every node appearing in pairs, cluster =
    *         min node id of the component
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    componentsWithRounds(pairs, maxIters)._1

  /** A node's label and whether the last round lowered it. */
  private final case class Label(label: Long, changed: Boolean)

  /** [[connectedComponents]] plus the number of propagation rounds run —
    * the quantity to watch as a corpus grows: rounds = graph diameter
    * (+1 for the fixpoint check), so a corpus growing with fresh content
    * must hold it flat; a rising round count means dup chains are lengthening and
    * it's time for the large-star/small-star swap documented above.
    * Throws if labels still change after `maxIters` rounds.
    */
  def componentsWithRounds(pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    // the type and nullability a union of the two id columns has
    val id = pairs.select(col("id1").as("id")).unionAll(pairs.select(col("id2").as("id")))
      .schema.head
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(id.dataType),
      s"connected components need integral node ids, got ${id.dataType}")
    val part = Supersteps.partitioner(pairs)
    def materialize(l: RDD[(Long, Label)]): Long =
      l.persist(StorageLevel.MEMORY_AND_DISK).filter(_._2.changed).count()
    // edges both ways, laid out by source; round 1 is each node's min over
    // its own adjacency
    val (edges, first, changed1) = Supersteps.reading(
        pairs.select(col("id1").cast("long"), col("id2").cast("long"))) { rows =>
      val edges = Supersteps.bothWays(rows, part)
      val first = edges.mapPartitions({ es =>
        val min = mutable.LongMap.empty[Long]
        es.foreach { case (a, b) => min(a) = math.min(min.getOrElse(a, a), b) }
        min.iterator.map { case (v, l) => (v, Label(l, l < v)) }
      }, preservesPartitioning = true)
      (edges, first, materialize(first))
    }
    var labels = first
    var changed = changed1
    var rounds = 1
    while (changed > 0) {
      if (rounds == maxIters)
        throw new IllegalStateException(s"connected components: labels still " +
          s"changing after maxIters = $maxIters rounds ($changed nodes in the last)")
      // only changed nodes send, so only they are the messages' state: a
      // partition with none of them skips its edges
      val lower = Supersteps.messages(labels.filter(_._2.changed), edges) {
        (s: Label, dst: Long) => Some((dst, s.label))
      }.reduceByKey(part, math.min(_, _))
      val next = Supersteps.leftJoin(labels, lower) { (s: Label, m: Option[Long]) =>
        m.filter(_ < s.label).fold(Label(s.label, changed = false))(Label(_, changed = true))
      }
      changed = materialize(next)
      labels.unpersist(blocking = false)
      labels = next
      rounds += 1
    }
    val out = Supersteps.frame(pairs.sparkSession,
      labels.map { case (v, s) => Row(v, s.label) },
      id, StructField("cluster", id.dataType))
    (out, rounds)
  }
}
