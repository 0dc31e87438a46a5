package graft.ext

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Vertex-centric rounds over co-partitioned RDDs, the message-passing
  * shape of Pregel (Malewicz et al., SIGMOD 2010) and GraphX, which
  * [[Clusters]], the g2/g4/g13 cores in [[Graph]] and g10's k-core peel
  * (`GQueries.kcoreOf`) run on.
  *
  *  - Edges: one record per directed edge, keyed by its source and laid
  *    out by [[VertexHash]]. No per-vertex adjacency arrays, so a hub
  *    never becomes one giant record. Never persisted: every round
  *    re-reads the shuffle output (or cached scan) that laid them out,
  *    and Spark skips the stage that wrote it.
  *  - Vertex state: one record per vertex under the same partitioner. A
  *    round loads its partition of the state into a hash map, so memory
  *    is O(|V| / partitions), and streams the partition's edges past it.
  *  - A round: one message shuffle keyed by destination, reduced under the
  *    same partitioner and zipped back onto the state with no further
  *    exchange. Shuffled records stay `(Long, Long)` (or a `Long` key and
  *    an `Array[Long]` value) so Spark's SerializerManager picks Kryo.
  *
  * Round loops built on this plan nothing per round: a DataFrame loop
  * paid Catalyst analysis, AQE re-optimization and a handful of small
  * jobs for every round.
  */
private[graft] object Supersteps {

  /** Spark SQL's `hashpartitioning(key, n)` for a LONG key, i.e.
    * `pmod(murmur3(key, seed 42), n)`. A frame the SQL engine already
    * laid out that way (the registry's cached adjacency) is then
    * co-partitioned with the messages as it stands.
    */
  final class VertexHash(override val numPartitions: Int) extends Partitioner {
    def of(v: Long): Int = {
      val h = Murmur3_x86_32.hashLong(v, 42) % numPartitions
      if (h < 0) h + numPartitions else h
    }
    override def getPartition(key: Any): Int = of(key.asInstanceOf[Long])
    override def equals(o: Any): Boolean = o match {
      case p: VertexHash => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  def partitioner(df: DataFrame): VertexHash =
    new VertexHash(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** `body` over `df`'s rows, run as one SQL execution of `df`'s plan, so
    * listeners see the plan whose jobs `body` runs (`toRdd` alone posts
    * no execution event).
    */
  def reading[T](df: DataFrame)(body: RDD[InternalRow] => T): T =
    SQLExecution.withNewExecutionId(df.queryExecution)(body(df.queryExecution.toRdd))

  /** The rows of `df` as edge records keyed by its first column (a LONG
    * source id), laid out by `part`; rows with a null column are dropped
    * (`getLong` reads a null as 0). The SQL `repartition` is free when
    * `df` already has the layout (EnsureRequirements drops a repartition
    * its child satisfies) and one SQL shuffle otherwise. A record found
    * in the wrong partition fails the task.
    */
  def bySource[E: ClassTag](df: DataFrame, part: VertexHash)(
      edge: InternalRow => E): RDD[(Long, E)] =
    reading(df.repartition(part.numPartitions, col(df.columns.head))) { rows =>
      val width = df.columns.length
      rows.mapPartitionsWithIndex { (i, it) =>
        it.filter(r => (0 until width).forall(c => !r.isNullAt(c))).map { r =>
          val src = r.getLong(0)
          if (part.of(src) != i)
            throw new IllegalStateException(s"edge source $src read in partition $i, " +
              s"not ${part.of(src)}: input is not laid out by hashpartitioning(source)")
          (src, edge(r))
        }
      }
    }

  /** Both directions of every row of `rows` (two LONG columns, an
    * undirected edge list) as edge records laid out by `part`; a row with
    * a null end is dropped.
    */
  def bothWays(rows: RDD[InternalRow], part: VertexHash): RDD[(Long, Long)] =
    rows.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
      else Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))
    }.partitionBy(part)

  /** Each source's edge count, counted in its own partition: no shuffle,
    * and the result keeps the edges' layout.
    */
  def degrees[E](edges: RDD[(Long, E)]): RDD[(Long, Long)] =
    edges.mapPartitions({ es =>
      val deg = mutable.LongMap.empty[Long]
      es.foreach { case (u, _) => deg(u) = deg.getOrElse(u, 0L) + 1L }
      deg.iterator
    }, preservesPartitioning = true)

  /** One round's messages: each partition of `state` (at most one record
    * per vertex) becomes a hash map, and every edge whose source it holds
    * passes that source's state and the edge to `send`, which returns
    * the message keyed by its DESTINATION, or None. A partition whose
    * state is empty sends nothing and does not read its edges, so a
    * caller passes only the vertices that can send. A partition with a
    * few senders still streams all its edges. The result keeps no
    * partitioner: the records are re-keyed, so the next shuffle must run.
    * Claiming the state's partitioning here would let a reduce under the
    * same partitioner skip its shuffle and return each destination once
    * per partition that messaged it.
    */
  def messages[S, E: ClassTag, M: ClassTag](state: RDD[(Long, S)], edges: RDD[(Long, E)])(
      send: (S, E) => Option[(Long, M)]): RDD[(Long, M)] =
    state.zipPartitions(edges, preservesPartitioning = false) { (vs, es) =>
      val byId = mutable.LongMap.from(vs)
      if (byId.isEmpty) Iterator.empty
      else es.flatMap { case (src, e) => byId.get(src).flatMap(send(_, e)) }
    }

  /** A left join of `rdd` with `lookup`, both laid out by the same
    * partitioner, with no exchange: `f` sees each record of `rdd` with
    * the `lookup` value of its vertex, if any.
    */
  def leftJoin[S, L: ClassTag, T: ClassTag](rdd: RDD[(Long, S)], lookup: RDD[(Long, L)])(
      f: (S, Option[L]) => T): RDD[(Long, T)] =
    rdd.zipPartitions(lookup, preservesPartitioning = true) { (vs, ls) =>
      val byId = mutable.LongMap.from(ls)
      vs.map { case (v, s) => (v, f(s, byId.get(v))) }
    }

  /** `rows` (LONG values) as a DataFrame with `fields`' names, types and
    * nullability: the kernels compute on longs and hand back the caller's
    * id types.
    */
  def frame(spark: SparkSession, rows: RDD[Row], fields: StructField*): DataFrame =
    spark.createDataFrame(rows, StructType(fields.map(_.copy(dataType = LongType))))
      .select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}
