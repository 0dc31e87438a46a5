package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest-neighbor index: a k-means
  * coarse quantizer partitions the corpus into `nLists` cells; a query
  * scans only the `nProbe` nearest cells — the standard
  * billion-scale ANN layout (cf. Jégou et al., "Product quantization for
  * nearest neighbor search", TPAMI'11, whose IVF stage this follows; the
  * PQ refinement stage would drop in per-cell).
  *
  * Scale notes: training samples the corpus (k-means over a bounded
  * sample, seeded → deterministic); assignment is one broadcast of
  * `nLists` centroids + a narrow argmin pass; the probe scans
  * ~n·nProbe/nLists rows. Cell ids persist as a partition column in a
  * real deployment so probes prune at the parquet level.
  */
object IVFIndex {

  case class Index(assigned: DataFrame, centroids: Array[(Int, Array[Double])],
      release: () => Unit = () => ()) {
    /** Release the build-time cache (the assignment survives if the caller
      * persisted/wrote it — in a real deploy `assigned` lands in a
      * cell-partitioned table and the cache is gone with the job).
      */
    def unpersist(): Unit = release()
  }

  /** Constant-occupancy sizing rule, executable: cells hold
    * ~`targetCellRows` vectors REGARDLESS of corpus size, so nLists grows
    * ∝ corpus and the probe scan n·nProbe/nLists stays
    * ~nProbe·targetCellRows — holding nLists fixed would instead grow
    * every cell linearly and the probe with it. The default target of 32
    * resolves the gate-scale embeddings table (500 rows at sf0.01) to
    * the historical 16, and a ×k corpus to 16·k; a production corpus
    * passes its own target (typically 10³–10⁴ vectors/cell). Clamped
    * below at 2 (k-means needs ≥ 2 clusters) and above at 2^16 (the
    * centroid broadcast stays a few MB of doubles; past the cap,
    * occupancy grows again — that is the point where the PQ stage, not
    * more cells, carries the scale).
    */
  def defaultNLists(corpusRows: Long, targetCellRows: Long = 32L): Int = {
    require(corpusRows > 0 && targetCellRows > 0)
    val cells = (corpusRows + targetCellRows - 1) / targetCellRows
    math.max(2L, math.min(65536L, cells)).toInt
  }

  /** Build the index: train the quantizer on (a sample of) the corpus,
    * assign every vector to its nearest centroid cell. `nLists <= 0`
    * (the default) derives the list count from the corpus row count via
    * [[defaultNLists]] — callers pin it only to reproduce a specific
    * layout (tests, the PQ coarse stage).
    *
    * The (vec_id, double-vector) projection is cached for the build:
    * count + training filter + k-means iterations + assignment are
    * otherwise each a full parquet re-scan and array re-cast.
    * MEMORY_AND_DISK, so an over-RAM corpus spills instead of OOMing; the
    * production layout writes `assigned` out cell-partitioned and drops
    * the cache ([[Index.unpersist]]).
    */
  def build(emb: DataFrame, nLists: Int = -1, seed: Long = 42L,
      maxTrain: Int = 100000): Index = {
    val spark = emb.sparkSession
    val vecs = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Deterministic, layout-independent training sample: keep ids whose
    // hash clears a rate sized for ~maxTrain rows. limit() would train on
    // whichever partitions answered first — a different quantizer per file
    // layout; the hash filter picks the same rows on any cluster.
    val n = vecs.count()
    val k = if (nLists > 0) nLists else defaultNLists(n)
    val keepEvery = math.max(1L, n / maxTrain)
    val train = vecs
      .filter(pmod(xxhash64(col("vec_id")), lit(keepEvery)) === 0)
      .select(array_to_vector(col("v")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(10).fit(train)
    val centroids: Array[(Int, Array[Double])] =
      model.clusterCenters.zipWithIndex.map { case (c: Vector, i) => (i, c.toArray) }
    val assigned = assignCells(vecs, centroids)
    Index(assigned, centroids, () => { vecs.unpersist(); () })
  }

  /** The index over PINNED centroids (no training pass): assignment is
    * the same broadcast-argmin, but the quantizer is an offline-trained
    * artifact ([[IvfCentroids]] — the PqCodebook serving discipline).
    * This is both the production deploy shape (train once, assign
    * everywhere) and what makes the s4/d8 registry entries
    * oracle-replayable: the argmin over centroid literals + the probe
    * are plain SQL once the centroids are data, not engine state.
    * No cache: assignment is a narrow scan-speed map, and the caller
    * (a real deploy) writes `assigned` out cell-partitioned anyway.
    */
  def fromCentroids(emb: DataFrame,
      centroids: Array[(Int, Array[Double])]): Index = {
    val vecs = emb.select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    Index(assignCells(vecs, centroids), centroids)
  }

  /** Nearest-centroid cell per vector: one narrow argmin pass (no UDF,
    * no ML runtime on the scan path), routed by quantizer width.
    *
    * Small quantizers (≤ 64 cells — the gate-scale registry entries and
    * their pinned oracles) keep the unrolled least(struct(d, cell))
    * chain: fully codegen'd, measured fast, and the exact plan the
    * DuckDB replays mirror. Wide quantizers take the DATA route — the
    * r16 lesson from the s8 ×100 probe: an unrolled chain embeds nLists
    * expression subtrees in the plan, which at 1600 cells is a ~135 MB
    * task binary that every local executor thread deserializes
    * (measured OOM at 32 threads × 4.6 GB heap) and a >64 KB codegen
    * method (measured Janino fallback storm). Centroids belong in data,
    * not code: ONE array literal (~1 MB at 1600×64 doubles), a per-row
    * distance array via `transform` over the native [[L2Sq]] kernel,
    * argmin = array_position of the min — first match, the same
    * smallest-cell tie rule as the least() chain, so the two routes are
    * output-identical. Still scan-speed, zero shuffle, `v` stays on the
    * row. (At real 100 TB the same principle holds one step further:
    * assignment against 10⁵ centroids is a GEMM against a broadcast
    * centroid MATRIX — data, never plan literals.)
    */
  private[ext] def assignCells(vecs: DataFrame,
      centroids: Array[(Int, Array[Double])]): DataFrame =
    if (centroids.length <= 64) {
      val dists = centroids.map { case (i, c) =>
        struct(VectorOps.l2sq(col("v"), typedlit(c.toSeq)).as("d"), lit(i).as("cell"))
      }
      vecs.withColumn("cell", least(dists: _*).getField("cell"))
    } else {
      require(centroids.map(_._1).sorted.sameElements(centroids.indices),
        "wide-quantizer route needs contiguous 0-based cell ids; got " +
          s"${centroids.length} cells with ids " +
          s"[${centroids.map(_._1).sorted.take(8).mkString(",")}" +
          s"${if (centroids.length > 8) ",…" else ""}] — remap via " +
          "sorted order (keep a cell-id lookup) before fromCentroids")
      val arr = typedlit(centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
      val ds = transform(arr, c => VectorOps.l2sq(col("v"), c))
      vecs.withColumn("cell",
        (array_position(ds, array_min(ds)) - 1L).cast("int"))
    }

  /** Approximate top-k for the query vector: scan only the nProbe cells
    * whose centroids are nearest to the query.
    */
  def probe(index: Index, queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val q = index.assigned.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("cell").as("qcell"))
    val qCells = index.assigned.sparkSession.createDataFrame(
      index.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq)
      .toDF("cell", "centroid")
    // (cd, cell) — the cell tiebreak pins the probe set when two
    // centroids are exactly equidistant (measure-zero for trained
    // centroids, but the oracle replay needs a total order)
    val probeCells = q.crossJoin(broadcast(qCells))
      .select(col("qv"), col("cell"),
        VectorOps.l2sq(col("qv"), col("centroid")).as("cd"))
      .orderBy("cd", "cell").limit(nProbe)
      .select(col("qv"), col("cell"))
    index.assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(probeCells), "cell")
      .select(col("vec_id"), VectorOps.cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }
}
