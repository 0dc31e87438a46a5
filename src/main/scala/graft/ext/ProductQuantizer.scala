package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Product quantization (Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI'11 — the PQ refinement stage [[IVFIndex]]'s
  * scaladoc promises): the vector space is split into `m` orthogonal
  * subspaces, each quantized by its own small seeded k-means codebook, so
  * a dim-d float vector compresses to `m` sub-byte codes (here 8×4 bits =
  * 4 bytes against 256 raw bytes, 64×) while distances remain computable
  * from code-indexed lookup tables (ADC) without touching the raw vectors.
  *
  * Scale notes: training runs ON THE DRIVER over a hash-capped sample
  * (layout-independent, seeded, deterministic) — the faiss discipline:
  * PQ codebooks are fit from ≤`maxTrain` vectors BY DESIGN at any corpus
  * size, so the fit is a bounded in-process Lloyd's loop, not m separate
  * distributed k-means runs whose per-job scheduling overhead dominates
  * (the Spark-ML trainer measured ~8.6 s/query at sf0.1 vs well under a
  * second here, same codebook-quality bounds in SketchSpec). The CLUSTER
  * work is what actually scales with data: encoding is a narrow argmin
  * pass over m×k broadcast centroid literals inside codegen — no UDF, no
  * ML runtime on the scan path, no shuffle. At 100 TB the codes column
  * (4 bytes/vector) is what an ANN service keeps hot; IVF cells partition
  * it, and ADC scans decode nothing.
  */
object ProductQuantizer {

  /** codebooks(i) = subspace i's k centroids as (code, centroid). */
  case class PQ(codebooks: Array[Array[(Int, Array[Double])]]) {
    def m: Int = codebooks.length
    def subDim: Int = codebooks.head.head._2.length
  }

  /** Train m codebooks of k centroids each over (a capped sample of) the
    * corpus. Requires dim % m == 0. Seeded per subspace and iterated over
    * a vec_id-sorted sample → bit-deterministic across builds and data
    * layouts. The sample (≤ maxTrain vectors) is the ONLY thing collected;
    * at the 100k default that is ≤ ~50 MB of doubles on the driver.
    */
  def train(emb: DataFrame, m: Int, k: Int, seed: Long = 42L,
      maxTrain: Int = IVFIndex.MaxTrain): PQ = {
    val vecs = emb.select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val sample = IVFIndex.trainingSample(vecs, maxTrain)._2
      .orderBy("vec_id")
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = (0 until m).map { i =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, i * sub,
        (i + 1) * sub))
      lloyd(pts, k, seed + i).zipWithIndex.map { case (c, j) => (j, c) }
    }.toArray
    PQ(books)
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Seeded k-means++ init + 10 Lloyd iterations, in-process. Empty
    * clusters keep their previous center (codes stay in [0, k) and
    * duplicates-heavy samples still yield k valid entries); a sample
    * smaller than k pads the codebook by cycling the points.
    */
  private[ext] def lloyd(points: Array[Array[Double]], k: Int,
      seed: Long, iters: Int = 10): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(
      points(rnd.nextInt(points.length)).clone)
    val minD2 = points.map(l2sq(_, centers(0)))
    while (centers.size < k) {
      val total = minD2.sum
      val next =
        if (total == 0.0) points(rnd.nextInt(points.length))
        else {
          var r = rnd.nextDouble() * total
          var idx = 0
          while (idx < points.length - 1 && r > minD2(idx)) {
            r -= minD2(idx); idx += 1
          }
          points(idx)
        }
      centers += next.clone
      var p = 0
      while (p < points.length) {
        val d = l2sq(points(p), next)
        if (d < minD2(p)) minD2(p) = d
        p += 1
      }
    }
    val dim = points.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { pt =>
        var best = 0; var bestD = Double.MaxValue; var j = 0
        while (j < k) {
          val d = l2sq(pt, centers(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        var c = 0
        while (c < dim) { sums(best)(c) += pt(c); c += 1 }
      }
      for (j <- 0 until k if counts(j) > 0) {
        val nc = new Array[Double](dim)
        var c = 0
        while (c < dim) { nc(c) = sums(j)(c) / counts(j); c += 1 }
        centers(j) = nc
      }
    }
    centers.toArray
  }

  /** Per-vector code array: subspace i's nearest-centroid index. One
    * narrow pass, broadcast centroid literals, argmin via least(struct) —
    * the [[IVFIndex.assignCells]] pattern per subspace.
    */
  def encode(emb: DataFrame, pq: PQ): DataFrame = {
    emb.select(col("vec_id"),
      codeArray(VectorOps.toDouble(col("embedding")), pq).as("codes"))
  }

  /** The code array of the double vector `v`: per subspace, the argmin
    * centroid index as a `least(struct(d, code))` over its literals.
    */
  private def codeArray(v: Column, pq: PQ): Column =
    array(pq.codebooks.zipWithIndex.map { case (book, i) =>
      val sv = slice(v, i * pq.subDim + 1, pq.subDim)
      least(book.map { case (j, c) =>
        struct(VectorOps.l2sq(sv, typedlit(c.toSeq)).as("d"),
          lit(j).as("code"))
      }.toIndexedSeq: _*).getField("code").cast("long")
    }.toIndexedSeq: _*)

  /** Stages 1 and 2 of the serving path over `candidates` (rows with
    * `vec_id`, `codes` and the query vector `qv`): the ADC score, a
    * `shortlist`-row cut, then the exact L2² re-rank to `k` rows against
    * the raw vectors of `emb`.
    */
  private def shortlistReRank(candidates: DataFrame, emb: DataFrame,
      qRow: DataFrame, pq: PQ, k: Int, shortlist: Int): DataFrame = {
    val subScores = pq.codebooks.zipWithIndex.map { case (book, i) =>
      val qSub = slice(col("qv"), i * pq.subDim + 1, pq.subDim)
      book.foldLeft(lit(0.0)) { case (acc, (j, c)) =>
        when(col("codes").getItem(i) === j.toLong,
          VectorOps.l2sq(qSub, typedlit(c.toSeq))).otherwise(acc)
      }
    }
    candidates
      .select(col("vec_id"),
        subScores.toIndexedSeq.reduce(_ + _).as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(shortlist)
      .join(emb.select(col("vec_id"),
        VectorOps.toDouble(col("embedding")).as("v")), "vec_id")
      .crossJoin(broadcast(qRow))
      .select(col("vec_id"), col("adc_dist"),
        VectorOps.l2sq(col("v"), col("qv")).as("l2_dist"))
      .orderBy(col("l2_dist"), col("vec_id"))
      .limit(k)
  }

  /** Driver-side decode (test/debug aid): concatenate each code's
    * centroid back into an approximate vector.
    */
  def decode(pq: PQ, codes: Seq[Long]): Array[Double] =
    codes.zipWithIndex.flatMap { case (c, i) =>
      pq.codebooks(i)(c.toInt)._2
    }.toArray

  /** Two-stage PQ serving path: (1) asymmetric distance computation
    * (ADC) — approximate L2² from the query's raw vector to every encoded
    * vector WITHOUT touching the corpus's raw vectors: the per-subspace
    * (query-subvector ↔ centroid) distances form a lookup table, each
    * vector's score is the sum of its codes' table entries, and the table
    * is expressed in-plan as a when-chain over the k centroid literals
    * per subspace (k×m = 128 codegen branches here) with the query row a
    * one-row broadcast (the s1/s2 scalar cross-join pattern); (2) exact
    * re-rank — only the ADC shortlist's raw vectors are fetched (an
    * equi-join on vec_id against `shortlist` rows) and ordered by true
    * L2². At serving scale stage 1 runs over the 4-byte codes column at
    * scan speed and stage 2 touches `shortlist` rows — the float corpus
    * stays cold.
    */
  def adcTopK(emb: DataFrame, pq: PQ, queryId: Long, k: Int,
      shortlist: Int): DataFrame = {
    val codes = encode(emb, pq)
    val qRow = emb.filter(col("vec_id") === queryId)
      .select(VectorOps.toDouble(col("embedding")).as("qv"))
    shortlistReRank(codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qRow)), emb, qRow, pq, k, shortlist)
  }

  /** IVFADC — the composed faiss serving shape (Jégou et al. TPAMI'11
    * §IV): the IVF coarse quantizer routes the query to `nProbe` cells,
    * ADC scores ONLY those cells' members from their 4-byte codes, and
    * the exact re-rank touches just the shortlist. This is the layout a
    * billion-vector deployment actually runs: one narrow pass builds the
    * (vec_id, cell, codes) table — in production a cell-PARTITIONED
    * parquet table, so the probe prunes at the file level and the scan
    * is ~n·nProbe/nLists code rows, never the float corpus. Both
    * quantizers are pinned offline artifacts ([[graft.ext.IvfCentroids]]
    * / [[PqCodebook]] — train once, ship everywhere), which is also what
    * makes the whole composed path hash-oracle-able.
    */
  def ivfAdcTopK(emb: DataFrame, centroids: Array[(Int, Array[Double])],
      pq: PQ, queryId: Long, k: Int, nProbe: Int,
      shortlist: Int): DataFrame = {
    val vecs = emb.select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    // ONE pass derives cell + codes (the serving table's schema); both
    // argmins are broadcast-literal when/least chains at scan speed
    val table = IVFIndex.assignCells(vecs, centroids)
      .select(col("vec_id"), col("cell"), codeArray(col("v"), pq).as("codes"))
    val qRow = emb.filter(col("vec_id") === queryId)
      .select(VectorOps.toDouble(col("embedding")).as("qv"))
    val cellTab = emb.sparkSession.createDataFrame(
      centroids.map { case (i, c) => (i, c.toSeq) }.toSeq)
      .toDF("cell", "centroid")
    // (cd, cell) total order pins the probe set under exact centroid
    // ties — the s4 convention
    val probeCells = qRow.crossJoin(broadcast(cellTab))
      .select(col("qv"), col("cell"),
        VectorOps.l2sq(col("qv"), col("centroid")).as("cd"))
      .orderBy("cd", "cell").limit(nProbe)
      .select(col("qv"), col("cell"))
    shortlistReRank(table.filter(col("vec_id") =!= queryId)
      .join(broadcast(probeCells), "cell"), emb, qRow, pq, k, shortlist)
  }
}
