package graft.ext

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * (sign) LSH bucketing as the approximate scale path.
  *
  * Scale: brute-force against a single query is a broadcast + one narrow
  * pass + TakeOrderedAndProject — linear scan, optimal for one-off queries.
  * For batch kNN-joins or repeated queries, `signBuckets` pre-partitions
  * the corpus into 2^numPlanes buckets; a query probes its own bucket
  * (plus Hamming-1 neighbors for higher recall), turning each probe into a
  * ~n/2^planes-row scan. Hyperplanes derive from a fixed seed so plans are
  * reproducible across runs and engines.
  */
object Similarity {

  /** Exact cosine top-k against the vector with id `queryId`. */
  def bruteForceTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val v = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val q = v.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    v.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), VectorOps.cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic Gaussian hyperplanes (fixed seed). */
  def planes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val r = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(r.nextGaussian()))
  }

  /** Sign-LSH bucket id of a (double-cast) vector column. */
  def bucketOf(v: Column, ps: Seq[Seq[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dot(v, typedlit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Corpus bucketed by sign-LSH. */
  def signBuckets(emb: DataFrame, numPlanes: Int, dim: Int): DataFrame =
    emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), planes(numPlanes, dim)))

  /** Approximate top-k: scan only the query's bucket. Recall/latency trades
    * on numPlanes; tested against [[bruteForceTopK]] in the suite.
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val bucketed = signBuckets(emb, numPlanes, dim)
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), VectorOps.cosine(col("v"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Row cap above which [[knnJoinExact]] refuses to run: n² pairs at
    * 10k rows is 10⁸ scored pairs — the outer edge of "deliberate
    * exactness anchor"; past it the right side stops broadcasting and the
    * pair space is the plan. The guard is executable, not a comment.
    */
  val ExactKnnMaxRows: Long = 10000L

  /** Exact batch kNN join: top-k cosine neighbors for EVERY vector.
    * Norms are precomputed once per vector (not per pair); the pair space
    * is pruned per-id1 by a rank window. With a broadcastable right side
    * this is a map-side nested loop — correct as an exactness baseline,
    * but the pair space is quadratic, so the corpus size is ASSERTED
    * against `maxRows` (one cheap count) and the call fails fast with the
    * at-scale alternative named: [[knnJoinBucketed]] (same scoring and
    * ranking, candidate space from sign-LSH bucket collisions) or the
    * auto-routing [[knnJoin]].
    */
  def knnJoinExact(emb: DataFrame, k: Int,
      maxRows: Long = ExactKnnMaxRows): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"knnJoinExact is a quadratic exactness anchor: corpus has $n rows " +
        s"(cap $maxRows) — use knnJoinBucketed / knnJoin for the at-scale path")
    knnExactUnguarded(emb, k)
  }

  private def knnExactUnguarded(emb: DataFrame, k: Int): DataFrame = {
    val v = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    // pre-fan-out sizing (r19, the v10/a48 rule): the embeddings fixture
    // is a 1-partition scan and each stream-side row seeds |emb|−1
    // cosines through the broadcast nested loop — profiled as ONE
    // 3.4 s task at sf0.1. The explicit-count exchange sizes the
    // stream side for the ×|emb| per-row cost AQE cannot see.
    val a = graft.PartitionOps.repartitionBeforeFanout(
      v.select(col("vec_id").as("id1"), col("v").as("va"),
        col("nrm").as("na")),
      col("id1"))
    val b = v.select(col("vec_id").as("id2"), col("v").as("vb"), col("nrm").as("nb"))
    topKByCosine(a.join(broadcast(b), col("id1") =!= col("id2")), k)
  }

  /** The scoring and rank both kNN joins share: over candidate pairs
    * carrying each side's vector (`va`, `vb`) and norm (`na`, `nb`), the
    * cosine, then the `k` best `id2` per `id1` by (cosine desc, id2).
    */
  private def topKByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id1").orderBy(col("cosine").desc, col("id2"))
    pairs
      .select(col("id1"), col("id2"),
        (VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Batch kNN with the scale guard as a ROUTE, not an error: exact
    * (broadcast nested loop, recall 1) while the corpus is below
    * `exactMaxRows`, sign-LSH bucketed candidates (nothing quadratic)
    * beyond it. One count() decides; both arms share scoring and the
    * per-id1 rank window.
    *
    * Caveat for oracle users: past the cap the result is APPROXIMATE
    * (bucketed recall < 1 for non-identical neighbors), so an exact
    * brute-force oracle stops matching — which is fine, because that
    * oracle is itself infeasible at those row counts; `s5`'s
    * constructed-duplicate fixture is the at-scale exactness check.
    */
  def knnJoin(emb: DataFrame, k: Int, numPlanes: Int, dim: Int,
      exactMaxRows: Long = ExactKnnMaxRows): DataFrame =
    if (emb.count() <= exactMaxRows) knnExactUnguarded(emb, k)
    else knnJoinBucketed(emb, k, numPlanes, dim)

  /** Approximate batch kNN join — the at-scale path replacing
    * [[knnJoinExact]]'s quadratic pair space: candidates are sign-LSH
    * bucket collisions (each vector probes its own bucket plus all
    * Hamming-1 neighbor buckets), routed through the SAME cosine scoring
    * and per-id1 rank window. With p planes the expected candidate count
    * is n²·(p+1)/2^p — tune p so buckets stay ~n/2^p small — and every
    * step is an equi-join shuffle on a fixed-width key; nothing quadratic
    * is ever materialized. Identical vectors share a bucket by
    * construction, so recall for exact/near-exact duplicates is 1.
    *
    * The probe stream is slim (id1, probe-bucket): the query vector does
    * NOT ride through the explode (that would replicate the array
    * numPlanes+1 times through the shuffle); it re-joins on id1 after
    * candidate generation, sharing the partitioning the rank window needs
    * anyway.
    */
  def knnJoinBucketed(emb: DataFrame, k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val bucketed = signBuckets(emb, numPlanes, dim)
      .withColumn("nrm", VectorOps.norm(col("v")))
    val probes = bucketed.select(col("vec_id").as("id1"),
      explode(array(col("bucket") +:
        (0 until numPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*))
        .as("probe"))
    val cands = probes.join(
        bucketed.select(col("vec_id").as("id2"), col("bucket"),
          col("v").as("vb"), col("nrm").as("nb")),
        col("probe") === col("bucket") && col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), col("vb"), col("nb"))
    topKByCosine(cands.join(bucketed.select(col("vec_id").as("id1"),
      col("v").as("va"), col("nrm").as("na")), "id1"), k)
  }

  /** Embedding-space near-duplicate pairs (cosine ≥ threshold), restricted
    * to sign-LSH bucket collisions — identical/near-identical vectors have
    * identical sign patterns with overwhelming probability, so recall for
    * true duplicates stays ≈1 while the join never goes quadratic.
    */
  def embeddingDupPairs(emb: DataFrame, threshold: Double,
      numPlanes: Int, dim: Int): DataFrame = {
    val bucketed = signBuckets(emb, numPlanes, dim)
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        VectorOps.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
