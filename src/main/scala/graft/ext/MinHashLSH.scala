package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the standard scale path
  * for fuzzy dedup of a web-scale corpus (shingle → minhash signature →
  * band → bucket join), as described in Broder's resemblance work and the
  * MMDS ch.3 treatment.
  *
  * Pipeline (all distributed, no driver state):
  *  1. shingle index: (doc_id, shingle), distinct — [[Dedup.shingleIndex]]
  *  2. signature: for permutation p, sig[p] = min over shingles of
  *     (a_p·rolling_hash(shingle) + b_p) mod P ([[HashCoeffs]]) — one
  *     groupBy(doc_id) with numPerm min-aggs, map-side combined, so the
  *     shuffle carries numPerm longs per doc
  *  3. banding: signature split into bands of rowsPerBand values; band key
  *     = the band slice itself; explode → (band_idx, key, doc_id)
  *  4. candidates: self-join on (band_idx, key) — only docs agreeing on a
  *     whole band meet; distinct pairs
  *  5. estimate: fraction of equal signature positions ≈ Jaccard
  *
  * Probability a pair with Jaccard j becomes a candidate:
  * 1 − (1 − j^rows)^bands — with 32 perms as 8×4, the S-curve midpoint sits
  * near j ≈ 0.59; tune (bands, rows) per threshold.
  *
  * Scale notes: the only quadratic danger is a degenerate bucket (e.g. the
  * empty-signature bucket from empty docs); `bucketCap` drops buckets
  * larger than the cap — at 100 TB you always cap, and log what was
  * dropped rather than silently scanning it.
  */
object MinHashLSH {

  /** Seed for the permutation-hash coefficients — shared verbatim with the
    * DuckDB oracle SQL builder ([[graft.queries.DQueries]]).
    */
  val PermSeed = 7L

  def signatures(docs: DataFrame, shingleN: Int, numPerm: Int): DataFrame = {
    // Hash the shingle string ONCE to a long with the polynomial rolling
    // hash (SQL-expressible — see HashCoeffs), then derive the numPerm
    // "permutations" with the universal family (a_p·h + b_p) mod P —
    // numPerm multiply-adds per shingle instead of numPerm string-hashes.
    val idx = Dedup.shingleIndex(docs, shingleN)
      .select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("sh")).as("shh"))
    val mins = HashCoeffs.coeffs(numPerm, PermSeed).zipWithIndex.map {
      case ((a, b), p) =>
        min((lit(a) * col("shh") + lit(b)) % lit(HashCoeffs.P)).as(s"m$p")
    }
    idx.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerm).map(p => col(s"m$p")): _*).as("sig"))
  }

  /** (doc_id, band_idx, band_key) — the band key is the band's value slice
    * itself (array<long>), not a hash of it: grouping/joining on
    * fixed-width arrays is exact (no collision caveat) and shuffles
    * rowsPerBand longs per band — still O(1) per row. Exposed so the suite
    * can measure bucket occupancy against `bucketCap` (the DuckDB oracle
    * states candidates cap-free; the guard test keeps that honest).
    */
  def bandKeys(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(
      array((0 until bands).map { b =>
        array((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)
      }: _*)).as(Seq("band_idx", "band_key")))

  def candidatePairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      bucketCap: Int = 1000): DataFrame = {
    val banded = bandKeys(sigs, bands, rowsPerBand)
    val capped = banded
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_key")))
      .filter(col("bucket_n") <= bucketCap)
      .select("doc_id", "band_idx", "band_key")
      .localCheckpoint() // both self-join sides read the capped index
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** End-to-end near-dup pairs with estimated Jaccard ≥ threshold. */
  def nearDupPairs(docs: DataFrame, shingleN: Int = 7, numPerm: Int = 32,
      bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numPerm / bands
    // 32 longs per doc, referenced by banding AND both estimate joins —
    // materialize so the shingle+min-agg derivation runs once; spread
    // first with an explicit count, since the ×bands explode reads this
    // layout and AQE would size the aggregate's output from its bytes
    val sigs = graft.PartitionOps.repartitionBeforeFanout(
      signatures(docs, shingleN, numPerm), col("doc_id")).localCheckpoint()
    val est = aggregate(
      zip_with(col("s1"), col("s2"),
        (x, y) => when(x === y, 1.0).otherwise(0.0)),
      lit(0.0), (acc, v) => acc + v) / numPerm
    candidatePairs(sigs, bands, rowsPerBand)
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), "id2")
      .select(col("id1"), col("id2"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }
}
