package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash (Charikar) 64-bit near-duplicate fingerprints: each token votes
  * ±1 on every bit of its 64-bit hash; the sign vector of the vote sums is
  * the fingerprint, and near-duplicate documents land within a small
  * Hamming distance.
  *
  * Candidate generation uses the 4×16-bit block trick (Manku et al., WWW'07
  * — "Detecting near-duplicates for web crawling"): two fingerprints within
  * Hamming distance ≤ 3 must agree exactly on at least one of 4 blocks, so
  * a self-join per block replaces the O(n²) scan; the exact Hamming filter
  * runs only on block-collision candidates.
  *
  * Scale: one explode + one groupBy(doc_id) with 64 long sums (map-side
  * combined), then an equi-join on (block_idx, block) — every step shuffles
  * fixed-width keys, never text.
  */
object SimHash {

  val bits = 64
  val blocks = 4
  private val blockBits = bits / blocks

  /** Seed for the per-bit projection coefficients — shared verbatim with
    * the DuckDB oracle SQL builder ([[graft.queries.DQueries]]).
    */
  val BitSeed = 11L

  /** (doc_id, simhash) — fingerprint of the whitespace token multiset.
    * Bit k of a token's hash is derived from the universal family
    * ([[HashCoeffs]]): bit_k(tok) = 1 iff (a_k·rolling_hash(tok) + b_k)
    * mod P lands in the lower half of [0, P) — 64 unbiased pairwise-
    * independent bits, and (unlike xxhash64 bits) SQL-expressible, which
    * is what makes the d4 driver query DuckDB-oracleable.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .withColumn("h", graft.functions.RollingHash.rolling_hash(col("tok")))
    val votes = HashCoeffs.coeffs(bits, BitSeed).zipWithIndex.map {
      case ((a, b), k) =>
        sum(when((lit(a) * col("h") + lit(b)) % lit(HashCoeffs.P) <= lit(HashCoeffs.Half), 1)
          .otherwise(-1)).as(s"v$k")
    }
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(k =>
          when(col(s"v$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxHamming (≤ blockBits·…;
    * the block trick is exact for maxHamming < blocks).
    */
  def nearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < blocks, "block trick is only exact for maxHamming < blocks")
    // one 16-byte row per doc, referenced by both self-join sides —
    // materialize so the explode+hash+64-sum derivation runs once
    val fp = fingerprints(docs).localCheckpoint()
    val blocked = fp.select(col("doc_id"), col("simhash"), posexplode(
      array((0 until blocks).map { j =>
        shiftrightunsigned(col("simhash"), j * blockBits)
          .bitwiseAND((1L << blockBits) - 1)
      }: _*)).as(Seq("block_idx", "block")))
    val a = blocked.as("a")
    val b = blocked.as("b")
    a.join(b, col("a.block_idx") === col("b.block_idx") &&
        col("a.block") === col("b.block") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
