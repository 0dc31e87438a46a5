package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus operator cores the t*, c* and x* queries build on and the specs
  * call directly: shard-shuffle sizing, the bigram hot-split plan and the
  * pinned-ln token entropy.
  */
object Corpus {

  /** x7 core: layout-independent
    * pseudorandom permutation into training shards. Enumeration is
    * two-level — ranks from a window over (shard = 1st md5 hex digit,
    * sub = next `subWidth` hex digits) so every window group is a fixed
    * 1/16^(1+subWidth) corpus slice, plus per-group offsets from a
    * 16^(1+subWidth)-row cumulative count broadcast back; a single
    * per-shard row_number would pull 1/16 of a 100 TB corpus into ONE
    * window partition. Within a shard the hash's 1st char is constant
    * and the next chars ARE the sub-group, so sub-ascending ≡
    * h-ascending (sub is a PREFIX of the post-shard hash) and
    * offset(sub) + rank-within-sub ≡ rank by hash — exactly how the
    * oracle states it (one per-shard ROW_NUMBER), at EVERY width. The
    * "widen until a group fits an executor" rule is executable, not
    * prose: size subWidth with [[subWidthFor]].
    */
  private[graft] def shardShuffle(ids: DataFrame, subWidth: Int = 1): DataFrame = {
    require(subWidth >= 1 && subWidth <= 7, s"subWidth $subWidth out of range")
    val base = ids
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .select(col("doc_id"), col("h"),
        substring(col("h"), 1, 1).as("shard"),
        substring(col("h"), 2, subWidth).as("sub"))
    val rn = row_number()
      .over(Window.partitionBy("shard", "sub").orderBy("h", "doc_id"))
    val off = base.groupBy("shard", "sub").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(Window.partitionBy("shard").orderBy("sub")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "sub", "offset")
    base.withColumn("rn", rn.cast("long"))
      .join(broadcast(off), Seq("shard", "sub"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("rn") - lit(1L)).as("pos"))
  }

  /** x7's sub-width sizing rule: the narrowest width whose EXPECTED
    * window-group occupancy corpusRows / 16^(1+w) fits the target (md5
    * spreads uniformly, so observed group sizes track the expectation;
    * ExtensionsSpec bounds the realized max). Default target is
    * executor-comfortable row count for an id+hash projection; the gate
    * corpus resolves to width 1 (today's value), a corpus 16× past the
    * target widens to 2, and so on — the offset table stays a broadcast
    * (16^(1+w) rows: 65k at width 3, still trivial).
    */
  private[graft] def subWidthFor(corpusRows: Long,
      targetGroupRows: Long = 1L << 24): Int = {
    require(corpusRows > 0 && targetGroupRows > 0)
    var w = 1
    var groups = 256L
    while (w < 7 && corpusRows / groups > targetGroupRows) { w += 1; groups *= 16 }
    w
  }

  /** t16's hot-split production form (t16b): identical result, skew-proof
    * plan. The corpus-frequency equi-join hot-spots on stop-bigrams
    * ("of the") at 100 TB; splitting the count table by frequency fixes
    * the shape at the source — the HOT slice (cf ≥ hotMinCf) is tiny by
    * construction (it IS the repeated mass: ≤ total_occurrences/hotMinCf
    * distinct keys) and broadcasts, so hot occurrences never cross the
    * wire; the COLD slice keeps the equi-join shuffle but its per-key
    * multiplicity is < hotMinCf, so no reducer can melt (AQE skew-split
    * backstops residual partition imbalance — see the ExtensionsSpec
    * skewed-fixture proof). The slices are disjoint, so the union of the
    * two joins is exactly t16's join and the doc-level aggregate is
    * row-identical (shared oracle). The count table is materialized once
    * (localCheckpoint — vocabulary-bounded like t20's word table; on a
    * real cluster prefer checkpoint/persist) for two reasons: both
    * slices read one bigram-count shuffle instead of leaning on
    * ReuseExchange, and the cold join's build side becomes a BARE
    * sort-over-shuffle — the only shape AQE's OptimizeSkewedJoin
    * matches, so the runtime skew backstop is actually reachable (an
    * aggregate left between the shuffle and the join would disable it
    * silently).
    */
  private[graft] def bigramCommonnessHotSplit(d: DataFrame,
      hotMinCf: Long): DataFrame =
    hotSplitCore(d, _.withColumn("thr", lit(hotMinCf)))

  /** t16b's registry form: the hot/cold threshold max(2, nDocs/100)
    * derives from corpus size IN-PLAN (a one-row agg crossed in via
    * broadcast — the x9 device), so merely CONSTRUCTING the query runs
    * no Spark job (PlanOne/PlanSpec walk plans lazily).
    */
  private[graft] def bigramCommonnessHotSplitAuto(d: DataFrame): DataFrame =
    hotSplitCore(d, cf => cf.crossJoin(broadcast(
      d.agg(greatest(lit(2L), (count(lit(1)) / 100L).cast("long"))
        .as("thr")))))

  private[graft] def hotSplitCore(d: DataFrame,
      withThr: DataFrame => DataFrame): DataFrame = {
    val bg = d
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
    // lazy checkpoint: lineage still truncates at first ACTION, but
    // construction fires no job (eager was the default — it made every
    // plan-only consumer of the registry pay a count)
    val cf = withThr(bg.groupBy("bigram").agg(count(lit(1)).as("cf")))
      .localCheckpoint(false)
    val hot = bg.join(
      broadcast(cf.filter(col("cf") >= col("thr")).select("bigram", "cf")),
      "bigram")
    val cold = bg.join(
      cf.filter(col("cf") < col("thr")).select("bigram", "cf"), "bigram")
    hot.unionAll(cold)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("cf").cast("long").as("cf_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("cf_sum"),
        (col("cf_sum").cast("double") / col("n_bigrams")).as("commonness"))
      .orderBy("doc_id")
  }

  private[graft] val LnCap = 1024

  private[graft] val lnE12: Array[Long] =
    (1 to LnCap).map(i => math.round(math.log(i) * 1e12)).toArray

  /** t26 core over an arbitrary (doc_id, text) frame. See the t26
    * registry comment.
    */
  private[graft] def tokenEntropyOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    def lnDf = (1 to LnCap).map(i => (i.toLong, lnE12(i - 1)))
      .toDF("i", "ln_e12")
    val counts = d
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    // LEFT join (r15 ADVICE fix): the per-token ln lookup must not drop
    // rows BEFORE the doc totals aggregate, or a doc whose residual sum
    // fell back under the cap would survive with silently wrong totals.
    // With raw totals, the final INNER join on n_tokens is the single
    // loud gate: any out-of-cap doc has n_tokens > LnCap (every c ≤ n),
    // so it drops from BOTH engines identically — and for surviving
    // docs every c ≤ n ≤ LnCap, so no ln_e12 is ever null.
    counts.join(broadcast(lnDf), counts("c") === col("i"), "left")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("ln_e12")).as("sum_clnc"))
      .join(broadcast(lnDf), col("n_tokens") === col("i"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("(n_tokens * ln_e12 - sum_clnc) div (n_tokens * 1000000)")
          .as("entropy_e6"))
      .orderBy("doc_id")
  }
}
