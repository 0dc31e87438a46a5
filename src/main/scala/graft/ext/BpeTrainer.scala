package graft.ext

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding vocabulary induction + application — the
  * tokenizer-training and token-counting steps of an LLM data pipeline
  * (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016, implemented from the paper's algorithm
  * description): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair, weighting each word's pairs by corpus
  * frequency; encoding replays the learned rules in rank order.
  *
  * The 100 TB story is the word table: ONE (word → count) partial-agg
  * shuffle over the corpus produces a table bounded by VOCABULARY size,
  * independent of corpus row count (the ×10 scale probe shows t20 at
  * 0.9× — same table for 10× corpus). That table is small enough to
  * collect, so training runs where production BPE trainers run it: on
  * the driver, over the counted vocabulary, in plain Scala. A 30k-merge
  * production run is then ONE Spark job (the count) + a driver loop —
  * not 30k scheduled pair-count shuffles. The previous all-DataFrame
  * iterative trainer survives as [[trainMergesDistributed]]: it is the
  * independent cross-check BpeSpec replays against at two scales, and
  * the fallback for a corpus whose vocabulary genuinely cannot sit on
  * the driver (at that point cap the table with a min-count filter
  * first — hapax words cannot win a weight ≥ 2 argmax anyway).
  *
  * Determinism: the argmax tiebreak is pinned (weight desc, then left,
  * then right by CODE POINT — Spark's UTF8String binary order IS
  * code-point order, so the driver and distributed trainers agree on
  * any corpus, including non-BMP text where Java String compareTo
  * (UTF-16 code-unit order) would diverge). Symbol segmentation is by
  * code point for the same reason. Merge application is the greedy
  * left-to-right fold over each word's own symbol array: engine- and
  * layout-independent. A merged symbol can never re-trigger as the LEFT
  * of the same rule inside one pass (merged = l+r ≠ l since r is
  * non-empty), so the fold IS the greedy non-overlapping scan ("aaa"
  * under (a,a) → ["aa","a"], the standard semantics).
  */
object BpeTrainer {

  /** Code-point comparison — equals UTF-8 byte order (what Spark's
    * UTF8String string ordering uses), unlike Java String compareTo,
    * which sorts by UTF-16 code unit and misorders supplementary
    * characters against high-BMP ones.
    */
  private[ext] def compareCodePoints(a: String, b: String): Int = {
    val ai = a.codePoints().iterator()
    val bi = b.codePoints().iterator()
    while (ai.hasNext && bi.hasNext) {
      val c = Integer.compare(ai.nextInt(), bi.nextInt())
      if (c != 0) return c
    }
    java.lang.Boolean.compare(ai.hasNext, bi.hasNext)
  }

  /** One symbol per code point (split("") in Spark/Java regex does not
    * cut surrogate pairs; neither do we).
    */
  private[ext] def charSyms(w: String): Vector[String] =
    w.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))

  /** Greedy left-to-right application of one merge rule to one word's
    * symbol array — the driver-side twin of [[mergeFold]].
    */
  private[ext] def applyMerge(syms: Vector[String], l: String, r: String,
      merged: String): Vector[String] = {
    val acc = ArrayBuffer[String]()
    for (s <- syms) {
      if (acc.nonEmpty && acc.last == l && s == r) {
        acc.remove(acc.length - 1); acc += merged
      } else acc += s
    }
    acc.toVector
  }

  /** Encode one word: replay the learned rules in rank order (Sennrich
    * apply semantics), each applied greedily left-to-right.
    */
  def encodeWord(word: String,
      merges: Seq[(String, String, String)]): Vector[String] =
    merges.foldLeft(charSyms(word)) { case (syms, (l, r, m)) =>
      applyMerge(syms, l, r, m)
    }

  /** The ONLY corpus-sized pass: word frequencies via one partial-agg
    * shuffle, collected to the driver. Bounded by vocabulary size —
    * corpus-row-independent (probed ×10 → same table) — and the
    * premise of the whole trainer: if this table cannot sit on the
    * driver, pre-filter hapax words (they can never win an argmax with
    * weight ≥ 2) or fall back to [[trainMergesDistributed]].
    */
  def collectWordCounts(docs: DataFrame): Seq[(String, Long)] =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Driver-side merge training over a counted vocabulary — how
    * production BPE trainers work. Straightforward recount-per-round
    * loop (numMerges passes over the word table; the incremental
    * pair-count + heap refinement real trainers add changes constants,
    * not the I/O story — the corpus is never re-read either way).
    */
  def trainOnCounts(wordCounts: Seq[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    var words: Seq[(Vector[String], Long)] =
      wordCounts.map { case (w, c) => (charSyms(w), c) }
    val out = ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val pairW = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- words; i <- 0 until syms.length - 1)
        pairW((syms(i), syms(i + 1))) =
          pairW.getOrElse((syms(i), syms(i + 1)), 0L) + c
      // pinned argmax: weight desc, then (l, r) ascending by code point
      val best = pairW.reduceOption { (x, y) =>
        val cmp =
          if (x._2 != y._2) java.lang.Long.compare(y._2, x._2)
          else {
            val cl = compareCodePoints(x._1._1, y._1._1)
            if (cl != 0) cl else compareCodePoints(x._1._2, y._1._2)
          }
        if (cmp <= 0) x else y
      }
      best match {
        case Some(((l, r), w)) if w >= 2L =>
          val merged = l + r
          out += ((rank, l, r, merged, w))
          words = words.map { case (syms, c) => (applyMerge(syms, l, r, merged), c) }
          rank += 1
        case _ => exhausted = true
      }
    }
    out.toSeq
  }

  private val mergeSchema = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("weight", LongType, nullable = false)))

  private def mergesToDf(docs: DataFrame,
      learned: Seq[(Int, String, String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        learned.map(m => Row(m._1.toLong, m._2, m._3, m._4, m._5)), 1),
      mergeSchema)
  }

  /** Learned merge table: one corpus-sized count job, then a driver
    * loop ([[trainOnCounts]]).
    *
    * @param docs      corpus with a `text` column
    * @param numMerges merge rules to learn (stops early if no adjacent
    *                  pair occurs at least twice)
    * @return (rank, left, right, merged, weight), rank 1-based in learn
    *         order — row-identical to [[trainMergesDistributed]]
    */
  def trainMerges(docs: DataFrame, numMerges: Int): DataFrame =
    mergesToDf(docs, trainOnCounts(collectWordCounts(docs), numMerges))

  /** One merge rule as a greedy left-to-right fold over a symbol-array
    * column — the executor-side twin of [[applyMerge]], shared by the
    * distributed trainer and the expression encode path.
    */
  private[ext] def mergeFold(syms: Column, l: String, r: String,
      merged: String): Column =
    aggregate(syms,
      array().cast(ArrayType(StringType)),
      (acc, s) =>
        when((size(acc) > 0) &&
            (element_at(acc, -1) === lit(l)) && (s === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(lit(merged))))
          .otherwise(concat(acc, array(s))))

  /** The all-DataFrame iterative trainer — BpeSpec's independent
    * cross-check of [[trainMerges]] (different machinery, identical
    * rows at two scales + under ScalaCheck), and the fallback for a
    * vocabulary too large to collect. Each iteration is a small (l, r)
    * pair-count shuffle over the vocab table, a TakeOrdered(1) argmax,
    * and a narrow per-word fold — one scheduled job per merge, which is
    * exactly why the driver loop is the production path.
    */
  def trainMergesDistributed(docs: DataFrame, numMerges: Int): DataFrame = {
    var words = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint()

    val learned = ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = words
        .select(col("cnt"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("w"))
        .orderBy(col("w").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("w") < 2L) exhausted = true
      else {
        val (l, r, w) = (top(0).getAs[String]("l"),
          top(0).getAs[String]("r"), top(0).getAs[Long]("w"))
        val merged = l + r
        learned += ((rank, l, r, merged, w))
        // greedy left-to-right application as a per-word fold; lineage
        // truncated per round (on a real cluster prefer checkpoint() so
        // a lost executor doesn't replay rounds)
        words = words.withColumn("syms", mergeFold(col("syms"), l, r, merged))
          .localCheckpoint()
        rank += 1
      }
    }
    mergesToDf(docs, learned.toSeq)
  }

  /** Encode a distinct-word table with a learned merge list →
    * (word, n_sym). The merge list is broadcast (numMerges rows); the
    * per-word replay is genuine per-partition imperative logic — a
    * rank-ordered rule fold whose depth equals the rule count, which no
    * fixed-depth Catalyst expression can express at a production 30k
    * rules — the sanctioned `mapPartitions` carve-out (Multimodal's
    * batch decode, a14's bounded heap). Runs on the VOCABULARY table
    * only, never the corpus.
    */
  def encodeVocab(words: DataFrame,
      merges: Seq[(String, String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    words.select(col("word")).as[String]
      .mapPartitions { it =>
        val m = bc.value.toSeq
        it.map(w => (w, encodeWord(w, m).length.toLong))
      }
      .toDF("word", "n_sym")
  }

  /** [[encodeVocab]] as pure column expressions — one [[mergeFold]] per
    * rule, nested. Viable only while the rule count keeps the
    * expression tree shallow (fine at the 20-rule gate scale; a
    * production 30k-rule table needs [[encodeVocab]]); exists as the
    * different-machinery cross-check BpeSpec compares row-for-row.
    */
  def encodeVocabExpr(words: DataFrame,
      merges: Seq[(String, String, String)]): DataFrame =
    words.select(col("word"),
      size(merges.foldLeft(split(col("word"), "")) {
        case (syms, (l, r, m)) => mergeFold(syms, l, r, m)
      }).cast("long").as("n_sym"))

  /** Corpus-wide BPE token counting — the operator that lets token
    * budgets / packing / mixing weights run on REAL tokenizer counts
    * instead of whitespace proxies. The corpus-sized work is one
    * (doc_id, word) partial-agg shuffle; the expensive per-word rule
    * replay runs once per DISTINCT word ([[encodeVocab]]) and the
    * resulting (word → n_sym) map — vocabulary-bounded, like the
    * training table — broadcasts back onto the per-doc word counts (a
    * corpus too word-diverse for that broadcast drops the hint and
    * pays one equi-join shuffle; same trade as c18 vs c18b).
    *
    * @return (doc_id, n_tokens, n_bpe_tokens), n_tokens the whitespace
    *         token count, n_bpe_tokens the learned-vocabulary count
    */
  def encodeTokenCounts(docs: DataFrame,
      merges: Seq[(String, String, String)]): DataFrame = {
    val perDocWord = docs
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n_occ"))
    val enc = encodeVocab(perDocWord.select("word").distinct(), merges)
    perDocWord.join(broadcast(enc), "word")
      .groupBy("doc_id")
      .agg(sum("n_occ").cast("long").as("n_tokens"),
        sum(col("n_occ") * col("n_sym")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }
}
