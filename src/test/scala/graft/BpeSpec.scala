package graft

import org.apache.spark.sql.functions._

import graft.ext.{BpeTrainer, TextAnalysis}

/** BPE training + encoding — the t20/t21 correctness story. No SQL
  * oracle exists (iterative argmax/merge and rank-ordered rule replay
  * are not single-statement expressible), so the gate is cross-checks
  * between GENUINELY DIFFERENT machinery: the driver trainer
  * ([[BpeTrainer.trainOnCounts]], production path) against the
  * all-DataFrame iterative trainer ([[BpeTrainer.trainMergesDistributed]]),
  * and the imperative vocab encode ([[BpeTrainer.encodeVocab]],
  * production path) against the nested-expression fold
  * ([[BpeTrainer.encodeVocabExpr]]) — each at both correctness scales,
  * plus a full plain-Scala replay of t21's end-to-end output.
  */
class BpeSpec extends SparkSpec {

  private def wordCounts(dir: String): Seq[(String, Long)] =
    BpeTrainer.collectWordCounts(
      graft.etl.Tables.table(spark, dir, "documents").select("text"))

  private def collectMerges(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("rank").collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  test("pinned BpeMerges artifact is the trainer's exact sf0.01 output (provenance)") {
    // the registry's t21/c8b/c9b encode against ext/BpeMerges.scala; this
    // pins the checked-in literals to their stated provenance so a fixture
    // or recipe change fails loudly here instead of silently drifting the
    // artifact (regenerate via `Test/runMain graft.BpePinGen`)
    val trained = BpeTrainer
      .trainOnCounts(wordCounts("/root/testdata/sf0.01"), 20)
      .map(m => (m._2, m._3, m._4))
    assert(graft.ext.BpeMerges.Default == trained,
      "ext/BpeMerges.scala is stale — regenerate via `Test/runMain graft.BpePinGen`")
  }

  test("t20: driver trainer equals the distributed trainer at sf0.001 AND sf0.01") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.etl.Tables.table(spark, dir, "documents").select("text")
      val got = collectMerges(BpeTrainer.trainMerges(docs, 12))
      val want = collectMerges(BpeTrainer.trainMergesDistributed(docs, 12))
      assert(got == want, s"dir=$dir")
      assert(got.size == 12, s"dir=$dir learned only ${got.size} merges")
      // and the driver loop really is a pure function of the counts
      assert(got == BpeTrainer.trainOnCounts(wordCounts(dir), 12), s"dir=$dir")
    }
  }

  test("t20 property: driver trainer equals the distributed trainer on random corpora") {
    // ScalaCheck-generated corpora over a 4-letter alphabet hit the merge
    // paths the fixed fixture cannot: single-char words (no pairs),
    // heavy weight ties (the (w desc, l, r) tiebreak), self-overlapping
    // runs ("aaaa"), and early exhaustion (best weight < 2). A fixed
    // seed keeps the gate deterministic; 5 cases × a full Spark train
    // keeps it affordable. On failure ScalaCheck shrinks to a minimal
    // corpus — a far better repro than a fixture diff.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sess = spark
    import sess.implicits._
    val genWord = for {
      n <- Gen.choose(1, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    val genCorpus = Gen.nonEmptyListOf(genWord).map(_.take(40))
    val prop = Prop.forAll(genCorpus) { words =>
      val df = words.grouped(8).map(_.mkString(" ")).toSeq.toDF("text")
      val got = collectMerges(BpeTrainer.trainMergesDistributed(df, 6))
      val counts = words.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq.sortBy(_._1)
      got == BpeTrainer.trainOnCounts(counts, 6)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(5)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("t20: greedy fold semantics — 'aaa' under (a,a) yields [aa, a]") {
    // the non-overlapping scan pinned as a unit case: a merged symbol
    // must not re-trigger as the LEFT of the same rule within one pass
    val ref = BpeTrainer.trainOnCounts(Seq(("aaa", 5L)), 1)
    assert(ref == Seq((1, "a", "a", "aa", 10L)))
    val sess = spark
    import sess.implicits._
    val df = Seq("aaa aaa aaa aaa aaa").toDF("text")
    val m = collectMerges(BpeTrainer.trainMerges(df, 2))
    // merge 1: (a,a) weight 10 (two per word × 5 words, greedy counts
    // non-overlapping pairs — 2 of the 2 adjacencies); merge 2: (aa,a) —
    // the leftover single 'a' after the greedy pass
    assert(m.head == ((1, "a", "a", "aa", 10L)))
    assert(m(1) == ((2, "aa", "a", "aaa", 5L)))
    // encode under the learned rules: "aaa" → 1 symbol; "aaaa" → the
    // RANK-ORDER semantics pinned — rule (a,a) first pairs (1,2)(3,4)
    // into [aa, aa], leaving rule (aa,a) no bare "a" to consume (a
    // lowest-rank-pair rewriter would give the same here; the point is
    // the fold never backtracks)
    assert(BpeTrainer.encodeWord("aaa",
      m.map(x => (x._2, x._3, x._4))) == Vector("aaa"))
    assert(BpeTrainer.encodeWord("aaaa",
      m.map(x => (x._2, x._3, x._4))) == Vector("aa", "aa"))
  }

  test("t21: imperative and expression encode paths are row-equal at two scales") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val merges = BpeTrainer.trainOnCounts(wordCounts(dir), 12)
        .map(m => (m._2, m._3, m._4))
      val vocab = graft.etl.Tables.table(spark, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .distinct()
      val imp = BpeTrainer.encodeVocab(vocab, merges)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val expr = BpeTrainer.encodeVocabExpr(vocab, merges)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(imp == expr, s"dir=$dir")
      assert(imp.nonEmpty && imp.values.forall(_ >= 1L), s"dir=$dir")
    }
  }

  test("t21: encodeTokenCounts replays exactly in plain Scala at two scales") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.etl.Tables.table(spark, dir, "documents")
      val merges = BpeTrainer
        .trainOnCounts(BpeTrainer.collectWordCounts(docs.select("text")), 20)
        .map(m => (m._2, m._3, m._4))
      val got = BpeTrainer.encodeTokenCounts(docs.select("doc_id", "text"), merges)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      // independent replay: tokenize with the same Spark expression
      // (pinning the TOKENIZER is t1's job), then count symbols per doc
      // entirely on the driver — no join, no groupBy, no encode table
      val want = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .collect()
        .map { r =>
          val toks = r.getSeq[String](1)
          (r.getLong(0), (toks.size.toLong,
            toks.map(w => BpeTrainer.encodeWord(w, merges).length.toLong).sum))
        }.toMap
      assert(got == want, s"dir=$dir")
      // sanity on the pair: every word encodes to ≥ 1 symbol, so the
      // BPE count can never undershoot the whitespace token count
      assert(got.values.forall { case (n, nb) => nb >= n }, s"dir=$dir")
    }
  }

  /** Plain-Scala per-doc BPE counts under the 20-rule vocabulary — the
    * independent input both c8b/c9b replays below build on (tokenizer
    * pinned by t1; encodeWord pinned by the t21 replay above).
    */
  private def replayBpeCounts(dir: String): Map[Long, Long] = {
    val docs = graft.etl.Tables.table(spark, dir, "documents")
    // the registry queries encode with the PINNED artifact (the shipped-
    // tokenizer discipline), so the replay does too
    val merges = graft.ext.BpeMerges.Default
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[String](1).map(w =>
          BpeTrainer.encodeWord(w, merges).length.toLong).sum))
      .toMap
  }

  test("c8b: BPE token-budget selection replays exactly in plain Scala at two scales") {
    val budget = 2000L
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bpe = replayBpeCounts(dir)
      // quality scores from the SAME Spark expression the query uses
      // (pinning the score is t2's oracle's job); selection logic —
      // per-lang order, cumulative sum, budget filter — replayed here
      val scored = TextAnalysis
        .withQuality(graft.etl.Tables.table(spark, dir, "documents")
          .select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "quality_score")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val want = scored.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
        var cum = 0L
        ds.sortBy { case (id, _, q) => (-q, id) }.flatMap { case (id, _, q) =>
          cum += bpe(id)
          if (cum <= budget) Some((id, lang, bpe(id), q, cum)) else None
        }
      }.sortBy(x => (x._2, x._1))
      val got = SparkEntry.queries("c8b_token_budget_bpe")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSeq
      assert(got == want, s"dir=$dir")
      assert(got.nonEmpty, s"dir=$dir selected nothing")
      // the budget must actually bind: a strict subset of each language
      val perLangAll = scored.groupBy(_._2).view.mapValues(_.size).toMap
      val perLangSel = got.groupBy(_._2).view.mapValues(_.size).toMap
      for ((lang, n) <- perLangSel)
        assert(n < perLangAll(lang), s"dir=$dir lang=$lang kept everything")
    }
  }

  test("c9b: BPE sequence packing replays exactly in plain Scala at two scales") {
    val seqLen = 1024L
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bpe = replayBpeCounts(dir)
      val want = bpe.keys.toSeq.groupBy(_ % 8).toSeq.flatMap { case (g, ids) =>
        var cum = 0L
        ids.sorted.map { id =>
          val before = cum; cum += bpe(id)
          (id, g, bpe(id), before / seqLen, before % seqLen)
        }
      }.sortBy(x => (x._2, x._1))
      val got = SparkEntry.queries("c9b_pack_sequences_bpe")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got == want, s"dir=$dir")
      // packing must be non-trivial: multiple sequences in some group
      assert(got.map(x => (x._2, x._4)).distinct.size >
        got.map(_._2).distinct.size, s"dir=$dir only one sequence per group")
    }
  }
}
