package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, Lower, RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.{ShingleHashes, Tokens}

/** The native corpus text kernels against the composed Spark expressions
  * they replace: `Tokens` against `split(lower(trim(text)), "\\s+")` and
  * `ShingleHashes` against the `xxhash64` lambda chain over
  * `Dedup.shingles`, value for value, with generated code that must
  * compile (no fallback) and again interpreted, under both ICU
  * case-mapping settings; plus a guard that the gate and the fingerprint
  * index plan none of the replaced expressions.
  */
class TextKernelSpec extends SparkSpec {

  import spark.implicits._

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** `body` once per execution mode and ICU case-mapping setting, with
    * the session's settings restored afterwards.
    */
  private def everyMode(body: String => Unit): Unit =
    for ((mode, confs) <- modes; icu <- Seq("true", "false")) {
      val all = confs + ("spark.sql.icu.caseMappings.enabled" -> icu)
      val prev = all.keys.map(k => k -> spark.conf.getOption(k)).toMap
      all.foreach { case (k, v) => spark.conf.set(k, v) }
      try body(s"$mode, icu=$icu")
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  private val words = Seq("the", "The", "QUICK", "brown", "Fox", "a1", "x-y", "of",
    "İstanbul", "STRASSE", "straße", "ΟΔΟΣ", "σοφός", "ǅemal", "Ǆ", "naïve",
    "😀", "😀Smile", "ﬁne")
  // every Java-regex \s character, runs of them, and two spaces that are
  // not \s (no-break and em space)
  private val gaps = Seq(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \t\r\n ",
    "\u00A0", "\u2003")

  /** Seeded documents: null, "", whitespace-only, every \s character at
    * the start, middle and end, and non-ASCII text.
    */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(14)
    def gap = gaps(rnd.nextInt(gaps.size))
    val random = Seq.fill(1500) {
      val toks = Seq.fill(rnd.nextInt(14))(words(rnd.nextInt(words.size)))
      (if (rnd.nextInt(3) == 0) gap else "") +
        toks.map(_ + gap).mkString.dropRight(if (rnd.nextBoolean()) 1 else 0) +
        (if (rnd.nextInt(3) == 0) gap else "")
    }
    val fixed = Seq(null, "", " ", "\t", "\ta", "a\t", " \t a \r ", "\u000Bb\fc\r",
      "ONE two ONE two ONE two ONE two ONE", "ΣΑΣ ΟΔΟΣ", "İ")
    spark.sparkContext.parallelize((fixed ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }, 4).toDF("doc_id", "text")
  }

  private def composedTokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Rows of (doc_id, a, b) where a != b, null-safe. */
  private def mismatches(df: DataFrame, a: Column, b: Column): Seq[String] =
    df.select(col("doc_id"), a.as("a"), b.as("b"))
      .filter(!(col("a") <=> col("b")))
      .collect().toSeq.map(_.toString)

  test("tokens equals split(lower(trim(text)), \"\\\\s+\") on a seeded corpus, every mode") {
    everyMode { mode =>
      val bad = mismatches(corpus, Tokens.tokens(col("text")), composedTokens(col("text")))
      assert(bad.isEmpty, s"$mode: ${bad.take(3)}")
    }
    val got = corpus.filter(col("doc_id") < 8)
      .select(Tokens.tokens(col("text"))).collect().map(r => Option(r.getSeq[String](0)))
    assert(got.toSeq == Seq(None, Some(Seq("")), Some(Seq("")), Some(Seq("", "")),
      Some(Seq("", "a")), Some(Seq("a", "")), Some(Seq("", "a", "")),
      Some(Seq("", "b", "c", ""))))
  }

  test("normalized is the regex-replace spelling on the same corpus, every mode") {
    everyMode { mode =>
      val bad = mismatches(corpus, TextAnalysis.normalized(col("text")),
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      assert(bad.isEmpty, s"$mode: ${bad.take(3)}")
    }
  }

  test("shingle hashes equal the xxhash64 lambda chain, element by element and in order") {
    val toks = corpus.select(col("doc_id"), Tokens.tokens(col("text")).as("toks"))
    val sizes = toks.filter(col("toks").isNotNull).select(size(col("toks"))).as[Int].collect()
    assert(sizes.exists(_ < 7) && sizes.count(_ >= 8) > 100, "both shingle branches")
    everyMode { mode =>
      for (n <- Seq(1, 2, 7)) {
        val chain = array_distinct(transform(Dedup.shingles(col("toks"), n),
          s => when(s.isNotNull, xxhash64(s))))
        val bad = mismatches(toks, ShingleHashes.shingle_hashes(col("toks"), n), chain)
        assert(bad.isEmpty, s"$mode, n=$n: ${bad.take(3)}")
      }
    }
    val nullAndEmpty = corpus.filter(col("doc_id") < 2)
      .select(ShingleHashes.shingle_hashes(Tokens.tokens(col("text")), 7))
      .collect().map(_.getSeq[Any](0))
    assert(nullAndEmpty.toSeq == Seq(Seq(null), Seq(xxhash64Of(""))))
    assert(corpus.filter(col("doc_id") === 8)
      .select(size(ShingleHashes.shingle_hashes(Tokens.tokens(col("text")), 2)))
      .as[Int].head() == 2, "repeated bigrams collapse to one fingerprint each")
  }

  private def xxhash64Of(s: String): Long =
    Seq(s).toDF("s").select(xxhash64(col("s"))).as[Long].head()

  /** Expressions in `plan` that the native kernels replace. */
  private def replaced(plan: LogicalPlan): Seq[Expression] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case e @ (_: StringSplit | _: Lower | _: RegExpReplace | _: HigherOrderFunction) => e
    }))

  private def hasKernel(plan: LogicalPlan): Boolean =
    plan.find(_.expressions.exists(_.exists {
      case _: Tokens | _: ShingleHashes => true
      case _ => false
    })).isDefined

  test("the quality gate, the t-family fingerprints and the fingerprint index plan no " +
    "split, lower, regex replace or lambda") {
    val docs = graft.etl.Tables.table(spark, sf, "documents")
    for ((name, df) <- Seq("qualityScores" -> TextAnalysis.qualityScores(docs),
        "fingerprints" -> TextAnalysis.fingerprints(docs))) {
      val plan = df.queryExecution.optimizedPlan
      assert(hasKernel(plan), name)
      assert(replaced(plan).isEmpty, s"$name: ${replaced(plan)}")
    }
    // the index is checkpointed while it is built: read the plan its
    // checkpoint job executed
    val executed = new org.apache.spark.sql.ExecutedPlans
    spark.sparkContext.addSparkListener(executed)
    try {
      spark.sparkContext.setJobGroup("fingerprintIndex", "fingerprintIndex")
      try Dedup.fingerprintIndex(docs, 7)
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graft.ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(executed)
      CacheScope.dropAll(spark)
    }
    val plans = executed.byGroup.getOrElse("fingerprintIndex", Nil)
    assert(plans.exists(hasKernel), s"no executed plan holds the kernels: $plans")
    plans.foreach(p => assert(replaced(p).isEmpty, s"fingerprintIndex: ${replaced(p)}"))
  }
}
