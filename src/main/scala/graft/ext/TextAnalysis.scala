package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristic, document fingerprinting. All are narrow, codegen'd column
  * expressions — zero shuffles, zero UDFs — so they stream through a 100 TB
  * corpus at scan speed. Regex character classes are spelled explicitly so
  * Java regex (Spark) and RE2 (DuckDB oracle) agree.
  */
object TextAnalysis {

  /** Whitespace tokens of lower-cased trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Reference-free "BPE-ish" subword proxy: letter runs + single digits +
    * individual punctuation, the shape byte-pair pretokenizers produce.
    */
  val subwordPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("char_count"),
      size(tokens(col("text"))).cast("long").as("ws_token_count"),
      regexp_count(col("text"), lit(subwordPattern)).cast("long").as("subword_count"))

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")

  private def nTokExpr = size(tokens(col("text"))).cast("double")
  private def punctExpr = regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
    length(col("text")).cast("double")
  // token_set_count, not size(filter(...)): the HOF spelling is
  // interpreted (per-token closure dispatch, outside codegen); the native
  // expression is one hash probe per token inside the scan loop —
  // identical counts, asserted by the ExtensionsSpec equivalence test
  private def stopRatioExpr =
    graft.functions.TokenSetCount
      .token_set_count(tokens(col("text")), stopwords)
      .cast("double") / nTokExpr
  // sqrt (IEEE correctly-rounded) instead of log (libm-dependent last
  // ulp) keeps the score bit-identical across engines.
  private def scoreExpr =
    sqrt(nTokExpr) * (lit(1.0) - punctExpr) *
      (lit(0.5) + lit(0.5) * stopRatioExpr)

  /** Heuristic quality score: length signal × low-punctuation signal ×
    * stopword-density signal. Formula is arbitrary but deterministic and
    * mirrored exactly in the oracle (same expression tree → same doubles).
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val avgLen = length(array_join(toks, "")).cast("double") / nTokExpr
    docs.select(col("doc_id"), nTokExpr.cast("long").as("n_tokens"),
      avgLen.as("avg_token_len"), punctExpr.as("punct_ratio"),
      stopRatioExpr.as("stopword_ratio"), scoreExpr.as("quality_score"))
  }

  /** [[qualityScores]] as APPENDED columns — the join-free form for
    * pipelines whose downstream steps still need the text (c1/c3): the
    * quality signals are narrow expressions of `text`, so joining the
    * corpus back to `qualityScores(corpus)` on doc_id would pay a
    * two-sided shuffle for columns the scan already has in hand.
    */
  def withQuality(docs: DataFrame): DataFrame =
    docs.withColumn("n_tokens", nTokExpr.cast("long"))
      .withColumn("quality_score", scoreExpr)

  /** Per-language stopword marker sets for the n-gram language-ID
    * heuristic. Deliberately small; the point is the operator shape
    * (token-set scoring at scan speed), not lexicographic coverage.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "es" -> Seq("el", "la", "que", "y", "los", "una"),
    "fr" -> Seq("le", "les", "et", "des", "un", "dans"))

  /** Language-ID: count marker-token occurrences per language, pick the
    * max with a fixed priority order (en > de > es > fr; no hits → other).
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val Seq(en, de, es, fr) = langMarkers.map { case (_, words) =>
      graft.functions.TokenSetCount.token_set_count(toks, words)
    }
    val pred = when(en + de + es + fr === 0, lit("other"))
      .when(en >= greatest(de, es, fr), lit("en"))
      .when(de >= greatest(es, fr), lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
    docs.select(col("doc_id"), en.as("c_en"), de.as("c_de"),
      es.as("c_es"), fr.as("c_fr"), pred.as("lang_pred"))
  }

  /** Repetition signals (the Gopher repetition filters' shape, Rae et al.
    * 2021 §A1.1): duplicate-word fraction, most-frequent-word fraction and
    * most-frequent-bigram fraction per document — high values mark the
    * degenerate boilerplate/spam a training corpus drops. Two shuffles,
    * both on (doc_id, gram) — grams never leave their doc's partition
    * group, so this scales with corpus size, not vocabulary. Ratios are
    * double divisions of exact counts → bit-identical in the oracle.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val words = toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        sum("n").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max("n").as("top_word_n"))
    // Dedup.shingles degrades to [whole text] below n tokens, so every doc
    // has ≥ 1 "bigram" — no division guard needed (oracle mirrors the CASE)
    val bigrams = toks
      .select(col("doc_id"), explode(Dedup.shingles(col("toks"), 2)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        sum("n").as("n_bigrams"),
        max("n").as("top_bigram_n"))
    words.join(bigrams, "doc_id")
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("n_distinct").cast("double") /
          col("n_words").cast("double")).as("dup_word_frac"),
        (col("top_word_n").cast("double") /
          col("n_words").cast("double")).as("top_word_frac"),
        (col("top_bigram_n").cast("double") /
          col("n_bigrams").cast("double")).as("top_bigram_frac"))
  }

  /** Content-defined fingerprint: md5 of whitespace-normalized lower-cased
    * text. Identical derivation in the oracle; the rolling-hash variant
    * lives in [[graft.functions.RollingHash]] (native Catalyst expression).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(normalized(col("text"))).as("fingerprint"))

  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** PII masking patterns — explicit character classes so Java regex
    * (Spark) and RE2 (DuckDB oracle) agree on every match. Application
    * order matters: emails first (their domains contain dot-separated
    * runs the IPv4 pattern must never see as leftovers), then phones,
    * then bare IPv4s.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}"
  val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction: count and mask emails, international
    * phone numbers and IPv4 addresses — the standard scrub pass before a
    * corpus ships to training. Narrow codegen'd regex expressions: no
    * UDF, no shuffle, scan speed at any corpus size.
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(ipv4Re)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipv4Re, "<IP>")
        .as("redacted"))

  /** Fixed-size token windows with overlap — context-window chunking for
    * training-sequence construction: window `window` tokens, stride
    * `stride` (overlap = window − stride). Chunk starts are i·stride for
    * i in [0, ceil(max(len − window, 0) / stride)]; every doc yields ≥ 1
    * chunk (short docs → one short chunk), and every token lands in at
    * least one chunk. Pure array expressions + one posexplode: narrow,
    * no shuffle — output volume is the ~(window/stride)× token blow-up
    * itself, which is the operator's contract, not overhead.
    */
  def chunkWindows(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride, "need window >= stride > 0")
    val lastStart =
      floor((greatest(size(col("w")) - lit(window), lit(0)) + lit(stride - 1))
        .cast("double") / lit(stride)).cast("long") * stride
    // posexplode the start offsets, then slice in a plain projection: a
    // transform() lambda would run interpreted (per-chunk closure
    // dispatch — the same cost TokenSetCount exists to avoid), while this
    // shape keeps the slicing inside codegen
    val sliced = slice(col("w"), (col("st") + 1).cast("int"), lit(window))
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0L), lastStart, lit(stride.toLong)))
          .as(Seq("chunk_id", "st")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(sliced).cast("long").as("n_chunk_tokens"),
        array_join(sliced, " ").as("chunk"))
  }

  /** Aligned fixed-width segmentation of a token array: tokens
    * [0,segTokens) join to segment 0, [segTokens,2·segTokens) to
    * segment 1, …; the last segment may be short. Empty token array →
    * EMPTY segment array (matching DuckDB `range(0)` semantics): the
    * `when` guard exists because Spark's `sequence(0, -1)` is a
    * DESCENDING `[0, -1]`, which would fabricate two empty segments for
    * a zero-token input. (Unreachable via [[tokens]] — `split("")`
    * yields `[""]` — but this is a general-purpose helper.)
    */
  def segments(w: Column, segTokens: Int = 8): Column = {
    val nSegs =
      floor((size(w).cast("long") + lit(segTokens - 1L)) / lit(segTokens.toLong))
    when(nSegs > 0,
      transform(sequence(lit(0L), nSegs - lit(1L)),
        i => array_join(
          slice(w, (i * lit(segTokens.toLong) + lit(1L)).cast("int"),
            lit(segTokens)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Max token multiplicity (the Gopher top-token-share numerator) as a
    * single O(n log n) in-row pass: run-length max over the SORTED
    * array instead of the naive distinct×filter scan — the old form
    * was O(distinct·n) per document (~10⁴ interpreted array-lambda
    * steps at 100 tokens; measured as most of c15's honest cost).
    * NULL on an empty array, matching `list_max` over an empty list in
    * the oracle.
    */
  def maxTokenFreq(toks: Column): Column = {
    val run = (acc: Column, t: Column) =>
      when(t === acc.getField("prev"), acc.getField("run") + 1L)
        .otherwise(lit(1L))
    when(size(toks) === 0, lit(null).cast("long")).otherwise(
      aggregate(array_sort(toks),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, t) => struct(
          t.as("prev"),
          run(acc, t).as("run"),
          greatest(acc.getField("best"), run(acc, t)).as("best")),
        acc => acc.getField("best")))
  }

  /** C4-style boilerplate stripping ("line dedup"; the corpus is
    * single-line, so the line unit is the aligned `segTokens`-token
    * segment): segments appearing in >= `minDf` DISTINCT documents are
    * deleted and the survivors reassembled in original order. One
    * partial-agg shuffle (the segment document-frequency count); the
    * strip+rebuild is a narrow map — the df>=minDf set collapses to a
    * one-row sorted array broadcast back (scalar cross join), and the
    * in-row segments array makes order preservation free. The per-segment
    * array_contains scan is fine while the boilerplate set stays
    * broadcast-sized (it IS the repeated content — small by
    * construction); a pathological corpus would flip to a left-anti
    * equi-join on segment + a doc_id regroup + order-restoring sort
    * (one extra full-corpus shuffle).
    */
  def boilerplateStrip(docs: DataFrame, segTokens: Int = 8,
      minDf: Int = 3): DataFrame = {
    // pre-fan-out sizing (r19, the a48/a31 rule in its per-row-cost form):
    // the corpus fixture is a 1-partition scan, and tokenize+segments is
    // the operator's dominant per-row cost — without the explicit-count
    // exchange the whole pass (and the strip+rebuild projection, which
    // re-derives it) runs serially on the scan's partition count
    // (profiled: two ~1.2 s single-task stages at sf0.1).
    val spread = graft.PartitionOps.repartitionBeforeFanout(
      docs, col("doc_id"))
    // localCheckpoint (r19): perDoc feeds BOTH the df aggregate and the
    // strip+rebuild projection, and exchange reuse does not fire across
    // the two consumers (profiled: the corpus scan + tokenize+segments
    // pass ran twice per execution). One materialization — (doc_id,
    // segs), ~corpus bytes — makes the dominant per-row cost a
    // one-pass derivation; the d10/c25 checkpoint discipline.
    val perDoc = spread.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), segments(col("w"), segTokens).as("segs"))
      .localCheckpoint()
    val boiler = perDoc
      .select(col("doc_id"), explode(col("segs")).as("seg"))
      .groupBy("seg").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf)
      .agg(sort_array(collect_list(col("seg"))).as("boiler"))
    perDoc.crossJoin(broadcast(boiler))
      .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"),
        filter(col("segs"), g => !array_contains(col("boiler"), g))
          .as("kept"))
      .select(col("doc_id"), col("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** [[boilerplateStrip]]'s production twin for the pathological corpus
    * its scaladoc names: when the df≥minDf set outgrows broadcast (the
    * repeated content is normally small by construction — but a
    * template-farm corpus can make it arbitrarily large), the
    * broadcast-set `array_contains` scan stops being an option. This
    * form is row-equal by construction and never materializes the
    * boilerplate set on one node: positions LEFT ANTI equi-join the
    * df-filtered segment keys (both sides shuffled on `seg` — partial
    * aggs for the df count, AQE-splittable for the join), survivors
    * regroup per doc and reassemble through a sort_array over in-row
    * (seg_no, seg) structs. Cost vs c18: the corpus text crosses the
    * wire twice (the anti-join and the doc regroup) — exactly the "one
    * extra full-corpus shuffle" the broadcast form's scaladoc prices;
    * pick by boilerplate-set size. Docs stripped to nothing are
    * restored by the final left join (n_kept 0, empty text).
    */
  def boilerplateStripAntiJoin(docs: DataFrame, segTokens: Int = 8,
      minDf: Int = 3): DataFrame = {
    // same pre-fan-out exchange as [[boilerplateStrip]] — this form pays
    // the tokenize+segments pass twice (pos side + the n_segs rebuild),
    // both previously serial on the 1-partition corpus scan
    val spread = graft.PartitionOps.repartitionBeforeFanout(
      docs, col("doc_id"))
    // localCheckpoint (r19): perDoc has THREE consumers here (pos's two —
    // the df aggregate and the anti-join probe — plus the n_segs rebuild
    // side), each previously re-running the scan + tokenize+segments
    // chain. One materialization, three cheap readers.
    val perDoc = spread.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), segments(col("w"), segTokens).as("segs"))
      .localCheckpoint()
    val pos = perDoc.select(col("doc_id"),
      posexplode(col("segs")).as(Seq("seg_no", "seg")))
    val boiler = pos.groupBy("seg")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf)
      .select("seg")
    val kept = pos.join(boiler, Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        sort_array(collect_list(struct(col("seg_no"), col("seg"))))
          .as("ordered"))
      .select(col("doc_id"), col("n_kept"),
        array_join(transform(col("ordered"), x => x.getField("seg")), " ")
          .as("txt"))
    perDoc
      .select(col("doc_id"), size(col("segs")).cast("long").as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("txt"), lit("")).as("cleaned_text"))
  }

  /** Full text-cleaning transform for corpus prep: lower-case, strip
    * punctuation, collapse whitespace, drop stopwords — narrow column
    * expressions end to end.
    */
  def cleanText(text: Column): Column =
    array_join(
      filter(split(regexp_replace(lower(trim(text)), "[.,!?;:]", ""), "\\s+"),
        t => !t.isInCollection(stopwords) && t =!= ""),
      " ")
}
