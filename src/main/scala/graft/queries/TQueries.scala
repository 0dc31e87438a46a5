package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{Dedup, DocFixtures, TextAnalysis}
import graft.ext.Corpus.{bigramCommonnessHotSplitAuto, commonnessOf, docBigrams,
  tokenEntropyOf}
import graft.ext.DocFixtures.docs
import graft.queries.Common.{bm25Top20Of, bpeEncodeCtes, docsGopher, docsGopherSql, gopherLines,
  gopherLinesSql, learnedMerges, lnValuesSql, scoreSql, shortDocsSql,
  stopsIn, tokensSql}

/** t*: text analysis — tokens, quality scores, language id,
  * fingerprints, vocabularies, n-gram statistics, BPE, BM25, code
  * detection, entropy and the Gopher rule battery over the documents
  * table.
  */
object TQueries {

  /** t22 core over an arbitrary (doc_id, text) frame. See the t22
    * registry comment for the backoff ladder.
    */
  private[graft] def trigramCoverageOf(d: DataFrame): DataFrame = {
    // spread + localCheckpoint (r19): toks feeds FOUR consumers (the
    // position zip and the three tier builds), each previously re-running
    // the corpus scan + tokenize on the fixture's 1–2-partition layout
    // (profiled: two single-task ~1 s stages per rep). One 32-way
    // tokenize pass, four cheap readers — the d10/c18 discipline.
    val toks = graft.PartitionOps.repartitionBeforeFanout(d, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
      .localCheckpoint()
    val n = size(col("w"))
    val pos = toks.filter(n >= 3)
      .select(col("doc_id"),
        posexplode(arrays_zip(
          Dedup.shingles(col("w"), 3),
          slice(Dedup.shingles(col("w"), 2), lit(2), n - 2),
          slice(col("w"), lit(3), n - 2))).as(Seq("pos", "z")))
      .select(col("doc_id"), col("z").getField("0").as("tri"),
        col("z").getField("1").as("big"), col("z").getField("2").as("uni"))
    // Filter docs shorter than the shingle width BEFORE exploding: for
    // size(w) < n, Dedup.shingles falls back to a single whole-doc
    // pseudo-shingle (an LSH convenience), which here would inject
    // phantom keys into the contested top-K boundary that the oracle's
    // WHERE len(w) >= n never counts — a latent hash break the moment
    // a fixture grows a 1–2-token doc.
    val triTop = toks.filter(n >= 3)
      .select(explode(Dedup.shingles(col("w"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g")).limit(2000)
      .select(col("g").as("tri"), lit(1L).as("t3"))
    val bigTop = toks.filter(n >= 2)
      .select(explode(Dedup.shingles(col("w"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g")).limit(500)
      .select(col("g").as("big"), lit(1L).as("t2"))
    val vocab = toks
      .select(explode(col("w")).as("uni"))
      .groupBy("uni").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("uni"), lit(1L).as("t1"))
    pos
      .join(broadcast(triTop), Seq("tri"), "left")
      .join(broadcast(bigTop), Seq("big"), "left")
      .join(broadcast(vocab), Seq("uni"), "left")
      .withColumn("tier",
        when(col("t3") === 1L, 3L).when(col("t2") === 1L, 2L)
          .when(col("t1") === 1L, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("tier") === 3L, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("tier") === 2L, 1L).otherwise(0L)).as("n_big"),
        sum(when(col("tier") === 1L, 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("tier") === 0L, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_pos"), col("n_tri"), col("n_big"),
        col("n_uni"), col("n_oov"),
        expr("""(1000000 * (3 * n_tri + 2 * n_big + n_uni)) div
                (3 * n_pos)""").as("familiarity_e6"))
      .orderBy("doc_id")
  }

  /** t27 core over an INJECTED (doc_id, text) frame. See the t27
    * registry comment.
    */
  private[graft] def gopherRulesOf(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("w"),
      gopherLines(col("text")).as("ls"))
    val counts = base.select(col("doc_id"),
      size(col("w")).cast("long").as("n_words"),
      length(array_join(col("w"), "")).cast("long").as("sum_wlen"),
      size(col("ls")).cast("long").as("n_lines"),
      size(filter(col("w"), t =>
        t.contains("#") || t.contains("..."))).cast("long").as("n_sym"),
      size(filter(col("ls"), l => l.startsWith("- ")))
        .cast("long").as("n_bullet"),
      size(filter(col("ls"), l => l.endsWith("...")))
        .cast("long").as("n_ellipsis"),
      size(filter(col("w"), t => t.rlike("[a-z]")))
        .cast("long").as("n_alpha"),
      size(array_intersect(array_distinct(col("w")),
        typedlit(GopherStops))).cast("long").as("n_stop"))
    counts.select(col("doc_id"), col("n_words"), col("sum_wlen"),
        col("n_lines"), col("n_sym"), col("n_bullet"), col("n_ellipsis"),
        col("n_alpha"), col("n_stop"),
        (col("n_words") >= 50L && col("n_words") <= 100000L &&
          lit(3L) * col("n_words") <= col("sum_wlen") &&
          col("sum_wlen") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_sym") <= col("n_words") &&
          lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines") &&
          lit(10L) * col("n_ellipsis") <= lit(3L) * col("n_lines") &&
          lit(5L) * col("n_alpha") >= lit(4L) * col("n_words") &&
          col("n_stop") >= 2L).as("keep"))
      .orderBy("doc_id")
  }

  /** documents with deterministic PII appended to every 5th doc — the
    * driver corpus is clean (FIXTURES.md §3), so a redaction pass would
    * be an untested no-op without injection. Same derivation in the
    * oracle CTE ([[docsPiiSql]]).
    */
  private def docsPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
        .otherwise(col("text")).as("text"))

  /** t25 core over an arbitrary (doc_id, text) corpus. See the t25
    * registry comment for the two-signal derivation.
    */
  private[graft] def codeDetectOf(d: DataFrame): DataFrame = {
    val kw = Seq("def", "return", "import", "struct", "int", "elif",
      "void")
    d.select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        size(expr("regexp_extract_all(text, '[{}();=<>]', 0)"))
          .cast("long").as("n_sym"),
        graft.functions.TokenSetCount
          .token_set_count(col("w"), kw).cast("long").as("n_kw"))
      .withColumn("sym_e6", when(col("n_chars") > 0,
        expr("(1000000 * n_sym) div n_chars")).otherwise(0L))
      .withColumn("kw_e6", when(col("n_tokens") > 0,
        expr("(1000000 * n_kw) div n_tokens")).otherwise(0L))
      .withColumn("code_like",
        col("sym_e6") >= 50000L && col("kw_e6") >= 50000L)
      .orderBy("doc_id")
  }

  /** c26 core over arbitrary positives + one-row part-count frames. See
    * the c26 registry comment.
    */
  /** t23's body as a core (r17): the fixed three-term BM25 scorer's
    * top-20, shared with s9's hybrid fusion so both legs rank the SAME
    * sparse scorer. See the t23 registry comment for the plan story.
    */
  private[graft] def bm25Top20(s: SparkSession, dir: String): DataFrame =
    bm25Top20Of(docs(s, dir))

  /** Shared by t16 and its hot-split twin t16b: same statistic, so the
    * same hash-compared oracle proves both plans.
    */
  private lazy val t16OracleSql: String = Oracle.sqlWith(
    s"""bg16 AS (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |      THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
       |      ELSE [array_to_string(w, ' ')] END) AS bigram
       |  FROM (SELECT doc_id, $tokensSql AS w FROM documents)),
       |cf16 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cf
       |         FROM bg16 GROUP BY bigram)""".stripMargin,
    """SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |       CAST(SUM(c.cf) AS BIGINT) AS cf_sum,
      |       CAST(CAST(SUM(c.cf) AS BIGINT) AS DOUBLE) / COUNT(*) AS commonness
      |FROM bg16 b JOIN cf16 c ON b.bigram = c.bigram
      |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)

  /** [[docsPii]] as a DuckDB CTE — identical injection expression. */
  private val docsPiiSql =
    """docs_pii AS (SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
      |    || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
      |  ELSE text END AS text FROM documents)""".stripMargin

  /** Shared n-gram Jaccard pair pipeline (d2 body, d6 input; c19 reuses
    * it at a lower τ for the threshold sweep).
    */
  /** t26's pinned log table: ln(i)·10¹² for the bounded per-doc count
    * domain, computed ONCE here and embedded in both the Spark plan
    * (broadcast LocalRelation) and the DuckDB oracle (VALUES list) —
    * the v7-planes device applied to the log function, closing t19's
    * measured 1-ulp Math.log/libm divergence by never letting either
    * engine evaluate a log. Shared with the ExtensionsSpec replay.
    */
  /** t27's stop-word floor list — the 8 words from Gopher §A1.1,
    * verbatim; shared with the oracle rendering and the spec replay.
    */
  private[graft] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val all: Seq[Query] = Seq(
    // — text analysis —
    Query("t1_token_count", ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("doc_id")), Some(Oracle.sql(
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS char_count,
         |       CAST(len($tokensSql) AS BIGINT) AS ws_token_count,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS subword_count
         |FROM documents ORDER BY doc_id""".stripMargin))),
    Query("t2_quality_score", ((s, dir) =>
      TextAnalysis.qualityScores(docs(s, dir)).orderBy("doc_id")), Some(Oracle.sql(
      s"""SELECT doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w) AS avg_token_len,
         |       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
         |       CAST(len(list_filter(w, t -> t IN ($stopsIn))) AS DOUBLE) / len(w) AS stopword_ratio,
         |       $scoreSql AS quality_score
         |FROM (SELECT doc_id, text, $tokensSql AS w FROM documents)
         |ORDER BY doc_id""".stripMargin))),
    Query("t3_lang_id", ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")), Some(Oracle.sql(
      s"""SELECT doc_id, c_en, c_de, c_es, c_fr,
         |       CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'other'
         |            WHEN c_en >= GREATEST(c_de, c_es, c_fr) THEN 'en'
         |            WHEN c_de >= GREATEST(c_es, c_fr) THEN 'de'
         |            WHEN c_es >= c_fr THEN 'es'
         |            ELSE 'fr' END AS lang_pred
         |FROM (SELECT doc_id,
         |        CAST(len(list_filter(w, t -> t IN ('the','and','of','to','is','in'))) AS BIGINT) AS c_en,
         |        CAST(len(list_filter(w, t -> t IN ('der','die','und','das','ist','nicht'))) AS BIGINT) AS c_de,
         |        CAST(len(list_filter(w, t -> t IN ('el','la','que','y','los','una'))) AS BIGINT) AS c_es,
         |        CAST(len(list_filter(w, t -> t IN ('le','les','et','des','un','dans'))) AS BIGINT) AS c_fr
         |      FROM (SELECT doc_id, $tokensSql AS w FROM documents))
         |ORDER BY doc_id""".stripMargin))),
    Query("t4_fingerprint", ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("doc_id")), Some(Oracle.sql(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin))),
    Query("t5_rolling_fingerprint", ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("rhash"))
        .orderBy("doc_id")), Some(Oracle.sql(
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(length(text)),
        |             i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
        |         (h, c) -> (h * 131 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin))),
    // — vocabulary / n-gram statistics —
    Query("t6_vocab_topk", ((s, dir) =>
      docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(100)), Some(Oracle.sql(
      s"""SELECT word, COUNT(*) AS n
         |FROM (SELECT unnest($tokensSql) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin))),
    Query("t7_bigram_topk", ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(100)), Some(Oracle.sql(
      s"""SELECT bigram, COUNT(*) AS n
         |FROM (SELECT unnest(CASE WHEN len(w) >= 2
         |        THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
         |        ELSE [array_to_string(w, ' ')] END) AS bigram
         |      FROM (SELECT $tokensSql AS w FROM documents))
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin))),
    // TF-IDF-shaped term scoring, top-3 terms per document. The idf factor
    // is the linear surrogate (N+1)/(df+1) so the score is exact rational
    // arithmetic (cross-engine deterministic); swap in log((N+1)/(df+1))
    // in production where oracle parity is not required.
    Query("t8_tfidf_topterms", ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
      tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          col("tf").cast("double") * (col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }), Some(Oracle.sqlWith(
      s"""toks AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents)""".stripMargin,
      """SELECT doc_id, term, tfidf
        |FROM (SELECT tf.doc_id, tf.term,
        |             CAST(tf.tf AS DOUBLE) * (nd.n_docs + 1.0) / (dfreq.df + 1.0) AS tfidf,
        |             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |               ORDER BY CAST(tf.tf AS DOUBLE) * (nd.n_docs + 1.0) / (dfreq.df + 1.0) DESC, tf.term) AS rn
        |      FROM tf JOIN dfreq ON tf.term = dfreq.term, nd)
        |WHERE rn <= 3 ORDER BY doc_id, tfidf DESC, term""".stripMargin))),
    Query("t9_clean_text", ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.cleanText(col("text")).as("clean"))
        .orderBy("doc_id")), Some(Oracle.sql(
      s"""SELECT doc_id,
         |       array_to_string(
         |         list_filter(
         |           regexp_split_to_array(regexp_replace(lower(trim(text)), '[.,!?;:]', '', 'g'), '\\s+'),
         |           t -> NOT t IN ($stopsIn) AND t != ''),
         |         ' ') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin))),
    // winnowing (MOSS) local fingerprints — exploded to rows (the driver
    // checker cannot hash array columns); k=8-byte grams, w=8 windows
    // oracle: winnowing restated in SQL: per-k-gram rolling hashes (nested list
    // lambdas), min per w-window, distinct + sort, unnest to rows. The
    // short-doc branch (< k bytes) hashes the whole text, mirroring the
    // kernel's guard.
    Query("t10_winnow_fingerprints", ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints
          .winnow_fingerprints(col("text"), 8, 8)).as("fp"))
        .orderBy("doc_id", "fp")), Some(Oracle.sqlWith(
      """kg AS (SELECT doc_id, length(text) - 7 AS m,
        |              list_transform(range(length(text) - 7),
        |                i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                       list_transform(range(8),
        |                         c -> CAST(unicode(substring(text, CAST(i + c + 1 AS INTEGER), 1)) AS BIGINT))),
        |                     (a, b) -> (a * 131 + b) % 1000000007)) AS h
        |       FROM documents
        |       WHERE length(text) >= 8),
        |winnowed AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |           list_transform(range(GREATEST(m - 8 + 1, 1)),
        |             j -> list_aggregate(
        |                    list_slice(h, CAST(j + 1 AS INTEGER),
        |                               CAST(LEAST(j + 8, m) AS INTEGER)), 'min')))) AS fps
        |  FROM kg
        |  UNION ALL
        |  SELECT doc_id,
        |         [list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(range(length(text)),
        |              i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
        |            (a, b) -> (a * 131 + b) % 1000000007)]
        |  FROM documents WHERE length(text) < 8)""".stripMargin,
      """SELECT doc_id, unnest(fps) AS fp FROM winnowed
        |ORDER BY doc_id, fp""".stripMargin))),
    // Gopher-style repetition filters: duplicate-word / top-word /
    // top-bigram fractions per doc — the signals that catch degenerate
    // boilerplate a quality score misses
    Query("t11_repetition", ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir)).orderBy("doc_id")), Some(Oracle.sql(
      s"""SELECT w.doc_id AS doc_id, n_words,
         |       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_word_frac,
         |       CAST(top_word_n AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
         |       CAST(top_bigram_n AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_bigram_frac
         |FROM (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
         |             COUNT(*) AS n_distinct, MAX(n) AS top_word_n
         |      FROM (SELECT doc_id, w, COUNT(*) AS n
         |            FROM (SELECT doc_id, unnest($tokensSql) AS w FROM documents)
         |            GROUP BY doc_id, w)
         |      GROUP BY doc_id) w
         |JOIN (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |             MAX(n) AS top_bigram_n
         |      FROM (SELECT doc_id, b, COUNT(*) AS n
         |            FROM (SELECT doc_id, unnest(CASE WHEN len(w2) >= 2
         |                    THEN list_transform(range(len(w2) - 1), i -> w2[i+1] || ' ' || w2[i+2])
         |                    ELSE [array_to_string(w2, ' ')] END) AS b
         |                  FROM (SELECT doc_id, $tokensSql AS w2 FROM documents))
         |            GROUP BY doc_id, b)
         |      GROUP BY doc_id) g
         |  ON w.doc_id = g.doc_id
         |ORDER BY doc_id""".stripMargin))),
    // Per-language length quantiles — the exact order statistics behind
    // length-filter threshold selection (drop docs below p05 / above p95
    // per language, never one global cutoff). percentile_disc is an
    // order stat: engine-exact, no float-summation caveat. Spark's
    // percentile_disc returns DOUBLE even over BIGINT input, while an
    // order statistic of a BIGINT column IS a BIGINT — cast back
    // (lossless) to keep the discrete-quantile type.
    Query("t12_length_quantiles", ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p05"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p50"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p95"))
        .orderBy("lang")), Some(Oracle.sql(
      """SELECT lang, COUNT(*) AS n_docs,
        |       quantile_disc(n_chars, 0.05) AS p05,
        |       quantile_disc(n_chars, 0.5) AS p50,
        |       quantile_disc(n_chars, 0.95) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))),
    // PII scrub: count + mask emails / intl phone numbers / IPv4s over
    // the injected-PII corpus — narrow codegen'd regex, scan speed
    Query("t13_pii_redact", ((s, dir) =>
      TextAnalysis.piiRedact(docsPii(s, dir)).orderBy("doc_id")), Some(Oracle.sqlWith(docsPiiSql,
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.ipv4Re}', '<IP>', 'g') AS redacted
         |FROM docs_pii ORDER BY doc_id""".stripMargin))),
    // — out-of-vocabulary rate: per-doc fraction of tokens outside the
    //   top-K corpus vocabulary (K=10 against this fixture's 31-word
    //   vocab so the signal is non-degenerate) — the cheap proxy for
    //   "how far is this doc from the corpus distribution" that catches
    //   boilerplate/garbage t2's shape score misses. Two passes by
    //   nature: vocab = partial-agg + TakeOrdered (tiny: K rows,
    //   broadcast), then per-token membership via a broadcast left join
    //   at scan speed. Counts and an integer-ratio double — no float
    //   caveat. —
    Query("t14_oov_rate", ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      val vocab = toks.groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w")).limit(10)
        .select(col("w"), lit(1L).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
         |vocab AS (SELECT w, 1 AS in_vocab
         |          FROM (SELECT w, COUNT(*) AS n FROM toks GROUP BY w
         |                ORDER BY n DESC, w LIMIT 10))""".stripMargin,
      """SELECT t.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin))),
    // — lexical diversity: per-doc type/token ratio and hapax share —
    //   the repetition-adjacent signal (t11 measures REPEATED grams;
    //   this measures vocabulary breadth) used to drop template/boiler-
    //   plate docs whose quality score looks fine. Two partial-agg
    //   shuffles, (doc_id, token) then doc_id — linear like t8's tf
    //   stage; every emitted ratio is double division of exact counts. —
    Query("t15_type_token", ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("f"))
      tf.groupBy("doc_id")
        .agg(sum("f").cast("long").as("n_tokens"),
          count(lit(1)).cast("long").as("n_types"),
          sum(when(col("f") === 1L, 1L).otherwise(0L)).cast("long").as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          (col("n_hapax").cast("double") / col("n_types")).as("hapax_frac"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
         |tf AS (SELECT doc_id, w, COUNT(*) AS f FROM toks GROUP BY doc_id, w)""".stripMargin,
      """SELECT doc_id,
        |       CAST(SUM(f) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_types,
        |       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS BIGINT) AS ttr,
        |       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS hapax_frac
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin))),
    // — corpus-frequency fluency proxy: per-doc mean corpus count of the
    //   doc's bigrams — the LM-free "commonness" signal curators use as a
    //   cheap fluency gate before any model-based scorer (gibberish and
    //   keyword-stuffed docs sit at the low extreme, boilerplate at the
    //   high one). Same two-reference shape as t8's tf (the narrow
    //   tokenize+explode recomputes per branch; the aggregations are the
    //   shuffles); the score is double division of exact counts, so
    //   cross-engine exact. At 100 TB the bigram equi-join hot-spots on
    //   stop-bigrams ("of the") — split the count table by frequency and
    //   broadcast the hot slice (disjoint union preserves the result), or
    //   salt the key exactly as j3 does. —
    Query("t16_bigram_commonness", ((s, dir) => {
      val bg = docBigrams(docs(s, dir))
      commonnessOf(bg.join(bg.groupBy("bigram").agg(count(lit(1)).as("cf")),
        "bigram"))
    }), Some(t16OracleSql)),
    // — t16's production twin for the stop-bigram hot keys its own
    //   comment prices: frequency-split the count table, broadcast the
    //   hot slice (occurrences ≥ 1% of docs — the "of the" mass), keep
    //   only the SKEW-FREE cold slice on the shuffled equi-join, union.
    //   Row-identical by disjointness — hash-proven by the SHARED t16
    //   oracle; hot-slice broadcast + cold-path AQE skew backstop are
    //   plan-asserted in ExtensionsSpec/PlanSpec. See
    //   [[bigramCommonnessHotSplit]]. —
    // oracle: t16b computes the SAME result through the hot-split plan — one
    // oracle, two plans; a divergence in either shows as a hash
    // mismatch on its own row
    Query("t16b_bigram_hotsplit", ((s, dir) =>
      bigramCommonnessHotSplitAuto(docs(s, dir))), Some(t16OracleSql)),
    // — PII span EXTRACTION (t13's dual): emit every matched span with
    //   its kind and in-document match index instead of masking in
    //   place — the shape an audit/reporting pass needs (t13 answers
    //   "scrub it", t17 answers "show me what leaked where"). Three
    //   scan-speed regexp_extract_all passes (same three patterns as
    //   t13, single definition in TextAnalysis) unioned; posexplode
    //   carries the match index so repeated identical spans in one doc
    //   still have a total (doc_id, kind, span_idx) order. —
    Query("t17_span_extract", ((s, dir) => {
      val d = docsPii(s, dir)
      Seq(("email", TextAnalysis.emailRe), ("phone", TextAnalysis.phoneRe),
          ("ip", TextAnalysis.ipv4Re))
        .map { case (kind, re) =>
          d.select(col("doc_id"), lit(kind).as("kind"),
              posexplode(regexp_extract_all(col("text"), lit(re), lit(0))))
            .toDF("doc_id", "kind", "span_idx", "span")
        }
        .reduce(_ unionAll _)
        .select(col("doc_id"), col("kind"),
          col("span_idx").cast("long").as("span_idx"), col("span"))
        .orderBy("doc_id", "kind", "span_idx")
    }), Some(Oracle.sqlWith(docsPiiSql,
      s"""SELECT doc_id, kind, CAST(k AS BIGINT) AS span_idx,
         |       l[CAST(k + 1 AS INTEGER)] AS span
         |FROM (SELECT doc_id, kind, l, unnest(range(len(l))) AS k
         |      FROM (SELECT doc_id, 'email' AS kind,
         |                   regexp_extract_all(text, '${TextAnalysis.emailRe}') AS l
         |            FROM docs_pii
         |            UNION ALL
         |            SELECT doc_id, 'phone',
         |                   regexp_extract_all(text, '${TextAnalysis.phoneRe}')
         |            FROM docs_pii
         |            UNION ALL
         |            SELECT doc_id, 'ip',
         |                   regexp_extract_all(text, '${TextAnalysis.ipv4Re}')
         |            FROM docs_pii))
         |ORDER BY doc_id, kind, span_idx""".stripMargin))),
    // — smoothed conditional bigram probability (the CCNet-style LM
    //   fluency proxy, one level up from t16's raw-frequency mean):
    //   per-bigram p = (C(w1w2)+1) / (C(w1)+V) — add-1 smoothing over
    //   corpus counts — averaged per doc. CONDITIONAL normalization is
    //   the point: t16 scores "of the" and "house the" identically
    //   common-word-high, while p(the|of) ≫ p(the|house) separates
    //   fluent collocation from bag-of-common-words gibberish. The mean
    //   of per-bigram doubles with unlike denominators is fold-order-
    //   dependent, so the per-doc sum folds in pinned pos order (the v1
    //   exact-centroid device) — engine-exact, unlike a bare SUM. Two
    //   count aggregates + two equi-joins on (bigram, w1) + the scalar
    //   vocab broadcast (whitelisted); the 100 TB note is t16's: salt or
    //   hot-slice-broadcast the stop-bigram keys, and the unigram table
    //   usually fits a broadcast outright. —
    // t18 oracle: same add-1 conditional probabilities from the same
    // exact counts; the per-doc sum replays Spark's pinned pos-order
    // fold via list(p ORDER BY pos) + list_reduce — a bare SUM(p) would
    // be engine-order-dependent.
    Query("t18_bigram_fluency", ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      val pairs = base
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              concat_ws(" ", element_at(col("toks"), i),
                element_at(col("toks"), i + 1)).as("bigram"))))
            .as(Seq("pos", "bg")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("bg.w1").as("w1"), col("bg.bigram").as("bigram"))
      val uni = base.select(explode(col("toks")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("cu"))
      val vocab = uni.agg(count(lit(1)).cast("long").as("v"))
      val cb = pairs.groupBy("bigram").agg(count(lit(1)).as("cb"))
      pairs
        .join(cb, "bigram")
        .join(uni, "w1")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("pos"),
          ((col("cb") + lit(1L)).cast("double")
            / (col("cu") + col("v")).cast("double")).as("p"))
        .groupBy("doc_id")
        .agg(collect_list(struct(col("pos"), col("p"))).as("ps"),
          count(lit(1)).cast("long").as("n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"),
          (aggregate(transform(array_sort(col("ps")), x => x.getField("p")),
            lit(0.0), (a, x) => a + x)
            / col("n_bigrams").cast("double")).as("fluency"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""toks18 AS (SELECT doc_id, $tokensSql AS w FROM documents),
         |bg18 AS (SELECT doc_id, i AS pos, w[i+1] AS w1,
         |                w[i+1] || ' ' || w[i+2] AS bigram
         |         FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
         |               FROM toks18 WHERE len(w) >= 2)),
         |cu18 AS (SELECT w1, COUNT(*) AS cu
         |         FROM (SELECT unnest(w) AS w1 FROM toks18) GROUP BY w1),
         |v18 AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM cu18),
         |cb18 AS (SELECT bigram, COUNT(*) AS cb FROM bg18 GROUP BY bigram),
         |p18 AS (SELECT b.doc_id, b.pos,
         |               CAST(c.cb + 1 AS DOUBLE) / CAST(u.cu + v.v AS DOUBLE) AS p
         |        FROM bg18 b
         |        JOIN cb18 c USING (bigram)
         |        JOIN cu18 u USING (w1), v18 v)""".stripMargin,
      """SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list(p ORDER BY pos)), (a, b) -> a + b)
        |         / COUNT(*) AS fluency
        |FROM p18 GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))),
    // — token diversity (repetition concentration): Gini-Simpson index
    //   1 − Σ(c/n)² and the order-2 Hill number n²/Σc² ("effective
    //   vocabulary size" — the type count a uniform doc with this
    //   concentration would have). Deliberately the Rényi-2 diversity,
    //   NOT Shannon entropy: every intermediate here is an integer sum
    //   (order-free, exact) finished by single IEEE divisions — bit-equal
    //   on any engine — where Shannon's per-term ln is not cross-engine
    //   bit-exact (Math.log vs libm diverge by 1 ulp on ~4 of the first
    //   200k integer args — measured). Overflow: Σc² ≤ n² < 2^63 holds to
    //   n ≈ 3e9 tokens/doc. One (doc_id, tok) partial-agg shuffle + a
    //   per-doc agg, both combiner-friendly long sums. —
    // t19 oracle: identical integer sufficient statistics (n, types,
    // Σc²) finished by the same single IEEE divisions — exact parity by
    // construction, no transcendental involved
    Query("t19_simpson_diversity", ((s, dir) => {
      val counts = docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      counts.groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("sumsq"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (lit(1.0) - col("sumsq").cast("double")
            / (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"),
          ((col("n_tokens") * col("n_tokens")).cast("double")
            / col("sumsq").cast("double")).as("eff_types"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""tc19 AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |         FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM documents)
         |         GROUP BY doc_id, tok)""".stripMargin,
      """SELECT doc_id,
        |       CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_types,
        |       1.0 - CAST(SUM(c*c) AS DOUBLE)
        |             / CAST(SUM(c) * SUM(c) AS DOUBLE) AS simpson,
        |       CAST(SUM(c) * SUM(c) AS DOUBLE)
        |         / CAST(SUM(c*c) AS DOUBLE) AS eff_types
        |FROM tc19 GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin))),
    // — BPE vocabulary induction (Sennrich ACL'16): the first 20 merge
    //   rules learned from the corpus, weight-ranked with a pinned
    //   tiebreak. ONE corpus-sized pass builds the word-frequency
    //   table (vocabulary-bounded, corpus-size-independent — ×10 probe
    //   0.9×); training then runs on the DRIVER over the collected
    //   counts, the production trainer shape — a 30k-merge run is one
    //   Spark job plus a driver loop, not 30k scheduled pair-count
    //   shuffles. Hash-oracled since r13: the 20 training rounds unroll
    //   into MATERIALIZED DuckDB CTEs (pair-count → pinned argmax →
    //   greedy re-segment per round — the g5/g10 unrolled-iteration
    //   device), so the oracle replays the TRAINER itself; BpeSpec
    //   additionally cross-checks the driver trainer row-for-row
    //   against the independent all-DataFrame iterative trainer at
    //   sf0.001 AND sf0.01 and under ScalaCheck
    //   (see [[graft.ext.BpeTrainer]]). —
    // t20 oracle: the TRAINER itself, unrolled — 20 rounds of (adjacent
    // pair-count, argmax with the pinned tie-break, greedy re-segment),
    // each round three MATERIALIZED CTEs (the g5/g10 unrolled-iteration
    // device; the memory-table chain would explode under default CTE
    // inlining). DuckDB's binary VARCHAR collation IS code-point order,
    // the same argument BpeTrainer's scaladoc makes for Spark's
    // UTF8String, so ORDER BY w DESC, l, r replays the pinned argmax;
    // the LEFT JOIN NULL-guard makes exhausted rounds no-ops exactly
    // like the trainer's w >= 2 stop.
    Query("t20_bpe_merges", ((s, dir) =>
      graft.ext.BpeTrainer.trainMerges(docs(s, dir).select("text"), 20)
        .orderBy("rank")), Some({
      val rounds = (1 to 20).map { r =>
        s"""pc$r AS MATERIALIZED (
           |  SELECT syms[i+1] AS l, syms[i+2] AS r, CAST(SUM(cnt) AS BIGINT) AS w
           |  FROM bw${r - 1}, unnest(range(len(syms)-1)) AS t(i)
           |  GROUP BY 1, 2),
           |bm$r AS MATERIALIZED (
           |  SELECT l, r, l || r AS m, w FROM pc$r WHERE w >= 2
           |  ORDER BY w DESC, l, r LIMIT 1),
           |bw$r AS MATERIALIZED (
           |  SELECT CASE WHEN bm.l IS NULL THEN syms ELSE
           |    list_reduce(list_prepend(CAST([] AS VARCHAR[]),
           |                             list_transform(syms, x -> [x])),
           |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = bm.l
           |                        AND x[1] = bm.r
           |                  THEN list_append(acc[1:len(acc)-1], bm.m)
           |                  ELSE list_concat(acc, x) END) END AS syms, cnt
           |  FROM bw${r - 1} LEFT JOIN bm$r bm ON TRUE)""".stripMargin
      }.mkString(",\n")
      val union = (1 to 20).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, l, r, m, w FROM bm$r")
        .mkString("\nUNION ALL ")
      Oracle.sqlWith(
        s"""bw0 AS MATERIALIZED (
           |  SELECT regexp_split_to_array(word, '') AS syms,
           |         CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest($tokensSql) AS word FROM documents)
           |  GROUP BY word),
           |$rounds""".stripMargin,
        s"""SELECT rank, l AS "left", r AS "right", m AS merged, w AS weight
           |FROM ($union)
           |ORDER BY rank""".stripMargin)
    })),
    // — BPE encode/apply: count each doc's tokens under the pinned
    //   20-rule vocabulary artifact — the missing half that lets token
    //   budgets (c8), packing (c9) and mixing weights (c16) run on real
    //   tokenizer counts instead of whitespace proxies. Corpus-sized
    //   work is one (doc_id, word) partial-agg shuffle; the rank-
    //   ordered rule replay runs once per DISTINCT word and broadcasts
    //   back (see [[graft.ext.BpeTrainer.encodeTokenCounts]]).
    //   Hash-oracled since r13: the pinned merges unroll into 20
    //   per-rule list folds in DuckDB (each the identical greedy
    //   left-to-right scan), replayed over the same distinct-word
    //   vocabulary. BpeSpec additionally pins the expression-fold and
    //   imperative encode paths row-equal at sf0.001 AND sf0.01 and
    //   replays the full output exactly in plain Scala. —
    // t21 oracle: the unrolled pinned-merge encode replay (bpeEncodeCtes)
    // — same distinct-vocabulary shape, same greedy fold per rule.
    Query("t21_bpe_encode", ((s, dir) => {
      val d = docs(s, dir)
      graft.ext.BpeTrainer.encodeTokenCounts(d.select("doc_id", "text"),
        learnedMerges)
    }), Some(Oracle.sqlWith(bpeEncodeCtes,
      """SELECT doc_id, n_tokens, n_bpe_tokens FROM bpe_counts
        |ORDER BY doc_id""".stripMargin))),
    // — trigram stupid-backoff coverage (t22): the LM-familiarity
    //   proxy CCNet-style curation ranks by — but log-free so it
    //   hash-oracles: every trigram position resolves to the DEEPEST
    //   tier that knows it (top-2000 trigram table → 3, else its
    //   closing bigram in the top-500 → 2, else closing unigram in
    //   the ≥2-count vocab → 1, else OOV → 0 — stupid backoff's
    //   decision ladder with the 0.4-damped float score replaced by
    //   exact tier counts and a ×10⁶ fixed-point familiarity ratio
    //   (3·n₃+2·n₂+n₁)/(3·positions)). The tier tables are TOP-K
    //   BOUNDED — the CCNet trick that makes LM scoring feasible at
    //   100 TB: reference tables stay broadcastable at any corpus
    //   size (K is the knob), n-gram counting is t7's partial-agg
    //   shuffle, position scoring is three broadcast probes inside
    //   one scan. Positions/backoff keys are aligned array slices
    //   zipped in-row (no self-join). Docs under 3 tokens have no
    //   trigram position and are dropped (pinned both sides). —
    //   Since r14 the corpus is docsShort (documents ∪ a 2-token and a
    //   1-token doc): the sub-shingle-width class the pre-r13 tier
    //   builds would have poisoned with whole-doc pseudo-shingles is
    //   now IN the data — the short docs feed the bigram/unigram tiers
    //   per the len(w) ≥ n ladder but produce no position rows.
    // t22 oracle: same aligned slices, same tie-broken top-K tier
    // tables, same ladder and fixed-point familiarity
    Query("t22_trigram_coverage", ((s, dir) =>
      trigramCoverageOf(graft.ext.DocFixtures.docsShort(s, dir))), Some(Oracle.sqlWith(
      s"""docs_short AS (SELECT doc_id, text FROM documents
         |               UNION ALL
         |               $shortDocsSql),
         |tk22 AS (SELECT doc_id, $tokensSql AS w FROM docs_short),
         |ps22 AS (SELECT doc_id,
         |                unnest(list_transform(range(len(w) - 2),
         |                  i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))
         |                  AS tri,
         |                unnest(list_transform(range(len(w) - 2),
         |                  i -> w[i+2] || ' ' || w[i+3])) AS big,
         |                unnest(list_transform(range(len(w) - 2),
         |                  i -> w[i+3])) AS uni
         |         FROM tk22 WHERE len(w) >= 3),
         |tt22 AS (SELECT g FROM (
         |           SELECT unnest(list_transform(range(len(w) - 2),
         |             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
         |           FROM tk22 WHERE len(w) >= 3)
         |         GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT 2000),
         |bt22 AS (SELECT g FROM (
         |           SELECT unnest(list_transform(range(len(w) - 1),
         |             i -> w[i+1] || ' ' || w[i+2])) AS g
         |           FROM tk22 WHERE len(w) >= 2)
         |         GROUP BY g ORDER BY COUNT(*) DESC, g LIMIT 500),
         |vc22 AS (SELECT g FROM (
         |           SELECT unnest(w) AS g FROM tk22)
         |         GROUP BY g HAVING COUNT(*) >= 2),
         |tr22 AS (SELECT doc_id,
         |                CASE WHEN tri IN (SELECT g FROM tt22) THEN 3
         |                     WHEN big IN (SELECT g FROM bt22) THEN 2
         |                     WHEN uni IN (SELECT g FROM vc22) THEN 1
         |                     ELSE 0 END AS tier
         |         FROM ps22),
         |ag22 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pos,
         |                CAST(SUM(CASE WHEN tier = 3 THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS n_tri,
         |                CAST(SUM(CASE WHEN tier = 2 THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS n_big,
         |                CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS n_uni,
         |                CAST(SUM(CASE WHEN tier = 0 THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS n_oov
         |         FROM tr22 GROUP BY doc_id)""".stripMargin,
      """SELECT doc_id, n_pos, n_tri, n_big, n_uni, n_oov,
        |       (1000000 * (3 * n_tri + 2 * n_big + n_uni)) // (3 * n_pos)
        |         AS familiarity_e6
        |FROM ag22
        |ORDER BY doc_id""".stripMargin))),
    // t23 oracle: same surrogate idf, same cross-multiplied length
    // normalization, every literal CAST AS DOUBLE, same pivoted
    // fixed-order sum
    Query("t23_bm25_search", ((s, dir) => bm25Top20(s, dir)), Some(Oracle.sqlWith(
      s"""tk23 AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf23 AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |         FROM tk23 GROUP BY 1, 2),
         |dl23 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |         FROM tk23 GROUP BY doc_id),
         |df23 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf23
         |         WHERE term IN ('scan', 'join', 'window') GROUP BY term),
         |st23 AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         |                  AS nd,
         |                (SELECT CAST(COUNT(*) AS BIGINT) FROM tk23) AS tt),
         |sc23 AS (SELECT t.doc_id, t.term,
         |                (CAST(s.nd + 1 AS DOUBLE) / CAST(f.df + 1 AS DOUBLE))
         |                * (CAST(t.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |                / (CAST(t.tf AS DOUBLE)
         |                   + CAST(1.2 AS DOUBLE)
         |                     * (CAST(0.25 AS DOUBLE)
         |                        + CAST(0.75 AS DOUBLE)
         |                          * (CAST(d.dl AS DOUBLE)
         |                             * CAST(s.nd AS DOUBLE)
         |                             / CAST(s.tt AS DOUBLE)))) AS s
         |         FROM tf23 t
         |         JOIN dl23 d ON t.doc_id = d.doc_id
         |         JOIN df23 f ON t.term = f.term, st23 s
         |         WHERE t.term IN ('scan', 'join', 'window')),
         |pv23 AS (SELECT doc_id,
         |                MAX(CASE WHEN term = 'scan' THEN s END) AS s_scan,
         |                MAX(CASE WHEN term = 'join' THEN s END) AS s_join,
         |                MAX(CASE WHEN term = 'window' THEN s END) AS s_window
         |         FROM sc23 GROUP BY doc_id)""".stripMargin,
      """SELECT doc_id, s_scan, s_join, s_window,
        |       COALESCE(s_scan, CAST(0.0 AS DOUBLE))
        |         + COALESCE(s_join, CAST(0.0 AS DOUBLE))
        |         + COALESCE(s_window, CAST(0.0 AS DOUBLE)) AS bm25
        |FROM pv23
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin))),
    // — BM25 query scoring (t23): the retrieval scoring function every
    //   search stack runs, over a pinned 3-term query — t8's TF-IDF
    //   ranks a doc's own terms; BM25 scores docs AGAINST A QUERY with
    //   tf saturation (k1 = 1.2) and length normalization (b = 0.75).
    //   Exactness discipline: idf keeps t8's linear surrogate
    //   (N+1)/(df+1) (log is never hash-exact), dl/avgdl is the
    //   cross-multiplied dl·N/total_tokens double division of exact
    //   longs, every float literal is CAST AS DOUBLE in the oracle
    //   (b11's DuckDB decimal-literal lesson), and the per-doc total
    //   pivots the ≤3 term scores into COLUMNS summed in a fixed
    //   expression order — no float SUM aggregation whose partial
    //   order could drift the hash. Corpus stats are two broadcast
    //   scalars; the per-(doc, term) table is the t8 partial-agg
    //   family. Top-20 by (score, doc_id). —
    // — vocabulary-growth curve (t24): the Heaps'-law corpus-health
    //   audit — natural text grows vocabulary as a power of corpus
    //   size; a flattening curve is the signature of templated/
    //   synthetic/looped content that per-doc signals (t2, t11) are
    //   blind to, and a super-linear one flags encoding garbage
    //   minting fake types. The curve is (docs, tokens, distinct
    //   types) cumulated over a PINNED 16-bucket doc_id grid: each
    //   type charges its FIRST document (one min() partial agg over
    //   the exploded tokens — map-side combinable, vocabulary-sized,
    //   the t6 shuffle class, never a corpus-position window), doc/
    //   token mass rolls up per bucket, and the cumsum runs on the
    //   ≤16-row bucket table (the a28 bucket-table carve-out). The
    //   one-row max-doc-id width scalar is the whitelisted cross. All
    //   integers end to end. —
    // t24 oracle: same first-doc min per type, same pinned 16-bucket
    // grid, same tiny-table cumsum — all integers
    Query("t24_vocab_growth", ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("w"))
      // the one-row width scalar feeds BOTH rollups — truncate or each
      // re-runs the (pruned, but still corpus-long) doc_id max scan
      val bounds = base.groupBy().agg(max("doc_id").as("max_id"))
        .select(expr("(max_id div 16) + 1").as("width"))
        .localCheckpoint()
      val db = base
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"))
        .crossJoin(broadcast(bounds))
        .groupBy(expr("doc_id div width").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      val tb = base.select(col("doc_id"), explode(col("w")).as("tok"))
        .groupBy("tok").agg(min("doc_id").as("first_doc"))
        .crossJoin(broadcast(bounds))
        .groupBy(expr("first_doc div width").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val wCum = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      db.join(tb, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"), col("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("docs_cum", sum("n_docs").over(wCum))
        .withColumn("tokens_cum", sum("n_tokens").over(wCum))
        .withColumn("types_cum", sum("new_types").over(wCum))
        .orderBy("bucket")
    }), Some(Oracle.sqlWith(
      s"""tk24 AS (SELECT doc_id, $tokensSql AS w FROM documents),
         |wd24 AS (SELECT CAST((SELECT MAX(doc_id) FROM documents) // 16
         |                + 1 AS BIGINT) AS width),
         |db24 AS (SELECT doc_id // width AS bucket,
         |                CAST(COUNT(*) AS BIGINT) AS n_docs,
         |                CAST(SUM(len(w)) AS BIGINT) AS n_tokens
         |         FROM tk24 CROSS JOIN wd24 GROUP BY 1),
         |fd24 AS (SELECT tok, MIN(doc_id) AS first_doc
         |         FROM (SELECT doc_id, unnest(w) AS tok FROM tk24)
         |         GROUP BY 1),
         |tb24 AS (SELECT first_doc // width AS bucket,
         |                CAST(COUNT(*) AS BIGINT) AS new_types
         |         FROM fd24 CROSS JOIN wd24 GROUP BY 1),
         |gr24 AS (SELECT db24.bucket, n_docs, n_tokens,
         |                CAST(COALESCE(new_types, 0) AS BIGINT) AS new_types
         |         FROM db24 LEFT JOIN tb24 ON db24.bucket = tb24.bucket)""".stripMargin,
      """SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, n_tokens,
        |       new_types,
        |       CAST(SUM(n_docs) OVER wc AS BIGINT) AS docs_cum,
        |       CAST(SUM(n_tokens) OVER wc AS BIGINT) AS tokens_cum,
        |       CAST(SUM(new_types) OVER wc AS BIGINT) AS types_cum
        |FROM gr24
        |WINDOW wc AS (ORDER BY bucket
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""".stripMargin))),
    // — code-vs-prose detection (t25): the language-vs-code routing gate
    //   every mixed web/code corpus runs before tokenizer and mixing
    //   decisions (code wants different dedup thresholds, different
    //   quality rules, its own mixing weight — misrouted code poisons
    //   prose perplexity filters and vice versa). Two INTEGER signals at
    //   scan speed: code-symbol density (regexp class {}();=<> per
    //   char) and code-keyword density (exact-token probes via the
    //   native TokenSetCount codegen expression — the t2 stopword
    //   device pointed at def/return/import/struct/int/elif/void), both
    //   as ×10⁶ fixed-point floors, verdict = both thresholds clear.
    //   The driver corpus is pure prose (FIXTURES.md §3), so the code
    //   class comes from the FIXTURE since r15: DocFixtures.docsCode
    //   unions deterministic code docs (three templates cycled, ids in
    //   the 2,000,000 block) derived from every 13th doc — the detector
    //   must fire on exactly that block and nowhere else, pinned by
    //   fixture data at all three scales (the shortDocs device; r14's
    //   single-template in-query CASE injection retired per the r14
    //   verdict). Zero shuffles; the whole query is one narrow
    //   projection over the union. —
    // t25 oracle: the same fixture union (cd25 replays the three
    // DocFixtures.codeDocsOf templates, cycled by doc_id // 13), the
    // same regexp class, the same exact-token keyword probe
    // (list_filter ≡ TokenSetCount on exact matches), the same ×10⁶
    // floors and AND verdict
    Query("t25_code_detect", ((s, dir) =>
      codeDetectOf(DocFixtures.docsCode(s, dir))), Some(Oracle.sqlWith(
      s"""cd25 AS (SELECT doc_id + 2000000 AS doc_id,
         |                CASE (doc_id // 13) % 3
         |                  WHEN 0 THEN 'def f(x): { return (x * 13) + '
         |                       || CAST(doc_id AS VARCHAR)
         |                       || '; } import os; struct point { int v = 7; }'
         |                  WHEN 1 THEN 'struct node { int k = '
         |                       || CAST(doc_id AS VARCHAR)
         |                       || '; void set(int x) { k = (x <= 0) ? 0 : x; } };'
         |                  ELSE 'import sys ; def g(y): if (y > 0): return y ; '
         |                       || 'elif (y < 0): return (0 - y) ; return '
         |                       || CAST(doc_id AS VARCHAR)
         |                END AS text
         |         FROM documents WHERE doc_id % 13 = 0),
         |dc25 AS (SELECT doc_id, text FROM documents
         |         UNION ALL SELECT doc_id, text FROM cd25),
         |tk25 AS (SELECT doc_id, text, $tokensSql AS w FROM dc25),
         |ft25 AS (SELECT doc_id,
         |                CAST(length(text) AS BIGINT) AS n_chars,
         |                CAST(len(w) AS BIGINT) AS n_tokens,
         |                CAST(len(regexp_extract_all(text, '[{}();=<>]'))
         |                  AS BIGINT) AS n_sym,
         |                CAST(len(list_filter(w, t -> t IN ('def',
         |                  'return', 'import', 'struct', 'int', 'elif',
         |                  'void'))) AS BIGINT) AS n_kw
         |         FROM tk25)""".stripMargin,
      """SELECT doc_id, n_chars, n_tokens, n_sym, n_kw,
        |       CASE WHEN n_chars > 0 THEN (1000000 * n_sym) // n_chars
        |            ELSE 0 END AS sym_e6,
        |       CASE WHEN n_tokens > 0 THEN (1000000 * n_kw) // n_tokens
        |            ELSE 0 END AS kw_e6,
        |       (CASE WHEN n_chars > 0 THEN (1000000 * n_sym) // n_chars
        |             ELSE 0 END) >= 50000
        |       AND (CASE WHEN n_tokens > 0
        |                 THEN (1000000 * n_kw) // n_tokens
        |                 ELSE 0 END) >= 50000 AS code_like
        |FROM ft25 ORDER BY doc_id""".stripMargin))),
    // — Shannon token entropy, EXACT cross-engine (t26): the quality
    //   signal t19 deliberately declined — its comment measured
    //   Math.log vs libm diverging by 1 ulp on ~4 of the first 200k
    //   integer args, so Shannon was swapped for Rényi-2. The pinned-
    //   artifact device closes that gap the way v7's planes did for
    //   Gaussians: ln(c)·10¹² for the BOUNDED per-doc count domain
    //   c ∈ 1..1024 is computed ONCE driver-side and embedded in BOTH
    //   plans as a literal table — NO engine ever evaluates a log, so
    //   H = ln n − (Σ c·ln c)/n becomes pure integer arithmetic:
    //   entropy_e6 = (n·lnE12(n) − Σ c·lnE12(c)) div (n·10⁶), one
    //   positive floor (no w16 sign hazard; every product ≤ 2⁵³).
    //   Shuffle profile is t19's exactly — one (doc_id, tok)
    //   partial-agg exchange + a per-doc agg — plus two broadcast
    //   joins against the 1024-row table: the per-token lookup is LEFT
    //   (totals aggregate RAW counts — r15 ADVICE fix), and the final
    //   inner join on n is the single loud gate, so docs past the
    //   1024-token cap drop from BOTH engines identically; the spec
    //   pins the fixture's max with ≥4× headroom and a synthetic
    //   out-of-cap doc proves the drop. —
    // t26 oracle: the IDENTICAL pinned ln table as a VALUES list (no
    // engine log), the same (doc_id, tok) counts, the same single
    // positive floor; sums CAST to BIGINT per the HUGEINT lint
    Query("t26_token_entropy", ((s, dir) => tokenEntropyOf(s, docs(s, dir))), Some(Oracle.sqlWith(
      s"""lnt26 AS (SELECT * FROM (VALUES $lnValuesSql) t(i, ln_e12)),
         |tc26 AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
         |         FROM (SELECT doc_id, unnest($tokensSql) AS tok
         |               FROM documents)
         |         GROUP BY 1, 2),
         |ag26 AS (SELECT t.doc_id, CAST(SUM(t.c) AS BIGINT) AS n_tokens,
         |                CAST(COUNT(*) AS BIGINT) AS n_types,
         |                CAST(SUM(t.c * l.ln_e12) AS BIGINT) AS sum_clnc
         |         FROM tc26 t LEFT JOIN lnt26 l ON l.i = t.c
         |         GROUP BY 1)""".stripMargin,
      """SELECT a.doc_id, a.n_tokens, a.n_types,
        |       CAST((a.n_tokens * ln.ln_e12 - a.sum_clnc)
        |         // (a.n_tokens * 1000000) AS BIGINT) AS entropy_e6
        |FROM ag26 a JOIN lnt26 ln ON ln.i = a.n_tokens
        |ORDER BY a.doc_id""".stripMargin))),
    // — Gopher quality-rule battery (t27): the published pre-filter
    //   gate every LLM corpus pass runs FIRST (Rae et al. 2021 §A1.1,
    //   reused by MassiveText/FineWeb derivatives): word-count bounds,
    //   mean-word-length bounds, symbol-to-word ratio, bullet-line and
    //   ellipsis-line fractions, alphabetic-word fraction, stop-word
    //   floor. Every threshold is evaluated CROSS-MULTIPLIED on exact
    //   integer counts (10·n_sym ≤ n_words instead of a double ratio —
    //   no float appears anywhere), so the keep bit is hash-exact by
    //   construction. Runs over the structure-injected docsGopher
    //   fixture (raw fixture docs are single-line and symbol-free —
    //   the branches would be dead). Shape at 100 TB: a pure
    //   scan-speed map over per-row arrays, zero shuffles beyond the
    //   presentation sort — the t13/t25 zero-shuffle scan family. —
    // t27 oracle: identical integer counts over the same injected
    // fixture, identical cross-multiplied rule comparisons — the keep
    // bit never touches a float on either engine
    Query("t27_gopher_rules", ((s, dir) => gopherRulesOf(docsGopher(s, dir))), Some(Oracle.sqlWith(
      s"""$docsGopherSql,
         |tw27 AS (SELECT doc_id, $tokensSql AS w, $gopherLinesSql AS ls
         |         FROM docs_gopher),
         |ct27 AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(length(array_to_string(w, '')) AS BIGINT) AS sum_wlen,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(w, t -> contains(t, '#')
         |       OR contains(t, '...'))) AS BIGINT) AS n_sym,
         |  CAST(len(list_filter(ls, l -> starts_with(l, '- ')))
         |       AS BIGINT) AS n_bullet,
         |  CAST(len(list_filter(ls, l -> ends_with(l, '...')))
         |       AS BIGINT) AS n_ellipsis,
         |  CAST(len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
         |       AS BIGINT) AS n_alpha,
         |  CAST(len(list_intersect(list_distinct(w),
         |       [${GopherStops.map(w => s"'$w'").mkString(", ")}]))
         |       AS BIGINT) AS n_stop
         |  FROM tw27)""".stripMargin,
      """SELECT doc_id, n_words, sum_wlen, n_lines, n_sym, n_bullet,
        |       n_ellipsis, n_alpha, n_stop,
        |       (n_words >= 50 AND n_words <= 100000
        |        AND 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words
        |        AND 10 * n_sym <= n_words
        |        AND 10 * n_bullet <= 9 * n_lines
        |        AND 10 * n_ellipsis <= 3 * n_lines
        |        AND 5 * n_alpha >= 4 * n_words
        |        AND n_stop >= 2) AS keep
        |FROM ct27 ORDER BY doc_id""".stripMargin))))
}
