package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{Dedup, HashCoeffs, TextAnalysis}
import graft.ext.DocFixtures.{docs, docsDup}
import graft.queries.Common.{bpeEncodeCtes, decontamIndex, docsDupSql, docsNearC, docsNearSql,
  learnedMerges, qualityBin, scoreSql, shingleSql, splitShingleCtes, stopsIn, tokensSql}

/** c*: corpus curation — the LLM-training-data pipeline stages over the
  * documents table: splits, decontamination, token budgets, sequence
  * packing, quality bins and stratified/weighted sampling. Ids c1–c15
  * live here, c16 onwards in [[C16to34Queries]].
  */
object C1to15Queries {

  /** Seed for the c4 domain-mix sampling hash — constants inlined into
    * both the Spark plan and the oracle SQL.
    */
  private val MixSeed = 21L

  /** Seed for the c11 stratified-sample ranking hash — same universal
    * family as c4, different stream.
    */
  private[graft] val SampleSeed = 33L

  private val mixRateSql =
    "CASE WHEN lang = 'en' THEN 1000 WHEN lang = 'zh' THEN 250 ELSE 500 END"

  /** c6/c6b's two sides of the dup-injected corpus: the test split's
    * (doc_id, sh) shingle rows and the distinct train-split shingles.
    */
  private def decontamSides(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val sided = decontamIndex(docsDup(s, dir))
    (sided.filter(col("split") === "test"),
      sided.filter(col("split") === "train").select("sh").distinct())
  }

  /** c6/c6b oracle CTEs: the split and shingle CTEs and the train
    * split's shingle set.
    */
  private def decontamCtes: String =
    splitShingleCtes("6") + """,
      |tr6 AS (SELECT DISTINCT s.sh FROM shing6 s
      |        JOIN split6 p ON s.doc_id = p.doc_id WHERE p.split = 'train')""".stripMargin

  /** c11/c11b's sampling rank key: a seeded universal hash of doc_id. */
  private def sampleHash: Column = {
    val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
    (lit(a) * col("doc_id") + lit(b)) % lit(HashCoeffs.P)
  }

  /** c11/c11b oracle: the first 20 docs per language by [[sampleHash]]. */
  private def sampleSql: String = {
    val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
    s"""SELECT doc_id, lang, source, rn
       |FROM (SELECT doc_id, lang, source,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |          ORDER BY ($a * doc_id + $b) % ${HashCoeffs.P}, doc_id) AS BIGINT) AS rn
       |      FROM documents)
       |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin
  }

  val all: Seq[Query] = Seq(
    // — end-to-end corpus cleaning: score → filter → exact-dedup, the
    //   composed LLM-data pipeline over a dup-injected corpus —
    Query("c1_corpus_pipeline", ((s, dir) => {
      // quality signals appended narrowly at the scan (withQuality), not
      // joined back on doc_id — one shuffle (the dedup window) total.
      // localCheckpoint barriers the scored+filtered frame: without it
      // Catalyst pushes the full tokenizing score expression (split +
      // interpreted filter HOF) into the scan filter of BOTH union
      // branches, evaluating it ~4x per row (r4 bench: 0.75s -> 13.8s).
      // Same staging c3 uses. The dedup key is hashed BEFORE the barrier
      // so the checkpoint (and the window shuffle it feeds) carries four
      // slim columns, not the full text payload.
      val scored = TextAnalysis.withQuality(docsDup(s, dir))
      val kept = scored.filter(col("quality_score") >= 4.0 && col("n_tokens") >= 20)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens"), col("quality_score"))
        .localCheckpoint()
      val w = Window.partitionBy("text_md5").orderBy("doc_id")
      kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "n_tokens", "quality_score")
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""$docsDupSql,
         |scored AS (
         |  SELECT doc_id, text,
         |         CAST(len(w) AS BIGINT) AS n_tokens,
         |         $scoreSql AS quality_score
         |  FROM (SELECT doc_id, text, $tokensSql AS w FROM docs_dup)),
         |kept AS (SELECT * FROM scored WHERE quality_score >= 4.0 AND n_tokens >= 20),
         |dedup AS (SELECT doc_id, n_tokens, quality_score,
         |                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |          FROM kept)""".stripMargin,
      """SELECT doc_id, n_tokens, quality_score FROM dedup
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin))),
    // — reproducible sampling / splits: content-hash bucketing, the
    //   deterministic (engine- and partitioning-independent) alternative
    //   to rand()-based sampling for corpus curation —
    Query("c2_train_test_split", ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "28", "train")
          .otherwise(when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "3c", "valid")
            .otherwise("test")).as("split"))
        .orderBy("doc_id")), Some(Oracle.sql(
      """SELECT doc_id,
        |       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin))),
    // — fuzzy-dedup corpus build: quality gate FIRST (cheap narrow filter
    //   shrinks the corpus before any pair generation), then near-dup
    //   clustering over the survivors, keep one representative per
    //   cluster (the min-id, which IS the cluster label) plus every
    //   unclustered doc. The canonical LLM training-corpus pipeline with
    //   fuzzy rather than exact dedup. —
    Query("c3_fuzzy_corpus", ((s, dir) => {
      // quality appended narrowly (no doc_id self-join); survivors feed
      // BOTH the pair generation and the final keep-join — materialize
      // once (the corpus build's "staging table")
      val kept = TextAnalysis.withQuality(docsNearC(s, dir))
        .filter(col("quality_score") >= 4.0 && col("n_tokens") >= 20)
        .localCheckpoint()
      val clusters = graft.ext.Clusters.connectedComponents(
        Dedup.ngramJaccardPairs(kept, n = 7, threshold = 0.5))
      kept.join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("cluster").isNull || col("cluster") === col("doc_id"))
        .select("doc_id", "n_tokens", "quality_score")
        .orderBy("doc_id")
    }), Some(Oracle.sqlRecursive(
      s"""$docsNearSql,
         |scored3 AS (
         |  SELECT doc_id, text,
         |         CAST(len(w) AS BIGINT) AS n_tokens,
         |         $scoreSql AS quality_score
         |  FROM (SELECT doc_id, text, $tokensSql AS w FROM docs_near)),
         |kept3 AS (SELECT * FROM scored3 WHERE quality_score >= 4.0 AND n_tokens >= 20),
         |$shingleSql,
         |shing3 AS (SELECT s.doc_id, s.sh FROM shing s JOIN kept3 k ON s.doc_id = k.doc_id),
         |sizes3 AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing3 GROUP BY doc_id),
         |inter3 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
         |           FROM shing3 a JOIN shing3 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |           GROUP BY a.doc_id, b.doc_id),
         |pairs3 AS (SELECT id1, id2
         |           FROM inter3 JOIN sizes3 s1 ON inter3.id1 = s1.doc_id
         |                       JOIN sizes3 s2 ON inter3.id2 = s2.doc_id
         |           WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= 0.5),
         |edges3 AS (SELECT id1 AS a, id2 AS b FROM pairs3
         |           UNION ALL SELECT id2, id1 FROM pairs3),
         |reach3(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges3
         |  UNION
         |  SELECT e.b, reach3.r FROM reach3 JOIN edges3 e ON e.a = reach3.id),
         |clusters3 AS (SELECT id, MIN(r) AS cluster FROM reach3 GROUP BY id)""".stripMargin,
      """SELECT k.doc_id, k.n_tokens, k.quality_score
        |FROM kept3 k LEFT JOIN clusters3 c ON k.doc_id = c.id
        |WHERE c.cluster IS NULL OR c.cluster = k.doc_id
        |ORDER BY k.doc_id""".stripMargin))),
    // — domain mixture sampling: deterministic per-domain rates (the
    //   corpus-mixing step of training-data assembly — up/down-weight
    //   sources by language). Hash-gated with the SQL-expressible
    //   universal family, so the decision is partition- and
    //   engine-independent: rerunning anywhere keeps the same docs. —
    Query("c4_domain_mix", ((s, dir) => {
      val (a, b) = HashCoeffs.coeffs(1, MixSeed).head
      val h = ((lit(a) * col("doc_id") + lit(b)) % lit(HashCoeffs.P)) % lit(1000L)
      val keep = when(col("lang") === "en", lit(1000L))
        .when(col("lang") === "zh", lit(250L))
        .otherwise(lit(500L))
      docs(s, dir).filter(h < keep)
        .select(col("doc_id"), col("lang"), col("source"),
          (keep.cast("double") / lit(1000.0)).as("sample_rate"))
        .orderBy("doc_id")
    }), Some({
      val (a, b) = HashCoeffs.coeffs(1, MixSeed).head
      Oracle.sql(
        s"""SELECT doc_id, lang, source,
           |       CAST($mixRateSql AS DOUBLE) / 1000.0 AS sample_rate
           |FROM documents
           |WHERE (($a * doc_id + $b) % ${HashCoeffs.P}) % 1000 < $mixRateSql
           |ORDER BY doc_id""".stripMargin)
    })),
    // — per-source corpus diagnostics: the curation dashboard that decides
    //   which sources get down-weighted or dropped — dup rate (corpus-wide
    //   md5 collision), token volume, low-quality share. Every ratio is an
    //   integer-count division (doubles enter only at the final divide),
    //   so the profile is bit-exact cross-engine. Run on a dup-injected
    //   corpus (every 10th doc copied, source kept) so dup_frac is
    //   non-trivial. —
    Query("c5_source_profile", ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang", "source")
      val dup = d.unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
          col("lang"), col("source")))
      val scored = TextAnalysis.withQuality(dup)
      val wDup = scored.withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(md5(col("text")))))
      wDup.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_same") > 1, 1L).otherwise(0L)).as("n_dup"),
          sum("n_tokens").as("tok_sum"),
          sum(when(col("quality_score") < 4.0, 1L).otherwise(0L)).as("n_lowq"))
        .select(col("source"), col("n_docs"),
          (col("n_dup").cast("double") / col("n_docs").cast("double"))
            .as("dup_frac"),
          (col("tok_sum").cast("double") / col("n_docs").cast("double"))
            .as("avg_tokens"),
          (col("n_lowq").cast("double") / col("n_docs").cast("double"))
            .as("low_quality_frac"))
        .orderBy("source")
    }), Some(Oracle.sqlWith(
      s"""docs_dup_s AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 10 = 0),
         |scored_s AS (
         |  SELECT doc_id, text, source,
         |         CAST(len(w) AS BIGINT) AS n_tokens,
         |         $scoreSql AS quality_score
         |  FROM (SELECT doc_id, text, source, $tokensSql AS w FROM docs_dup_s)),
         |with_dup AS (
         |  SELECT *, COUNT(*) OVER (PARTITION BY md5(text)) AS n_same FROM scored_s)""".stripMargin,
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS dup_frac,
        |       CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS avg_tokens,
        |       CAST(SUM(CASE WHEN quality_score < 4.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS low_quality_frac
        |FROM with_dup GROUP BY source ORDER BY source""".stripMargin))),
    // — benchmark decontamination: test-split documents sharing any 7-gram
    //   shingle with any train-split document (the canonical train/eval
    //   contamination check). Same inverted-shingle-index equi-join shape
    //   as d2 — a semi-join on the shingle key, never all-pairs — over the
    //   dup-injected corpus, where copies straddling the hash split ARE
    //   the leak this operator exists to catch. —
    Query("c6_decontaminate", ((s, dir) => {
      val (test, trainSh) = decontamSides(s, dir)
      test.join(trainSh, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      decontamCtes,
      """SELECT s.doc_id AS doc_id, COUNT(*) AS n_shared_shingles
        |FROM shing6 s
        |JOIN split6 p ON s.doc_id = p.doc_id
        |JOIN tr6 t ON s.sh = t.sh
        |WHERE p.split = 'test'
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin))),
    // — graded decontamination: c6 answers WHICH docs are contaminated;
    //   this answers HOW MUCH — the per-doc fraction of distinct shingles
    //   shared with the train split, over ALL test docs (zeros included),
    //   which is what an eval-set curator thresholds on (drop > 10 %
    //   overlap, flag > 1 %). Same inverted-index machinery with the
    //   semi-join widened to a left join + counted hit flag; ratios are
    //   exact-count division. —
    Query("c6b_contamination_rate", ((s, dir) => {
      val (test, trainSh) = decontamSides(s, dir)
      test.join(trainSh.withColumn("hit", lit(1L)), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_shingles"))
            .as("contamination"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      decontamCtes,
      """SELECT s.doc_id AS doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS contamination
        |FROM shing6 s
        |JOIN split6 p ON s.doc_id = p.doc_id
        |LEFT JOIN tr6 t ON s.sh = t.sh
        |WHERE p.split = 'test'
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin))),
    // Context-window chunking (W=64 tokens, stride 48 → 16-token
    // overlap): the training-sequence construction step; one posexplode,
    // no shuffle — output volume IS the operator's contract
    Query("c7_chunk_windows", ((s, dir) =>
      TextAnalysis.chunkWindows(docs(s, dir).select("doc_id", "text"),
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")), Some(Oracle.sql(
      s"""SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |       CAST(len(w[i*48+1 : i*48+64]) AS BIGINT) AS n_chunk_tokens,
         |       array_to_string(w[i*48+1 : i*48+64], ' ') AS chunk
         |FROM (SELECT doc_id, w, unnest(range((greatest(len(w) - 64, 0) + 47) // 48 + 1)) AS i
         |      FROM (SELECT doc_id, $tokensSql AS w FROM documents))
         |ORDER BY doc_id, chunk_id""".stripMargin))),
    // — token-budget corpus selection: rank docs by quality per language
    //   and keep the best until a running token total hits the budget —
    //   how a training mix samples a high-quality subset to a token
    //   target. Exact ordered cumulative sum (one shuffle on lang; the
    //   within-group sort is the operator). lang cardinality is small, so
    //   at 100 TB the exact form hot-spots its few partitions; the scale
    //   path is threshold selection — pick quality cutoff τ per language
    //   with approx token-weighted quantiles so that
    //   sum(n_tokens | quality ≥ τ) ≈ budget, then a narrow filter — the
    //   same two-phase trade s3 (exact anchor) vs s5 (scale path) makes.
    //   Ties are impossible-in-practice doubles but doc_id tiebreaks the
    //   window anyway: total order → engine-identical cum_tokens. —
    Query("c8_token_budget", ((s, dir) => {
      val budget = 500L
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("quality_score"))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.withColumn("cum_tokens", sum("n_tokens").over(w))
        .filter(col("cum_tokens") <= budget)
        .select("doc_id", "lang", "n_tokens", "quality_score", "cum_tokens")
        .orderBy("lang", "doc_id")
    }), Some(Oracle.sql(
      s"""SELECT doc_id, lang, n_tokens, quality_score, cum_tokens
         |FROM (SELECT doc_id, lang, n_tokens, quality_score,
         |        CAST(SUM(n_tokens) OVER (PARTITION BY lang
         |          ORDER BY quality_score DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |              $scoreSql AS quality_score
         |            FROM (SELECT doc_id, lang, text, $tokensSql AS w FROM documents)))
         |WHERE cum_tokens <= 500
         |ORDER BY lang, doc_id""".stripMargin))),
    // — c8's REAL-TOKENIZER twin: the token-budget selection re-run on
    //   learned-vocabulary (t21) counts instead of the whitespace proxy —
    //   closing the loop the t21 comment names: a training mix is
    //   budgeted in the tokens the model will actually see. Same
    //   per-language quality-ordered cumulative selection as c8 (same
    //   scale path too: threshold-by-quantile at 100 TB); the only new
    //   cost is t21's vocabulary-bounded encode join. Hash-oracled
    //   since r13 via t21's unrolled-merge replay (pinned artifact);
    //   BpeSpec also replays the selection end-to-end in plain Scala
    //   at both correctness scales. —
    // c8b oracle: c8's selection statement re-denominated in the
    // replayed BPE counts (budget 2000)
    Query("c8b_token_budget_bpe", ((s, dir) => {
      val budget = 2000L
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "quality_score")
      val d = docs(s, dir)
      val bpe = graft.ext.BpeTrainer
        .encodeTokenCounts(d.select("doc_id", "text"), learnedMerges)
        .select("doc_id", "n_bpe_tokens")
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.join(bpe, "doc_id")
        .withColumn("cum_bpe_tokens", sum("n_bpe_tokens").over(w))
        .filter(col("cum_bpe_tokens") <= budget)
        .select("doc_id", "lang", "n_bpe_tokens", "quality_score",
          "cum_bpe_tokens")
        .orderBy("lang", "doc_id")
    }), Some(Oracle.sqlWith(bpeEncodeCtes,
      s"""SELECT doc_id, lang, n_bpe_tokens, quality_score, cum_bpe_tokens
         |FROM (SELECT s.doc_id, s.lang, b.n_bpe_tokens, s.quality_score,
         |        CAST(SUM(b.n_bpe_tokens) OVER (PARTITION BY s.lang
         |          ORDER BY s.quality_score DESC, s.doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |          AS cum_bpe_tokens
         |      FROM (SELECT doc_id, lang, $scoreSql AS quality_score
         |            FROM (SELECT doc_id, lang, text, $tokensSql AS w
         |                  FROM documents)) s
         |      JOIN bpe_counts b USING (doc_id))
         |WHERE cum_bpe_tokens <= 2000
         |ORDER BY lang, doc_id""".stripMargin))),
    // — training-sequence packing: assign each doc to a fixed-budget
    //   (256-token) sequence by running token count, the step that turns
    //   a shuffled corpus into dense context windows. Docs are striped
    //   into pack groups (doc_id mod 8) and packed independently per
    //   group by an exclusive cumulative sum: seq_id = cum_before div
    //   budget, seq_offset = cum_before mod budget. The group is the
    //   parallelism unit — each window sorts ONE group, so at 100 TB you
    //   raise the group count (2^13+) until a group's docs fit an
    //   executor; assignment stays deterministic under any layout
    //   because group and order derive from doc_id, never from
    //   partitioning. (The last doc of a sequence straddles the
    //   boundary — standard packing-with-truncation semantics where the
    //   overflow continues in the next sequence.) —
    // oracle: cum_before is CAST to BIGINT before // and % (windowed SUM is
    // HUGEINT in DuckDB — the c8 drift class); both operands nonneg so
    // DuckDB // matches Spark's div
    Query("c9_pack_sequences", ((s, dir) => {
      val seqLen = 256L
      val counted = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % lit(8L)).as("pack_group"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy("pack_group").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      counted
        .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
        .select(col("doc_id"), col("pack_group"), col("n_tokens"),
          expr(s"cum_before div $seqLen").as("seq_id"),
          (col("cum_before") % seqLen).as("seq_offset"))
        .orderBy("pack_group", "doc_id")
    }), Some(Oracle.sql(
      s"""SELECT doc_id, pack_group, n_tokens,
         |       cum_before // 256 AS seq_id,
         |       cum_before % 256 AS seq_offset
         |FROM (SELECT doc_id, pack_group, n_tokens,
         |        CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_group
         |          ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |      FROM (SELECT doc_id, doc_id % 8 AS pack_group,
         |              CAST(len($tokensSql) AS BIGINT) AS n_tokens
         |            FROM documents))
         |ORDER BY pack_group, doc_id""".stripMargin))),
    // — c9's REAL-TOKENIZER twin: sequence packing by learned-vocabulary
    //   counts (t21) at a 1024-token context budget — the packed
    //   sequences now align with actual tokenizer output, so a context
    //   window holds what the budget says it holds. Machinery is c9's
    //   (striped pack groups, exclusive per-group cumulative sum — the
    //   same raise-the-group-count scale rule); the counts feed in from
    //   t21's encode instead of a whitespace size(). Hash-oracled since
    //   r13 via t21's unrolled-merge replay (pinned artifact); BpeSpec
    //   also replays group/seq/offset assignment exactly in Scala at
    //   both correctness scales. —
    // c9b oracle: c9's packing statement on the replayed BPE counts
    // (budget 1024); cum_before CAST before // and % (the c8 HUGEINT
    // drift class), both operands nonneg so // matches div
    Query("c9b_pack_sequences_bpe", ((s, dir) => {
      val seqLen = 1024L
      val d = docs(s, dir)
      val counted = graft.ext.BpeTrainer
        .encodeTokenCounts(d.select("doc_id", "text"), learnedMerges)
        .select(col("doc_id"), (col("doc_id") % lit(8L)).as("pack_group"),
          col("n_bpe_tokens"))
      val w = Window.partitionBy("pack_group").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      counted
        .withColumn("cum_before", coalesce(sum("n_bpe_tokens").over(w), lit(0L)))
        .select(col("doc_id"), col("pack_group"), col("n_bpe_tokens"),
          expr(s"cum_before div $seqLen").as("seq_id"),
          (col("cum_before") % seqLen).as("seq_offset"))
        .orderBy("pack_group", "doc_id")
    }), Some(Oracle.sqlWith(bpeEncodeCtes,
      """SELECT doc_id, pack_group, n_bpe_tokens,
        |       cum_before // 1024 AS seq_id,
        |       cum_before % 1024 AS seq_offset
        |FROM (SELECT doc_id, doc_id % 8 AS pack_group, n_bpe_tokens,
        |        CAST(COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY doc_id % 8
        |          ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS cum_before
        |      FROM bpe_counts)
        |ORDER BY pack_group, doc_id""".stripMargin))),
    // — curriculum quality binning: per-language quality quartiles
    //   (ntile after a doc_id-tiebroken sort → total order → the same
    //   bins on any engine). Exact-rank form: one window per language.
    //   lang cardinality is small, so at 100 TB the per-lang sort
    //   hot-spots like c8's exact form; the scale path is the same
    //   two-phase trade — approx per-lang quartile cutoffs (one narrow
    //   agg), broadcast, then bin by comparison at scan speed. —
    Query("c10_quality_bins", ((s, dir) => {
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "n_tokens", "quality_score")
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("bin", ntile(4).over(w).cast("long"))
        .orderBy("lang", "bin", "doc_id")
    }), Some(Oracle.sql(
      s"""SELECT doc_id, lang, n_tokens, quality_score,
         |       NTILE(4) OVER (PARTITION BY lang
         |         ORDER BY quality_score DESC, doc_id) AS bin
         |FROM (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |        $scoreSql AS quality_score
         |      FROM (SELECT doc_id, lang, text, $tokensSql AS w FROM documents))
         |ORDER BY lang, bin, doc_id""".stripMargin))),
    // — c10's PRODUCTION binning path: the two-phase cutoff form that the
    //   c10 comment designs. Phase 1 is one narrow per-language agg
    //   computing the three quartile cutoffs as exact discrete order
    //   statistics (percentile_disc returns an actual data value — engine-
    //   exact, the a8/t12 recipe); phase 2 broadcasts the tiny cutoff
    //   table (|langs| rows) and bins by comparison AT SCAN SPEED. No
    //   window, no per-stratum sort — the plan survives a skewed-stratum
    //   100 TB corpus where c10's exact ntile hot-spots (PlanSpec pins
    //   the no-Window property). At even larger scale swap
    //   percentile_disc for approx_percentile in phase 1: the binning
    //   machinery is unchanged, only the cutoffs become ±ε. Cutoff
    //   binning assigns EQUAL scores to the same bin (ntile splits ties
    //   across bins by doc_id), so c10/c10b agree exactly on distinct
    //   scores and differ only at tied boundary scores — agreement is
    //   test-pinned in ExtensionsSpec. —
    // oracle: quantile_disc is DuckDB's exact discrete quantile ≡ Spark
    // percentile_disc (the a8/t12 parity); both sides compare the SAME
    // doubles so the >= binning is engine-exact
    Query("c10b_quality_bins_cutoffs", ((s, dir) => {
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "n_tokens", "quality_score")
      val cuts = scored.groupBy("lang").agg(
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY quality_score)").as("c75"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY quality_score)").as("c50"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY quality_score)").as("c25"))
      scored.join(broadcast(cuts), "lang")
        .withColumn("bin", qualityBin)
        .select("doc_id", "lang", "n_tokens", "quality_score", "bin")
        .orderBy("lang", "bin", "doc_id")
    }), Some(Oracle.sqlWith(
      s"""scored_c10 AS (
         |  SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |         $scoreSql AS quality_score
         |  FROM (SELECT doc_id, lang, text, $tokensSql AS w FROM documents)),
         |cuts_c10 AS (
         |  SELECT lang, quantile_disc(quality_score, 0.75) AS c75,
         |         quantile_disc(quality_score, 0.5) AS c50,
         |         quantile_disc(quality_score, 0.25) AS c25
         |  FROM scored_c10 GROUP BY lang)""".stripMargin,
      """SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_tokens AS n_tokens,
        |       d.quality_score AS quality_score,
        |       CAST(CASE WHEN d.quality_score >= c.c75 THEN 1
        |                 WHEN d.quality_score >= c.c50 THEN 2
        |                 WHEN d.quality_score >= c.c25 THEN 3
        |                 ELSE 4 END AS BIGINT) AS bin
        |FROM scored_c10 d JOIN cuts_c10 c ON d.lang = c.lang
        |ORDER BY lang, bin, doc_id""".stripMargin))),
    // — exact-k stratified sample: EXACTLY k docs per language, chosen
    //   by universal-hash rank (hash order ≡ a seeded uniform permutation,
    //   doc_id tiebreak → total order) — partition- and engine-
    //   independent like c4, but with a hard per-stratum count where c4
    //   has a rate. Exact form is one window per language; at 100 TB the
    //   scale path is a per-stratum k-bounded top-k aggregator (the a10
    //   TopKAggregator shape: shuffle k rows per stratum, never a full
    //   sort) or c4-style rate gating when ±√k error is acceptable. —
    Query("c11_stratified_sample", ((s, dir) => {
      val k = 20
      val w = Window.partitionBy("lang").orderBy(sampleHash, col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .orderBy("lang", "rn")
    }), Some(Oracle.sql(sampleSql))),
    // — c11's PRODUCTION path (the c10/c10b pattern): same exact selection
    //   — k smallest (hash, doc_id) per language — computed by a k-bounded
    //   typed Aggregator instead of a per-stratum rank window. Each
    //   partition keeps only a ≤k buffer (partial aggregation), so the
    //   shuffle moves ≤k rows per (lang, partition) and NO full per-
    //   stratum sort ever executes — the plan survives a skewed-stratum
    //   100 TB corpus where c11's window hot-spots on the biggest
    //   language. The (h asc, doc_id asc) comparison is total, so any
    //   merge order yields the identical selection and rank the window
    //   computes — equivalence with c11 is test-pinned, and a zero-Window
    //   plan assertion pins the scale property (ExtensionsSpec).
    //   Known trade: the typed groupByKey/flatMap path deserializes rows
    //   out of Tungsten (no whole-stage codegen across the agg). The
    //   codegen-preserving form is a TypedImperativeAggregate Catalyst
    //   expression — worth it only if this sampler ever dominates a real
    //   profile; at ≤k rows per (stratum, partition) shuffled the encoder
    //   cost is bounded and the window-free shuffle shape is the win. —
    // oracle: same selection as c11 by construction (total order ⇒ aggregator ≡
    // rank window), so the oracle is c11's verbatim
    Query("c11b_stratified_sample_topk", ((s, dir) => {
      val sess = s
      import sess.implicits._
      val k = 20
      docs(s, dir)
        .select(col("lang"), sampleHash.as("h"), col("doc_id"), col("source"))
        .as[(String, Long, Long, String)]
        .groupByKey(_._1)
        .agg(new graft.functions.BottomKAggregator(k).toColumn.name("picks"))
        .flatMap { case (lang, picks) =>
          picks.zipWithIndex.map { case ((_, id, src), i) =>
            (id, lang, src, (i + 1).toLong)
          }
        }
        .toDF("doc_id", "lang", "source", "rn")
        .orderBy("lang", "rn")
    }), Some(Oracle.sql(sampleSql))),
    // Key-skew diagnostics: the top-20 heaviest join/group keys with
    // their share and cumulative share of all rows — the profile that
    // decides WHICH keys need salting (j3) and how many, before a 100 TB
    // join hot-spots. Partial-agg count + TakeOrdered; the only window
    // runs over the 20 survivors. Share is double division of exact
    // counts (the a4/a6 parity recipe); the one-row total joins in via
    // broadcast (scalar cross join, whitelisted like t8's idf).
    // oracle: windowed SUM is HUGEINT in DuckDB — cast before the double division
    // (the c8 drift class)
    Query("c12_skew_profile", ((s, dir) => {
      val keys = Tables.table(s, dir, "lineitem").select("l_partkey")
      val counts = keys.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").cast("long").as("total"))
      val w = Window.orderBy(col("n").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      counts.orderBy(col("n").desc, col("l_partkey")).limit(20)
        .crossJoin(broadcast(total))
        .withColumn("cum_n", sum("n").over(w).cast("long"))
        .select(col("l_partkey").as("key"), col("n").cast("long").as("n"),
          (col("n").cast("double") / col("total")).as("share"),
          (col("cum_n").cast("double") / col("total")).as("cum_share"))
        .orderBy(col("n").desc, col("key"))
    }), Some(Oracle.sqlWith(
      """counts AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts),
        |topk AS (SELECT key, n FROM counts ORDER BY n DESC, key LIMIT 20)""".stripMargin,
      """SELECT key, n, CAST(n AS DOUBLE) / total AS share,
        |       CAST(CAST(SUM(n) OVER (ORDER BY n DESC, key
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS DOUBLE) / total AS cum_share
        |FROM topk, tot ORDER BY n DESC, key""".stripMargin))),
    // — corpus snapshot diff: the dataset-versioning primitive (what
    //   changed between crawl N and crawl N+1 — the audit trail every
    //   training-data release needs). Fingerprint both snapshots
    //   narrowly (doc_id, md5(text)), full-outer join on doc_id, emit
    //   added / removed / changed and drop the unchanged bulk. Two
    //   partial shuffles on doc_id; at 100 TB store snapshots bucketed
    //   by doc_id and the diff becomes a zero-shuffle co-located
    //   sort-merge join. The "new" snapshot is derived deterministically
    //   from the same table (drops, edits, additions by id residue) so
    //   the diff is layout-independent and oracle-checkable. —
    Query("c13_snapshot_diff", ((s, dir) => {
      val old = docs(s, dir).select(col("doc_id"), md5(col("text")).as("fp"))
      val newSnap = docs(s, dir)
        .filter(col("doc_id") % 17 =!= 0) // dropped docs
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text"))).as("fp")) // in-place edits
        .unionAll(docs(s, dir).filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            md5(col("text")).as("fp"))) // new docs
      old.as("o").join(newSnap.as("n"),
          col("o.doc_id") === col("n.doc_id"), "full_outer")
        .select(
          coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
          when(col("o.doc_id").isNull, "added")
            .when(col("n.doc_id").isNull, "removed")
            .when(col("o.fp") =!= col("n.fp"), "changed").as("status"))
        .filter(col("status").isNotNull)
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      """old13 AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |new13 AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' edited'
        |                  ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id, md5(text) AS fp
        |  FROM documents WHERE doc_id % 23 = 0)""".stripMargin,
      """SELECT doc_id, status FROM (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |         CASE WHEN o.doc_id IS NULL THEN 'added'
        |              WHEN n.doc_id IS NULL THEN 'removed'
        |              WHEN o.fp <> n.fp THEN 'changed' END AS status
        |  FROM old13 o FULL OUTER JOIN new13 n ON o.doc_id = n.doc_id)
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin))),
    // — weighted Bernoulli corpus sampling: keep each doc with
    //   probability min(n_chars, 400)/400 — the "sample long docs at
    //   full rate, short ones proportionally" curation knob (any
    //   per-row weight column drops in). Decision = pure integer
    //   cross-multiply against a 24-bit md5 draw, so the sample is
    //   exact, engine-independent, layout-independent, and re-runnable
    //   (same corpus → same sample). At 100 TB this is a scan-speed
    //   narrow filter: no shuffle, no state, prunes at the parquet
    //   reader once quality/weight is a stored column. —
    Query("c14_weighted_sample", ((s, dir) => {
      val u6 = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long")
      docs(s, dir)
        .withColumn("u6", u6)
        // accept iff u6/16^6 < min(n_chars,400)/400, cross-multiplied
        .filter(col("u6") * lit(400L) <
          lit(16777216L) * least(col("n_chars"), lit(400L)))
        .select(col("doc_id"), col("n_chars"), col("u6"))
        .orderBy("doc_id")
    }), Some(Oracle.sql(
      """SELECT doc_id, n_chars, u6
        |FROM (SELECT doc_id, n_chars,
        |             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS u6
        |      FROM documents)
        |WHERE u6 * 400 < 16777216 * LEAST(n_chars, 400)
        |ORDER BY doc_id""".stripMargin))),
    // — fused quality-rule gate (C4/Gopher-style): the composite
    //   keep/drop verdict a curation pipeline applies AFTER the signal
    //   queries (t2 score, t11 repetition, t15 diversity) have tuned its
    //   thresholds — per-rule booleans + the final AND, all in ONE
    //   narrow scan-speed pass (no shuffle; t11/t15 each pay gram-local
    //   shuffles to produce the same signals exactly). Every rule is
    //   integer arithmetic cross-multiplied out of division:
    //   length ∈ [20,90] tokens, mean token length ∈ [4.4,5.2] chars,
    //   ≥2 stopwords, top-token share ≤ 1/8. Thresholds verified
    //   non-degenerate at sf0.01 (82.8/73.0/77.6/85.4 % individual,
    //   45.4 % composite). max_tf is the O(n log n) run-length pass
    //   over the sorted in-row array (TextAnalysis.maxTokenFreq — the
    //   naive distinct×filter scan was O(distinct·n) per doc and most
    //   of the operator's honest cost); scan-local at any corpus
    //   size. —
    Query("c15_filter_verdict", ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val nTok = size(toks).cast("long")
      val sumChars = aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val nStop = graft.functions.TokenSetCount
        .token_set_count(toks, TextAnalysis.stopwords).cast("long")
      val maxTf = TextAnalysis.maxTokenFreq(toks)
      val rLen = nTok.between(lit(20L), lit(90L))
      val rWordLen = (sumChars * lit(5L))
        .between(nTok * lit(22L), nTok * lit(26L))
      val rStop = nStop >= lit(2L)
      val rRep = maxTf * lit(8L) <= nTok
      docs(s, dir).select(col("doc_id"), nTok.as("n_tokens"),
          rLen.as("r_len"), rWordLen.as("r_word_len"), rStop.as("r_stop"),
          rRep.as("r_rep"),
          (rLen && rWordLen && rStop && rRep).as("passes"))
        .orderBy("doc_id")
    }), Some(Oracle.sql(
      s"""SELECT doc_id, n_tokens,
         |       n_tokens BETWEEN 20 AND 90 AS r_len,
         |       5 * sum_chars BETWEEN 22 * n_tokens AND 26 * n_tokens AS r_word_len,
         |       n_stop >= 2 AS r_stop,
         |       8 * max_tf <= n_tokens AS r_rep,
         |       (n_tokens BETWEEN 20 AND 90)
         |         AND (5 * sum_chars BETWEEN 22 * n_tokens AND 26 * n_tokens)
         |         AND n_stop >= 2 AND 8 * max_tf <= n_tokens AS passes
         |FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |             CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS sum_chars,
         |             CAST(len(list_filter(w, t -> t IN ($stopsIn))) AS BIGINT) AS n_stop,
         |             CAST(list_max(list_transform(list_distinct(w),
         |                    x -> len(list_filter(w, t -> t = x)))) AS BIGINT) AS max_tf
         |      FROM (SELECT doc_id, $tokensSql AS w FROM documents))
         |ORDER BY doc_id""".stripMargin))))
}
