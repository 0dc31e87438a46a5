package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{Dedup, HashCoeffs, TextAnalysis}
import graft.ext.Corpus.{LnCap, lnE12}
import graft.ext.DocFixtures.{docs, docsDup}
import graft.queries.Common.{decontamIndex, decontamSplit, docsDupSql, docsGopher,
  docsGopherSql, docsNearC, gopherLines, gopherLinesSql, jaccardCtes,
  lnValuesSql, nearCands, nearCands05, qualityBin, scoreSql, shingleSqlOver, splitShingleCtes,
  tokensSql}

/** c*: corpus curation — mixing weights, dedup survivors, boilerplate
  * strip, domain shift, data-quality audit, novelty, negative sampling,
  * drift, normalization, group splits and DSIR reweighting. Ids c16
  * onwards live here, c1–c15 in [[C1to15Queries]].
  */
object C16to34Queries {

  /** c25 core over an arbitrary (doc_id, text) corpus. See the c25
    * registry comment.
    */
  private[graft] def noveltyOf(corpus: DataFrame): DataFrame = {
    // the materialized per-doc fingerprint index feeds the df aggregate
    // AND the join-back side (Dedup.fingerprintIndex: spread before the
    // interpreted tokenize+shingle pass, checkpointed once)
    val sh = Dedup.fingerprints(Dedup.fingerprintIndex(corpus, n = 7))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(1000000 * n_novel) div n_shingles").as("novelty_e6"))
      .orderBy("doc_id")
  }

  /** c33 core over an INJECTED (doc_id, text) frame. See the c33
    * registry comment.
    */
  private[graft] def repetitionSignalsOf(d: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val lm = d
      .select(col("doc_id"), explode(gopherLines(col("text"))).as("line"))
      .groupBy("doc_id", "line")
      .agg(count(lit(1)).as("m"), length(col("line")).cast("long").as("len"))
    lm.groupBy("doc_id")
      .agg(sum("m").cast("long").as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        coalesce(sum(when(col("m") > 1, col("m"))), lit(0L))
          .cast("long").as("n_dup_lines"),
        max("m").cast("long").as("max_mult"),
        sum(col("m") * col("len")).cast(d38).as("tot_chars"),
        coalesce(sum(when(col("m") > 1, col("m") * col("len"))), lit(0L))
          .cast(d38).as("dup_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_distinct_lines"),
        col("n_dup_lines"), col("max_mult"),
        expr("cast((1000000 * dup_chars) div tot_chars as long)")
          .as("dup_char_frac_e6"))
      .orderBy("doc_id")
  }

  /** The token counts c20 and c27 share: one row per (source, tok)
    * with its count `a`, the token's corpus count `b`, the source's
    * token total `n_s` and the corpus total `n_tot`; and the per-token
    * corpus frame (`tok`, `b`, `n_tot`).
    */
  private def tokenCounts(docsWithSource: DataFrame): (DataFrame, DataFrame) = {
    val srcCounts = docsWithSource
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("a"))
    val corpusCounts = srcCounts.groupBy("tok").agg(sum("a").as("b"))
    val nSrc = srcCounts.groupBy("source").agg(sum("a").as("n_s"))
    val nTot = nSrc.agg(sum("n_s").as("n_tot"))
    (srcCounts.join(corpusCounts, "tok")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot)),
      corpusCounts.crossJoin(broadcast(nTot)))
  }

  /** c20/c27 oracle CTEs, each name suffixed `sfx`: the per-(source,
    * tok) counts `sc`, the corpus count `cc` of each token, the source
    * totals `ns` and the corpus total `nt` ([[tokenCounts]] in SQL).
    */
  private def tokenCountCtes(sfx: String): String =
    s"""sc$sfx AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
       |         FROM (SELECT source, unnest($tokensSql) AS tok
       |               FROM documents)
       |         GROUP BY source, tok),
       |cc$sfx AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS b
       |         FROM sc$sfx GROUP BY tok),
       |ns$sfx AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s
       |         FROM sc$sfx GROUP BY source),
       |nt$sfx AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns$sfx)""".stripMargin

  /** c20 core: per-source total-variation
    * distance from the corpus token distribution — see the registry
    * entry's comment for the exact-arithmetic derivation.
    */
  private[graft] def domainShift(docsWithSource: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    tokenCounts(docsWithSource)._1
      .groupBy(col("source"), col("n_s"), col("n_tot"))
      .agg(sum(abs(col("a").cast(d38) * col("n_tot").cast(d38)
          - col("b").cast(d38) * col("n_s").cast(d38))).as("num_present"),
        sum("b").as("b_present"))
      .select(col("source"), col("n_s").as("n_tokens"),
        ((col("num_present")
          + (col("n_tot") - col("b_present")).cast(d38)
            * col("n_s").cast(d38)).cast("double")
          / (lit(2.0) * col("n_s").cast("double")
            * col("n_tot").cast("double"))).as("tv_dist"))
  }

  private[graft] def negativeSampleOf(pos0: DataFrame,
      np: DataFrame): DataFrame = {
    // r19: pos feeds TWO consumers — the draw seed (distinct customers)
    // and the anti-join build side — and each re-ran the upstream
    // distinct over the full fact (profiled: two ~540/310 KB aggregate
    // scans per rep). One materialization (the b15/g10 multi-consumer-
    // spine device).
    val pos = pos0.localCheckpoint()
    // the a48 pre-fan-out rule (PartitionOps): |customers| narrow ids
    // each seed 9 md5 draws — exactly the cheap-to-shuffle, expensive-
    // per-row class where AQE's pre-fan-out byte sizing serializes the
    // draw pass; one explicit-count exchange buys full parallelism
    val cand = PartitionOps.repartitionBeforeFanout(
        pos.select("customer_id").distinct().crossJoin(broadcast(np)),
        col("customer_id"))
      .select(col("customer_id"),
        explode(sequence(lit(1), lit(9))).as("j"), col("n_parts"))
      .select(col("customer_id"), col("j"),
        (conv(substring(md5(concat(col("customer_id").cast("string"),
          lit("#"), col("j").cast("string"))), 1, 15), 16, 10)
          .cast("long") % col("n_parts")).as("product_id"))
      .groupBy("customer_id", "product_id").agg(min("j").as("draw_j"))
    val w = Window.partitionBy("customer_id").orderBy("draw_j")
    // explicit-count exchange below the window (the attachPairTexts
    // placement rule): AQE coalesced the ~300 KB anti-join output to 1
    // partition, so the per-customer window AND the final sort's sample
    // pass ran serially (profiled: two ~0.5 s single-task stages); the
    // keyed REPARTITION_BY_NUM satisfies the window's clustering, is
    // never coalesced, and both passes run at session parallelism
    PartitionOps.repartitionBeforeFanout(
        cand.join(pos, Seq("customer_id", "product_id"), "left_anti"),
        col("customer_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("customer_id"), col("product_id"),
        col("draw_j").cast("long").as("draw_j"))
      .orderBy("customer_id", "draw_j")
  }

  /** c27 core: chi-square drift on ×10⁹ fixed-point token rates — see the
    * registry comment for the exactness/headroom derivation.
    */
  private[graft] def chi2Drift(docsWithSource: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val (counts, corpus) = tokenCounts(docsWithSource)
    val rTot = corpus
      .agg(sum(expr("""(1000000000 * cast(b as decimal(38,0)))
                       div cast(n_tot as decimal(38,0))""")).as("r_tot"))
    counts
      .select(col("source"), col("n_s"),
        expr("""(1000000000 * cast(a as decimal(38,0)))
                div cast(n_s as decimal(38,0))""").as("ro"),
        expr("""(1000000000 * cast(b as decimal(38,0)))
                div cast(n_tot as decimal(38,0))""").as("rc"))
      .groupBy("source", "n_s")
      // div yields LONG, so the squared term re-lifts to DECIMAL(38)
      // (rc can reach 10⁹; 10⁶·Δr² tops out near 10²⁴)
      .agg(sum(expr("""(1000000 * cast(ro - rc as decimal(38,0))
                        * cast(ro - rc as decimal(38,0)))
                       div greatest(cast(rc as decimal(38,0)), 1)"""))
        .as("present"),
        sum(col("rc").cast(d38)).as("rc_present"))
      .crossJoin(broadcast(rTot))
      .select(col("source"), col("n_s").as("n_tokens"),
        expr("(present + 1000000 * (r_tot - rc_present)) div 1000000")
          .cast("long").as("chi2_e9"))
  }

  /** c34's DSIR feature-hash seed (own stream: importance buckets must
    * not correlate with x6's encoding buckets or any sampling gate).
    */
  private[graft] val DsirSeed = 91L

  /** c34's hashed-ngram model width. 64 is the oracle-demo width (the
    * x6 precedent); a production DSIR run uses 2^18+ — the plan shape
    * is width-independent (the stat table stays a broadcast either way).
    */
  private[graft] val DsirBuckets = 64L

  /** c34 core over an INJECTED documents frame (doc_id, lang, text).
    * See the c34 registry comment for the
    * model/quantization derivation; bucket log-ratios ride t26's
    * pinned-ln table so the whole statistic is integer-exact.
    */
  private[graft] def dsirReweightOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    val (ha, hb) = HashCoeffs.coeffs(1, DsirSeed).head
    def lnDf = (1 to LnCap).map(i => (i.toLong, lnE12(i - 1)))
      .toDF("i", "ln_e12")
    val h = graft.functions.RollingHash.rolling_hash(col("bigram"))
    val bucketed = d
      .select(col("doc_id"), col("lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
      .select(col("doc_id"), col("lang"),
        (((lit(ha) * h + lit(hb)) % lit(HashCoeffs.P)) % lit(DsirBuckets))
          .as("bucket"))
    // ONE corpus pass: per-(doc, lang, bucket) counts — lang rides the
    // agg key (functionally dependent on doc_id, so the key cardinality
    // is unchanged) so the per-doc vectors AND both corpus models
    // derive from this table. Lazy checkpoint truncates lineage so the
    // text is scanned/exploded once, not once per branch (the t16b
    // device; the first cut's plan re-derived the explode 3×)
    val counts = bucketed.groupBy("doc_id", "lang", "bucket")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // the c_b(doc) sparse count vector — the query's ONLY corpus-sized
    // exchange is the partial agg above (narrow (doc, lang, bucket) keys)
    val docBuckets = counts.select("doc_id", "bucket", "c")
    // corpus-side models: raw = every bigram, target = the en slice —
    // an O(B)-row rollup of the counts table, itself checkpointed so
    // the totals branch reads 64 rows, not the counts table twice
    val stats = counts.groupBy("bucket").agg(
      sum("c").as("cr"),
      sum(when(col("lang") === "en", col("c")).otherwise(0L)).as("ct"))
      .localCheckpoint(false)
    val tot = stats.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    val lr = stats.crossJoin(broadcast(tot))
      .withColumn("r_e2",
        least(greatest(
          expr(s"((ct + 1) * (tr + $DsirBuckets) * 100)" +
            s" div ((cr + 1) * (tt + $DsirBuckets))"), lit(10L)),
          lit(1000L)))
      .join(broadcast(lnDf), col("r_e2") === col("i"))
      .select(col("bucket"),
        (col("ln_e12") - lit(lnE12(100 - 1))).as("lr_e12"))
    docBuckets.join(broadcast(lr), "bucket")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_bigrams"),
        sum(col("c") * col("lr_e12")).cast("long").as("weight_e12"))
      .orderBy("doc_id")
  }

  private lazy val c18OracleSql: String = Oracle.sqlWith(
    s"""toks AS (SELECT doc_id, $tokensSql AS w FROM documents),
       |segs AS (SELECT doc_id, i AS seg_no,
       |                array_to_string(w[i*8+1 : i*8+8], ' ') AS seg
       |         FROM (SELECT doc_id, w, unnest(range((len(w)+7)//8)) AS i
       |               FROM toks)),
       |boiler AS (SELECT seg FROM segs
       |           GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3),
       |kept AS (SELECT s.doc_id, s.seg_no, s.seg
       |         FROM segs s LEFT JOIN boiler b USING (seg)
       |         WHERE b.seg IS NULL),
       |rebuilt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |                   string_agg(seg, ' ' ORDER BY seg_no) AS txt
       |            FROM kept GROUP BY doc_id)""".stripMargin,
    """SELECT t.doc_id, CAST((len(t.w)+7)//8 AS BIGINT) AS n_segs,
      |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       COALESCE(r.txt, '') AS cleaned_text
      |FROM toks t LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin)

  val all: Seq[Query] = Seq(
    // — data-mixing weight derivation: the step that FEEDS c4's rate
    //   application — given a target language distribution (uniform here;
    //   any target vector drops in as a literal map), derive per-language
    //   DOWN-sampling weights w = min(1, target_share / current_share)
    //   from exact token counts. One per-lang partial-agg shuffle + a
    //   one-row totals aggregate broadcast back (PlanSpec-whitelisted
    //   scalar cross join); every emitted double is a pinned-order
    //   division of exact longs, so the weights are engine-exact and the
    //   c4-style gate consuming them stays deterministic. —
    Query("c16_mixing_weights", ((s, dir) => {
      val perLang = docs(s, dir)
        .select(col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("lang_tokens"))
      val total = perLang.agg(
        sum("lang_tokens").cast("long").as("total_tokens"),
        count(lit(1)).cast("long").as("n_langs"))
      perLang.crossJoin(broadcast(total))
        .select(col("lang"), col("n_docs"), col("lang_tokens"),
          (col("lang_tokens").cast("double")
            / col("total_tokens").cast("double")).as("share"),
          least(lit(1.0),
            col("total_tokens").cast("double") / col("n_langs").cast("double")
              / col("lang_tokens").cast("double")).as("weight"))
        .orderBy("lang")
    }), Some(Oracle.sqlWith(
      s"""per AS (SELECT lang, COUNT(*) AS n_docs,
         |               CAST(SUM(len($tokensSql)) AS BIGINT) AS lang_tokens
         |        FROM documents GROUP BY lang),
         |tot AS (SELECT CAST(SUM(lang_tokens) AS BIGINT) AS total_tokens,
         |               COUNT(*) AS n_langs FROM per)""".stripMargin,
      """SELECT l.lang, l.n_docs, l.lang_tokens,
        |       CAST(l.lang_tokens AS DOUBLE) / CAST(t.total_tokens AS DOUBLE) AS share,
        |       LEAST(1.0, CAST(t.total_tokens AS DOUBLE) / CAST(t.n_langs AS DOUBLE)
        |         / CAST(l.lang_tokens AS DOUBLE)) AS weight
        |FROM per l, tot t
        |ORDER BY l.lang""".stripMargin))),
    // — dedup survivorship: d6 gives WHICH docs are near-duplicates of
    //   each other; this picks which copy a curation pipeline KEEPS —
    //   the highest-quality member per cluster (t2's score), doc_id as
    //   the pinned tiebreak, singletons surviving as their own cluster.
    //   The cluster labels ride d6's label-propagation output through a
    //   left join (docs in no pair default to cluster = own id — no
    //   row for them ever enters the pair pipeline, so this is free);
    //   the arg-max is a row_number window over cluster members (cluster
    //   sizes are near-dup groups — tiny by construction) sharing one
    //   exchange with the unordered member count. —
    Query("c17_dedup_survivor", ((s, dir) => {
      val corpus = docsNearC(s, dir)
      val clusters = graft.ext.Clusters.connectedComponents(
        nearCands05(s, dir))
      val scored = TextAnalysis.qualityScores(corpus)
        .select(col("doc_id"), col("quality_score"))
      val labeled = scored
        .join(clusters, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"),
          col("quality_score"))
      val byCluster = Window.partitionBy("cluster")
      val rankW = byCluster.orderBy(col("quality_score").desc, col("doc_id"))
      labeled
        .withColumn("rn", row_number().over(rankW))
        .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("survivor"),
          col("quality_score"), col("n_members"))
        .orderBy("cluster")
    }), Some(Oracle.sqlRecursive(
      s"""${jaccardCtes(0.5)},
         |edges17 AS (SELECT id1 AS a, id2 AS b FROM jacc_pairs
         |            UNION ALL SELECT id2, id1 FROM jacc_pairs),
         |reach17(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges17
         |  UNION
         |  SELECT e.b, reach17.r FROM reach17 JOIN edges17 e ON e.a = reach17.id),
         |clus17 AS (SELECT id, MIN(r) AS cluster FROM reach17 GROUP BY id),
         |scored17 AS (SELECT doc_id, $scoreSql AS quality_score
         |             FROM (SELECT doc_id, text, $tokensSql AS w FROM docs_near)),
         |lab17 AS (SELECT s.doc_id, COALESCE(c.cluster, s.doc_id) AS cluster,
         |                 s.quality_score
         |          FROM scored17 s LEFT JOIN clus17 c ON c.id = s.doc_id)""".stripMargin,
      """SELECT cluster, doc_id AS survivor, quality_score,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM (SELECT cluster, doc_id, quality_score,
        |             ROW_NUMBER() OVER (PARTITION BY cluster
        |               ORDER BY quality_score DESC, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |      FROM lab17)
        |WHERE rn = 1 ORDER BY cluster""".stripMargin))),
    // — C4-style boilerplate stripping (repeated-line rule): design and
    //   the one-shuffle/zero-fact-shuffle story in
    //   [[TextAnalysis.boilerplateStrip]]'s scaladoc. —
    // c18 oracle: the strip rule stated relationally — segment table,
    // HAVING df >= 3 boilerplate set, anti join, order-restoring
    // string_agg — where Spark runs the broadcast-set narrow-map rewrite.
    // Same 1-based inclusive slice convention as the c7 oracle.
    Query("c18_boilerplate_strip", ((s, dir) =>
      TextAnalysis.boilerplateStrip(docs(s, dir)).orderBy("doc_id")), Some(c18OracleSql)),
    // — c18's production twin for a boilerplate set too large to
    //   broadcast (template-farm corpora): LEFT ANTI equi-join on the
    //   segment key instead of the broadcast array_contains scan.
    //   Row-equal by construction — it shares c18's ORACLE verbatim,
    //   so the correctness gate itself pins the equivalence; the plan
    //   shape (anti-join present, no broadcast boiler array) is pinned
    //   in ExtensionsSpec. —
    // c18b shares c18's oracle verbatim: same output contract, different
    // physical plan — the gate run IS the row-equality proof
    Query("c18b_boilerplate_strip_antijoin", ((s, dir) =>
      TextAnalysis.boilerplateStripAntiJoin(docs(s, dir)).orderBy("doc_id")), Some(c18OracleSql)),
    // — near-dup threshold sweep (picking the dedup τ is the judgment
    //   call every corpus build makes; this is the curve it reads):
    //   pair counts per Jaccard decile from the inverted-index pipeline
    //   run at a LOW base τ (0.3), with the cumulative at-or-above
    //   count = "pairs τ=d/10 would flag". Rides d2's index join (pair
    //   space index-bounded and replica-linear — the d2 curve family);
    //   the sweep itself is a decile agg + one window over ≤ 8 rows.
    //   The decile edge floor(j·10) is a double derived identically
    //   from exact integer counts in both engines (the c14 device), so
    //   bucketing can't drift. —
    // c19 oracle: same pipeline at τ=0.3, decile histogram + running
    // total stated as a plain window
    Query("c19_threshold_sweep", ((s, dir) => {
      val pairs = nearCands(s, dir).filter(col("jaccard") >= 0.3)
      pairs
        .select(floor(col("jaccard") * 10).cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).cast("long").as("n_pairs"))
        .withColumn("n_pairs_at_or_above",
          sum("n_pairs").over(Window.orderBy(col("decile").desc))
            .cast("long"))
        .orderBy("decile")
    }), Some(Oracle.sqlWith(
      s"""${jaccardCtes(0.3)},
         |dec AS (SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS decile,
         |               CAST(COUNT(*) AS BIGINT) AS n_pairs
         |        FROM jacc_pairs GROUP BY 1)""".stripMargin,
      """SELECT decile, n_pairs,
        |       CAST(SUM(n_pairs) OVER (ORDER BY decile DESC) AS BIGINT)
        |         AS n_pairs_at_or_above
        |FROM dec ORDER BY decile""".stripMargin))),
    // — domain-shift profile: per-source total-variation distance from
    //   the corpus-wide token distribution — the mixture diagnostic
    //   read before re-weighting (c16) or down-sampling a drifting
    //   source. TV = ½ Σ_t |p_s(t) − p_c(t)| is chosen over KL/JS
    //   precisely because it is EXACT here: scaled by 2·n_s·N it is an
    //   order-free integer sum Σ|a·N − b·n_s| (a = token count in
    //   source, b = in corpus), finished by one pinned division chain —
    //   no transcendental, no pinned-order fold (the t19 argument).
    //   Tokens ABSENT from the source still contribute |0 − b/N|; the
    //   inner join covers them without an anti-join leg because
    //   Σ_absent b = N − Σ_present b — fold the remainder in as
    //   (N − Σ_present b)·n_s. DECIMAL(38,0) products: the sum is
    //   ≤ 2·n_s·N ~ 10^26 at 10^12-token sources — headroom to 10^37.
    //   Plan: one (source, tok) partial agg over the corpus, a tok-key
    //   rollup of THAT (distinct-token sized, not corpus sized), one
    //   tok-key join between the two count tables, and two broadcast
    //   scalars — every shuffle is bounded by distinct (source, token)
    //   pairs. —
    // c20 oracle: the same integer numerator Σ|a·N − b·n_s| on HUGEINT
    // + the absent-token remainder, the same pinned division chain
    Query("c20_domain_shift", ((s, dir) =>
      domainShift(docs(s, dir).select("source", "text")).orderBy("source")), Some(Oracle.sqlWith(
      tokenCountCtes("20") + """,
         |pr20 AS (SELECT s.source, n.n_s, t.n_tot,
         |           SUM(abs(CAST(s.a AS HUGEINT) * CAST(t.n_tot AS HUGEINT)
         |               - CAST(c.b AS HUGEINT) * CAST(n.n_s AS HUGEINT)))
         |             AS num_present,
         |           CAST(SUM(c.b) AS BIGINT) AS b_present
         |         FROM sc20 s
         |         JOIN cc20 c USING (tok)
         |         JOIN ns20 n USING (source), nt20 t
         |         GROUP BY s.source, n.n_s, t.n_tot)""".stripMargin,
      """SELECT source, n_s AS n_tokens,
        |       CAST(num_present
        |            + CAST(n_tot - b_present AS HUGEINT)
        |              * CAST(n_s AS HUGEINT) AS DOUBLE)
        |         / (2.0 * CAST(n_s AS DOUBLE) * CAST(n_tot AS DOUBLE))
        |         AS tv_dist
        |FROM pr20 ORDER BY source""".stripMargin))),
    // — quality↔duplication calibration: dup rate per quality quartile —
    //   the curation diagnostic that tells you whether low-quality docs
    //   are ALSO the duplicated ones (if so, dedup subsumes part of the
    //   quality filter and the budget math of c8/c16 changes).
    //   Composition of three shipped devices: t2's quality score, t4's
    //   normalized fingerprint with a copy count (docsDup injects the
    //   copies — driver data is clean), and c10b's cutoff binning
    //   (exact percentile_disc cutoffs broadcast back, NO global ntile
    //   window — the c10 hot-spot never exists). The fingerprint join
    //   moves (fp, score) pairs only — text never crosses the wire
    //   (d1's discipline). Dup rate is an exact integer ratio divided
    //   once. —
    // c22 oracle: t2's score formula, t4's normalized fingerprint, the
    // same quantile_disc cutoffs and bin case analysis
    Query("c22_quality_dup_calibration", ((s, dir) => {
      val flagged = TextAnalysis.withQuality(docsDup(s, dir))
        .select(col("doc_id"), col("quality_score"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("fp"))
      val copies = flagged.groupBy("fp").agg(count(lit(1)).as("n_copies"))
      val scored = flagged.join(copies, "fp")
        .withColumn("is_dup", (col("n_copies") > 1).cast("long"))
      val cuts = scored.agg(
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY quality_score)")
          .as("c75"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY quality_score)")
          .as("c50"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY quality_score)")
          .as("c25"))
      scored.crossJoin(broadcast(cuts))
        .withColumn("bin", qualityBin)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup"))
        .select(col("bin"), col("n_docs"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"))
        .orderBy("bin")
    }), Some(Oracle.sqlWith(
      s"""$docsDupSql,
         |s22 AS (SELECT doc_id, $scoreSql AS quality_score,
         |               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |                 AS fp
         |        FROM (SELECT doc_id, text, $tokensSql AS w FROM docs_dup)),
         |n22 AS (SELECT fp, COUNT(*) AS n_copies FROM s22 GROUP BY fp),
         |f22 AS (SELECT s.doc_id, s.quality_score,
         |               CASE WHEN n.n_copies > 1 THEN 1 ELSE 0 END AS is_dup
         |        FROM s22 s JOIN n22 n USING (fp)),
         |cut22 AS (SELECT quantile_disc(quality_score, 0.75) AS c75,
         |                 quantile_disc(quality_score, 0.50) AS c50,
         |                 quantile_disc(quality_score, 0.25) AS c25
         |          FROM f22),
         |b22 AS (SELECT CASE WHEN quality_score >= c75 THEN 1
         |                    WHEN quality_score >= c50 THEN 2
         |                    WHEN quality_score >= c25 THEN 3
         |                    ELSE 4 END AS bin, is_dup
         |        FROM f22, cut22)""".stripMargin,
      """SELECT CAST(bin AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(is_dup) AS BIGINT) AS n_dup,
        |       CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |         AS dup_rate
        |FROM b22 GROUP BY bin ORDER BY bin""".stripMargin))),
    // — decontaminated TRAIN split (c6's operational complement): c6
    //   reports which EVAL docs leak; what a corpus build actually
    //   ships is a train split with the leaking docs REMOVED — eval
    //   stays fixed (published benchmarks can't be edited), train pays
    //   the cost. Same inverted shingle index read once for both sides
    //   (localCheckpoint), eval shingle set (test ∪ valid — both held
    //   out), contaminated train ids via the index equi-join, then a
    //   LEFT ANTI on doc_id. Never all-pairs; the anti join is
    //   key-only. —
    // c23 oracle: c6's shingle CTEs with the sides swapped (eval
    // shingle set, contaminated-train ids) and a NOT EXISTS anti join
    Query("c23_decontaminated_train", ((s, dir) => {
      val d = docsDup(s, dir)
      val sided = decontamIndex(d)
      val evalSh = sided.filter(col("split") =!= "train")
        .select("sh").distinct()
      val contaminated = sided.filter(col("split") === "train")
        .join(evalSh, "sh")
        .select("doc_id").distinct()
      d.select(col("doc_id"), decontamSplit.as("split"))
        .filter(col("split") === "train")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      splitShingleCtes("23") + """,
         |ev23 AS (SELECT DISTINCT s.sh FROM shing23 s
         |         JOIN split23 p ON s.doc_id = p.doc_id
         |         WHERE p.split <> 'train'),
         |bad23 AS (SELECT DISTINCT s.doc_id FROM shing23 s
         |          JOIN split23 p ON s.doc_id = p.doc_id
         |          JOIN ev23 e ON s.sh = e.sh
         |          WHERE p.split = 'train')""".stripMargin,
      """SELECT p.doc_id
        |FROM split23 p
        |WHERE p.split = 'train'
        |  AND NOT EXISTS (SELECT 1 FROM bad23 b WHERE b.doc_id = p.doc_id)
        |ORDER BY doc_id""".stripMargin))),
    // — declarative data-quality audit (the deequ/great-expectations
    //   operator shape): evaluate a rule set over the DIRTY fact in one
    //   report — per rule, violation count and rate. The scan rules
    //   (nulls, domain ranges) fold into ONE conditional-sum aggregate —
    //   a single partial-agg pass, no key shuffle, 1-row output; the
    //   uniqueness rule pays the dedup-key hash shuffle f1 pays anyway
    //   (surplus rows per (order_id, product_id, quantity, unit_price)
    //   group); the referential rule is a broadcast ANTI join against
    //   the customers dim. Three 1-row sides cross-join (free) and
    //   stack() pivots the audit row into the per-rule report. The two
    //   range rules and the orphan rule pass by construction on this
    //   generator — a healthy audit REPORTS the zero, which is the
    //   point of running it. At 100 TB: rules share the one scan;
    //   add rules = add columns, not passes. —
    // c24 oracle: one audit row from the three 1-row sides, stacked to per-rule
    // report rows via UNION ALL (DuckDB's stack())
    Query("c24_dq_audit", ((s, dir) => {
      // r19 adjudication: checkpointing dirtySales here (one
      // materialization for the three audit statements, which otherwise
      // re-derive its two-scan union each) measured ~10% SLOWER at
      // sf0.1 — the redundant scans overlap on idle cores while the
      // eager wide-row materialization serializes. Deliberately left
      // as independent scans.
      val d = Tables.dirtySales(s, dir)
      def viol(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      val base = d.agg(
        count(lit(1)).as("n_rows"),
        viol(col("order_date").isNull).as("null_order_date"),
        viol(col("customer_id").isNull).as("null_customer_id"),
        viol(col("category").isNull).as("null_category"),
        viol(col("quantity") <= 0).as("nonpositive_quantity"),
        viol(col("unit_price") <= 0).as("nonpositive_unit_price"))
      val dup = d.groupBy("order_id", "product_id", "quantity", "unit_price")
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("duplicate_dedup_key"))
      val orph = d.filter(col("customer_id").isNotNull)
        .join(broadcast(Tables.customers(s, dir).select("customer_id")),
          Seq("customer_id"), "left_anti")
        .agg(count(lit(1)).as("orphan_customer_id"))
      base.crossJoin(dup).crossJoin(orph)
        .select(col("n_rows"), expr(
          """stack(7,
            |  'duplicate_dedup_key', duplicate_dedup_key,
            |  'nonpositive_quantity', nonpositive_quantity,
            |  'nonpositive_unit_price', nonpositive_unit_price,
            |  'null_category', null_category,
            |  'null_customer_id', null_customer_id,
            |  'null_order_date', null_order_date,
            |  'orphan_customer_id', orphan_customer_id
            |) AS (rule, n_violations)""".stripMargin))
        .select(col("rule"), col("n_violations"), col("n_rows"),
          try_divide(col("n_violations").cast("double"), col("n_rows").cast("double"))
            .as("violation_rate"))
        .orderBy("rule")
    }), Some(Oracle.sqlWith(
      """base AS (SELECT COUNT(*) AS n_rows,
        |           SUM(CASE WHEN order_date IS NULL THEN 1 ELSE 0 END) AS null_order_date,
        |           SUM(CASE WHEN customer_id IS NULL THEN 1 ELSE 0 END) AS null_customer_id,
        |           SUM(CASE WHEN category IS NULL THEN 1 ELSE 0 END) AS null_category,
        |           SUM(CASE WHEN quantity <= 0 THEN 1 ELSE 0 END) AS nonpositive_quantity,
        |           SUM(CASE WHEN unit_price <= 0 THEN 1 ELSE 0 END) AS nonpositive_unit_price
        |         FROM dirty_sales),
        |dup AS (SELECT COALESCE(SUM(c - 1), 0) AS duplicate_dedup_key
        |        FROM (SELECT COUNT(*) AS c FROM dirty_sales
        |              GROUP BY order_id, product_id, quantity, unit_price)),
        |orph AS (SELECT COUNT(*) AS orphan_customer_id
        |         FROM dirty_sales d
        |         WHERE d.customer_id IS NOT NULL
        |           AND NOT EXISTS (SELECT 1 FROM customers c
        |                           WHERE c.customer_id = d.customer_id)),
        |audit AS (SELECT * FROM base, dup, orph),
        |stacked AS (
        |  SELECT 'duplicate_dedup_key' AS rule, duplicate_dedup_key AS n_violations, n_rows FROM audit
        |  UNION ALL SELECT 'nonpositive_quantity', nonpositive_quantity, n_rows FROM audit
        |  UNION ALL SELECT 'nonpositive_unit_price', nonpositive_unit_price, n_rows FROM audit
        |  UNION ALL SELECT 'null_category', null_category, n_rows FROM audit
        |  UNION ALL SELECT 'null_customer_id', null_customer_id, n_rows FROM audit
        |  UNION ALL SELECT 'null_order_date', null_order_date, n_rows FROM audit
        |  UNION ALL SELECT 'orphan_customer_id', orphan_customer_id, n_rows FROM audit)""".stripMargin,
      """SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n_rows,
        |       CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE) AS violation_rate
        |FROM stacked ORDER BY rule""".stripMargin))),
    // — per-document n-gram novelty (c25): the fraction of a doc's
    //   distinct 7-gram shingles that appear in NO other document
    //   (corpus df = 1) — the curation score that separates original
    //   content from remixes/boilerplate (high novelty ↑ diversity
    //   value; ~0 novelty = the doc is assembled from text seen
    //   elsewhere). Runs on the dup-injected fixture so the score has
    //   signal: every copy AND its source collapse to novelty 0 (each
    //   shingle's df ≥ 2) while unique docs stay near 10⁶. Cost shape:
    //   this is d2's inverted shingle index WITHOUT the pair join — one
    //   df aggregation on the shingle key + one join back, strictly
    //   linear in corpus shingles (novelty needs no candidate pairs),
    //   so it scales BETTER than the dedup family it rides beside.
    //   Fixed-point ×10⁶ floor ratio (engine-exact longs). —
    Query("c25_novelty", ((s, dir) => noveltyOf(docsDup(s, dir))), Some(Oracle.sqlWith(
      s"""$docsDupSql,
         |${shingleSqlOver("shd", "docs_dup")},
         |dfc AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY sh)""".stripMargin,
      """SELECT s.doc_id, COUNT(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST((1000000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END))
        |            // COUNT(*) AS BIGINT) AS novelty_e6
        |FROM shd s JOIN dfc USING (sh)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin))),
    // — deterministic negative sampling (c26): the contrastive-training
    //   data op — for each customer, k=3 parts they did NOT buy, as
    //   (customer, part, label=0) rows for a recommender/embedding
    //   trainer. The naive statement is a customer×part cross join
    //   minus positives — quadratic and banned. Instead each customer
    //   gets m=9 ARITHMETIC candidate draws (no join against the part
    //   table's bulk): draw_j = md5(customer#j) as a 60-bit integer mod
    //   |parts| (the c14 md5-uniform device; |parts| enters in-plan as
    //   the one-row max(p_partkey)+1 agg — keys are dense by
    //   generation, and the mod keeps every draw a REAL part id so no
    //   validity join is needed). Collided draws collapse keep-min-j;
    //   positives fall out via one LEFT ANTI on (customer, part); the
    //   first 3 survivors by draw order win — a ≤9-row-per-customer
    //   window, bounded at any scale. m=3k slack: at the fixture's
    //   ~15% positive hit rate P(<3 of 9 survive) is negligible, and a
    //   starved customer degrades to <3 negatives deterministically
    //   rather than erroring. Everything is md5-derived → the sample is
    //   exact, re-runnable, layout-independent (x7's determinism
    //   argument), and the whole plan is |customers|·9 narrow rows +
    //   one hash anti-join — no pair blowup at 100 TB. —
    // c26 oracle: same md5 draw arithmetic ('0x'||hex ≡ conv(hex,16,10)), same
    // keep-min-j collapse, anti-join, and first-3-by-draw-order window
    Query("c26_negative_sample", ((s, dir) =>
      negativeSampleOf(
        graft.etl.Pipelines.cleanSales(s, dir)
          .select("customer_id", "product_id").distinct(),
        Tables.table(s, dir, "part")
          .agg((max("p_partkey") + 1L).as("n_parts")))), Some(Oracle.sqlWith(
      """pos26 AS (SELECT DISTINCT customer_id, product_id FROM clean_sales),
        |np26 AS (SELECT MAX(p_partkey) + 1 AS n_parts FROM part),
        |cand26 AS (SELECT customer_id, cand AS product_id,
        |                  MIN(j) AS draw_j
        |           FROM (SELECT customer_id, j,
        |                        CAST(('0x' || substring(md5(
        |                          CAST(customer_id AS VARCHAR) || '#'
        |                          || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
        |                          % n_parts AS cand
        |                 FROM (SELECT DISTINCT customer_id FROM pos26),
        |                      np26, unnest(range(1, 10)) AS t(j))
        |           GROUP BY customer_id, cand),
        |neg26 AS (SELECT c.customer_id, c.product_id, c.draw_j,
        |                 ROW_NUMBER() OVER (PARTITION BY c.customer_id
        |                                    ORDER BY c.draw_j) AS rn
        |          FROM cand26 c LEFT JOIN pos26 p
        |            ON c.customer_id = p.customer_id
        |           AND c.product_id = p.product_id
        |          WHERE p.customer_id IS NULL)""".stripMargin,
      """SELECT customer_id, product_id, draw_j
        |FROM neg26 WHERE rn <= 3
        |ORDER BY customer_id, draw_j""".stripMargin))),
    // — per-source chi-square drift (c27): c20's TV distance weights all
    //   token-probability gaps equally; the chi-square form Σ(p_o−p_c)²/p_c
    //   up-weights deviations on RARE tokens — the drift that TV buries
    //   but that poisons a tokenizer or topic mix first. Exactness device:
    //   raw-count chi-square squares a·N terms (10⁵² at extreme scale —
    //   past DECIMAL(38), where c20's |aN−bn| stays inside), so the
    //   statistic is PINNED on ×10⁹ fixed-point rates instead:
    //   r = (10⁹·count) div total fits a long at ANY corpus size, each
    //   term is (10⁶·(r_o−r_c)²) div max(r_c,1) — one floor per term,
    //   order-free integer sum (the c20 discipline) — and the absent-token
    //   mass folds in EXACTLY via (10⁶·r_c²) div r_c = 10⁶·r_c, so
    //   Σ_absent = 10⁶·(R_tot − Σ_present r_c) with R_tot one tiny agg
    //   over the vocabulary-bounded corpus count table. Emitted as
    //   chi2_e9 = 10⁹·Σ(Δp)²/p_c. Same plan skeleton as c20: token
    //   partial-agg shuffles + broadcast scalars, nothing data-sized
    //   sorts. max(r_c,1) guards the rate-resolution floor (a token
    //   rarer than 1 in 10⁹ — only reachable past ~10⁹-token corpora,
    //   where the pinned rate grid is the documented resolution). —
    // c27 oracle: same per-term floors on the same ×10⁹ rate grid, same exact
    // absent-mass identity — HUGEINT mirrors DECIMAL(38,0)
    Query("c27_chi2_drift", ((s, dir) =>
      chi2Drift(docs(s, dir).select("source", "text")).orderBy("source")), Some(Oracle.sqlWith(
      tokenCountCtes("27") + """,
         |rt27 AS (SELECT SUM((1000000000 * CAST(b AS HUGEINT)) // n_tot)
         |                  AS r_tot
         |         FROM cc27, nt27),
         |pr27 AS (SELECT s.source, n.n_s,
         |           SUM((1000000 * (ro - rc) * (ro - rc))
         |               // GREATEST(rc, 1)) AS present,
         |           SUM(rc) AS rc_present
         |         FROM (SELECT s0.source, s0.tok,
         |                      (1000000000 * CAST(s0.a AS HUGEINT))
         |                        // CAST(n0.n_s AS HUGEINT) AS ro,
         |                      (1000000000 * CAST(c0.b AS HUGEINT))
         |                        // CAST(t0.n_tot AS HUGEINT) AS rc
         |               FROM sc27 s0
         |               JOIN cc27 c0 USING (tok)
         |               JOIN ns27 n0 USING (source), nt27 t0) s
         |         JOIN ns27 n USING (source)
         |         GROUP BY s.source, n.n_s)""".stripMargin,
      """SELECT source, n_s AS n_tokens,
        |       CAST((present + 1000000 * (r_tot - rc_present)) // 1000000
        |            AS BIGINT) AS chi2_e9
        |FROM pr27, rt27 ORDER BY source""".stripMargin))),
    // — cross-source quantile normalization (c28): the batch-effect
    //   correction a multi-source corpus needs before ANY global
    //   threshold — source A's "long document" and source B's may sit
    //   at wildly different raw token counts, so map each doc's WITHIN-
    //   SOURCE midrank onto the POOLED distribution's matching
    //   quantile (the bioinformatics quantile-normalization trick
    //   applied to curation signals). Everything integer: midranks via
    //   the a32 doubled-midrank device on the value-grain table
    //   (bounded by the token-count domain, never doc count), the
    //   quantile lookup "min pooled value with pcum ≥ thr",
    //   thr = ⌈n_pool·r2 / (2·n_s)⌉ (the integer-ceil restatement of
    //   the cross-multiplied 2·n_s·pcum ≥ n_pool·r2), resolved by the
    //   j4 tagged-union AS-OF over the pcum axis (r15 task 5 — was a
    //   grain×grain broadcast-nested-loop), and the mapping broadcast
    //   back onto docs as a narrow (source, n_tokens) probe.
    //   Hash-exact end to end. —
    // c28 oracle: same value-grain doubled midranks, same cross-
    // multiplied quantile lookup, same min-pooled-value resolution
    Query("c28_quantile_normalize", ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val srcGrain = base.groupBy("source", "n_tokens")
        .agg(count(lit(1)).as("cnt"))
      val sw = Window.partitionBy("source").orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, -1)
      val srcRank = srcGrain
        .withColumn("cb", coalesce(sum("cnt").over(sw), lit(0L)))
        .withColumn("n_s",
          sum("cnt").over(Window.partitionBy("source")).cast("long"))
        // pooled total via the same bounded-grain global window (= the
        // pooled CDF's n_pool — one Σcnt either way), so the threshold
        // needs no scalar cross join
        .withColumn("n_pool",
          sum("cnt").over(Window.partitionBy()).cast("long"))
        .select(col("source"), col("n_tokens"),
          (lit(2L) * col("cb") + col("cnt") + 1L).as("r2"), col("n_s"),
          col("n_pool"))
      val pw = Window.orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, 0)
      val pooled = base.groupBy("n_tokens").agg(count(lit(1)).as("pc"))
        .withColumn("pcum", sum("pc").over(pw).cast("long"))
        .withColumn("n_pool", sum("pc").over(Window.partitionBy()).cast("long"))
        .select(col("n_tokens").as("pv"), col("pcum"), col("n_pool"))
      // forward AS-OF on the pcum axis (r15 verdict task 5 — the j4
      // tagged-union device replacing the grain×grain broadcast-nested-
      // loop): each source row needs "min pv with pcum ≥ thr" where
      // thr = ⌈n_pool·r2 / (2·n_s)⌉ — the integer-ceil restatement of
      // the cross-multiplied 2·n_s·pcum ≥ n_pool·r2 (b·pcum ≥ a ⟺
      // pcum ≥ ⌈a/b⌉, exact on DECIMAL(38)). Tag source thresholds (0)
      // and pooled CDF rows (1) onto one pos axis; after one sort the
      // answer is first_value(pv, ignoreNulls) over the following
      // frame — candidate space LINEAR in the grain. The unpartitioned
      // window rides the same domain-bounded union the pooled CDF
      // window already rides (≤ (|sources|+1)·|token domain| rows
      // forever). A match always exists: r2 ≤ 2·n_s ⇒ thr ≤ n_pool =
      // max pcum. Same output bits, different plan (hash-pinned).
      val srcThr = srcRank
        .select(col("source"), col("n_tokens"), col("r2"), col("n_s"),
          expr("""cast((cast(n_pool as decimal(38,0)) * r2 + 2 * n_s - 1)
                  div (2 * n_s) as long)""").as("pos"),
          lit(0).as("tag"), lit(null).cast("long").as("pv"))
      val poolTag = pooled
        .select(lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_tokens"),
          lit(null).cast("long").as("r2"), lit(null).cast("long").as("n_s"),
          col("pcum").as("pos"), lit(1).as("tag"), col("pv"))
      // (source, n_tokens) tiebreak makes the key total (the SortKeySpec
      // lint): tag-1 rows are already unique by pos (pcum is strictly
      // increasing), tag-0 rows by their grain. Tied thresholds get the
      // same first-following-pv either way (nulls skipped) — the
      // tiebreak pins the order without touching the output.
      val wAsof = Window.orderBy("pos", "tag", "source", "n_tokens")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val mapped = srcThr.unionAll(poolTag)
        .withColumn("norm_tokens",
          first("pv", ignoreNulls = true).over(wAsof))
        .filter(col("tag") === 0)
        .select(col("source"), col("n_tokens"), col("r2"), col("n_s"),
          col("norm_tokens"))
      base.join(broadcast(mapped), Seq("source", "n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("r2"),
          col("n_s"), col("norm_tokens"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      s"""bs28 AS (SELECT doc_id, source,
         |                CAST(len($tokensSql) AS BIGINT) AS n_tokens
         |         FROM documents),
         |sg28 AS (SELECT source, n_tokens, CAST(COUNT(*) AS BIGINT) AS cnt
         |         FROM bs28 GROUP BY 1, 2),
         |sr28 AS (SELECT source, n_tokens,
         |                2 * COALESCE(SUM(cnt) OVER (PARTITION BY source
         |                  ORDER BY n_tokens
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |                  0) + cnt + 1 AS r2,
         |                CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT)
         |                  AS n_s
         |         FROM sg28),
         |pl28 AS (SELECT n_tokens AS pv,
         |                CAST(SUM(COUNT(*)) OVER (ORDER BY n_tokens
         |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pcum,
         |                CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_pool
         |         FROM bs28 GROUP BY n_tokens),
         |mp28 AS (SELECT s.source, s.n_tokens, s.r2, s.n_s,
         |                MIN(p.pv) AS norm_tokens
         |         FROM sr28 s JOIN pl28 p
         |           ON 2 * s.n_s * p.pcum >= p.n_pool * s.r2
         |         GROUP BY 1, 2, 3, 4)""".stripMargin,
      """SELECT b.doc_id, b.source, b.n_tokens,
        |       CAST(m.r2 AS BIGINT) AS r2, m.n_s, m.norm_tokens
        |FROM bs28 b JOIN mp28 m
        |  ON b.source = m.source AND b.n_tokens = m.n_tokens
        |ORDER BY b.doc_id""".stripMargin))),
    // — water-filling token allocation (c29): the epoch-balancing
    //   primitive behind every "cap the big sources, keep the small
    //   ones whole" mixing recipe (the c16 weights say what SHOULD
    //   flow; this computes what CAN, under a hard global token
    //   budget): raise one common level L until Σ min(size_i, L)
    //   meets the budget — sources below L keep everything, sources
    //   above are cut to L. No iteration: on the size-ASC-sorted
    //   |sources|-row table the capped set is a PREFIX (s_k(n−k)+P_k
    //   is nondecreasing in k), so k* = COUNT of rows passing the
    //   prefix-sum test, and the level is the exact rational
    //   (B−P_k*)/(n−k*). Integer-exact end to end: allocations are
    //   floor(L) plus a +1 remainder distributed to the FIRST R
    //   uncapped sources in (source asc) pinned order, so
    //   Σ alloc ≡ B exactly (never the float-share rounding drift a
    //   naive pro-rata leaves). Every window runs on the ≤|sources|-
    //   row rollup (the a28 bucket-table carve-out); the only
    //   corpus-sized work is the one token-count partial agg. The
    //   one-row totals cross is the whitelisted scalar device. B is
    //   pinned at total div 2, which also guarantees an uncapped
    //   source exists (P_n = total > B) WHENEVER total ≥ 1, so the
    //   level denominator n−k* is never 0 on a non-empty corpus. The
    //   degenerate all-empty corpus (total = 0) makes every source
    //   capped (k* = n) and the level moot: both the level division
    //   and the ×10⁶ share are explicitly guarded to 0 rather than
    //   left to the engines' div-by-zero nulls, so the output is the
    //   honest all-zero allocation, not a null-riddled row set. —
    // c29 oracle: same size-asc prefix test for the capped set, same
    // exact rational level, same pinned (source asc) remainder order —
    // every intermediate an exact integer on both engines
    Query("c29_water_fill", ((s, dir) => {
      // two consumers (the totals row, the ranked level table) share
      // the |sources|-row rollup — truncate or both re-run the
      // corpus-sized token-count shuffle (the a36/s7 device)
      val sizes = docs(s, dir)
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("tk"))
        .groupBy("source").agg(sum("tk").as("size_tokens"))
        .localCheckpoint()
      val tot = sizes.groupBy().agg(
        count(lit(1)).as("n_src"), sum("size_tokens").as("total_tokens"))
        .select(col("n_src"), col("total_tokens"),
          expr("total_tokens div 2").as("budget"))
      val wAsc = Window.orderBy(col("size_tokens").asc, col("source").asc)
      val ranked = sizes.crossJoin(broadcast(tot))
        .withColumn("k", row_number().over(wAsc).cast("long"))
        .withColumn("pk", sum("size_tokens").over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cap_ok",
          col("size_tokens") * (col("n_src") - col("k")) + col("pk") <=
            col("budget"))
      val lvl = ranked.groupBy().agg(
        sum(when(col("cap_ok"), 1L).otherwise(0L)).as("k_star"),
        coalesce(max(when(col("cap_ok"), col("pk"))), lit(0L)).as("p_star"))
      val wSrc = Window.orderBy(col("source").asc)
      ranked.crossJoin(broadcast(lvl))
        .withColumn("l_num", col("budget") - col("p_star"))
        .withColumn("l_den", col("n_src") - col("k_star"))
        // l_den = 0 only on the all-empty corpus (every source capped);
        // there every row takes the cap_ok branch, so 0 is inert — the
        // guard just keeps nulls out of the frame
        .withColumn("floor_l",
          when(col("l_den") === 0, lit(0L))
            .otherwise(expr("l_num div l_den")))
        .withColumn("rem", col("l_num") - col("floor_l") * col("l_den"))
        .withColumn("rn_u", sum(when(col("cap_ok"), 0L).otherwise(1L))
          .over(wSrc.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .select(col("source"), col("size_tokens"),
          when(col("cap_ok"), col("size_tokens"))
            .otherwise(col("floor_l") +
              when(col("rn_u") <= col("rem"), 1L).otherwise(0L))
            .as("alloc_tokens"),
          col("cap_ok").as("kept_whole"), col("budget"))
        // ×10⁶ share lifted to DECIMAL(38,0): 10⁶·alloc wraps a long
        // past ~9·10¹² tokens — a scale a 100 TB corpus actually has
        // (the a29 lift; DuckDB's HUGEINT was never at risk)
        .withColumn("share_e6",
          when(col("budget") > 0,
            expr("""(1000000 * cast(alloc_tokens as decimal(38,0))) div
                    cast(budget as decimal(38,0))""").cast("long"))
            .otherwise(lit(0L)))
        .orderBy("source")
    }), Some(Oracle.sqlWith(
      s"""sz29 AS (SELECT source,
         |                CAST(SUM(len($tokensSql)) AS BIGINT) AS size_tokens
         |         FROM documents GROUP BY 1),
         |tt29 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
         |                CAST(SUM(size_tokens) // 2 AS BIGINT) AS budget
         |         FROM sz29),
         |rk29 AS (SELECT source, size_tokens, n_src, budget,
         |                CAST(ROW_NUMBER() OVER (ORDER BY size_tokens,
         |                     source) AS BIGINT) AS k,
         |                CAST(SUM(size_tokens) OVER (ORDER BY size_tokens,
         |                     source ROWS BETWEEN UNBOUNDED PRECEDING AND
         |                     CURRENT ROW) AS BIGINT) AS pk
         |         FROM sz29 CROSS JOIN tt29),
         |ck29 AS (SELECT *, size_tokens * (n_src - k) + pk <= budget
         |                  AS cap_ok
         |         FROM rk29),
         |lv29 AS (SELECT CAST(SUM(CASE WHEN cap_ok THEN 1 ELSE 0 END)
         |                  AS BIGINT) AS k_star,
         |                CAST(COALESCE(MAX(CASE WHEN cap_ok THEN pk END), 0)
         |                  AS BIGINT) AS p_star
         |         FROM ck29),
         |al29 AS (SELECT source, size_tokens, cap_ok, budget,
         |                CASE WHEN n_src - k_star = 0 THEN 0
         |                     ELSE (budget - p_star) // (n_src - k_star)
         |                END AS floor_l,
         |                (budget - p_star)
         |                  - CASE WHEN n_src - k_star = 0 THEN 0
         |                         ELSE (budget - p_star)
         |                                // (n_src - k_star)
         |                    END * (n_src - k_star) AS rem,
         |                CAST(SUM(CASE WHEN cap_ok THEN 0 ELSE 1 END)
         |                     OVER (ORDER BY source ROWS BETWEEN UNBOUNDED
         |                     PRECEDING AND CURRENT ROW) AS BIGINT) AS rn_u
         |         FROM ck29 CROSS JOIN lv29),
         |fn29 AS (SELECT source, size_tokens,
         |                CAST(CASE WHEN cap_ok THEN size_tokens
         |                     ELSE floor_l + CASE WHEN rn_u <= rem
         |                                    THEN 1 ELSE 0 END
         |                     END AS BIGINT) AS alloc_tokens,
         |                cap_ok AS kept_whole, budget
         |         FROM al29)""".stripMargin,
      """SELECT source, size_tokens, alloc_tokens, kept_whole, budget,
        |       CASE WHEN budget > 0
        |            THEN CAST((1000000 * CAST(alloc_tokens AS HUGEINT))
        |                 // CAST(budget AS HUGEINT) AS BIGINT)
        |            ELSE 0 END AS share_e6
        |FROM fn29 ORDER BY source""".stripMargin))),
    // — group-aware train/test split (c30): the leakage fix c2's
    //   per-doc hash split structurally CANNOT provide — near-duplicate
    //   documents that straddle a random split leak eval content into
    //   training verbatim-modulo-noise (the contamination c6 exists to
    //   CATCH; this op prevents it at split time instead). The split
    //   unit is the near-dup CLUSTER, not the document: d6's connected
    //   components over the d2 candidate index give every doc a group
    //   key (its cluster min-id; singletons key on themselves), and
    //   c2's deterministic md5 bucketing is applied to the GROUP key,
    //   so every member of a cluster lands on the same side by
    //   construction — zero near-dup pairs cross the split, provable
    //   from the CC definition (pairs ⊆ clusters) and pinned by spec
    //   against the same candidate generator. Scale story: clustering
    //   is d6's probed machinery (bucketed index, never all-pairs;
    //   diameter-bounded rounds), the split itself is a narrow
    //   scan-speed map — nothing new shuffles. —
    // c30 oracle: d6's recursive-CTE cluster map left-joined back to the
    // corpus, c2's md5 bucketing applied to the coalesced group key
    Query("c30_group_split", ((s, dir) => {
      val d = docsNearC(s, dir).select("doc_id", "text")
      val clusters = graft.ext.Clusters.connectedComponents(
        nearCands05(s, dir))
      val withKey = d.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("group_key"))
      val h = substring(md5(col("group_key").cast("string")), 1, 2)
      withKey
        .withColumn("split",
          when(h <= "28", "train")
            .otherwise(when(h <= "3c", "valid").otherwise("test")))
        .orderBy("doc_id")
    }), Some(Oracle.sqlRecursive(
      s"""${jaccardCtes(0.5)},
         |edges30 AS (SELECT id1 AS a, id2 AS b FROM jacc_pairs
         |            UNION ALL SELECT id2, id1 FROM jacc_pairs),
         |reach30(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges30
         |  UNION
         |  SELECT e.b, reach30.r FROM reach30 JOIN edges30 e
         |    ON e.a = reach30.id),
         |cl30 AS (SELECT id, MIN(r) AS cluster FROM reach30 GROUP BY id),
         |gk30 AS (SELECT d.doc_id,
         |                COALESCE(c.cluster, d.doc_id) AS group_key
         |         FROM docs_near d LEFT JOIN cl30 c ON d.doc_id = c.id)""".stripMargin,
      """SELECT doc_id, group_key,
        |       CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 2)
        |                 <= '28' THEN 'train'
        |            WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 2)
        |                 <= '3c' THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM gk30 ORDER BY doc_id""".stripMargin))),
    // — exact-size weighted systematic sampling (c31): c14 draws a
    //   Bernoulli sample — the right tool for RATE control, the wrong
    //   one for "give me exactly the k-doc budget" (its size is
    //   binomial-random). This is the deterministic complement every
    //   budgeted curation pass needs: k evenly-spaced strides over the
    //   weight prefix sum (Madow 1949 systematic sampling at
    //   deterministic phase) — doc i is picked iff its weight interval
    //   (cum−w, cum] contains a stride boundary, i.e.
    //   floor(cum·k/W) > floor((cum−w)·k/W). Exactly k picks whenever
    //   no single doc outweighs a stride (w_max < W/k — asserted by
    //   spec on this fixture); inclusion probability ∝ weight
    //   (c14's min(n_chars,400) weight reused), zero randomness,
    //   re-runnable. The prefix sum is the t24/w4c device — NO global
    //   single-partition window: 16 id-range buckets (width from the
    //   max-id scalar, whitelisted cross) reduce to a 16-row offset
    //   table that joins back broadcast, and the in-bucket cumsum
    //   windows over bucket partitions. Stride products ride
    //   DECIMAL(38) (cum·k ≤ 400·n·k wraps a long near 2·10¹⁴ docs —
    //   the a29/c8 lift). At 100 TB: one narrow scan, one ≤16-row
    //   exchange, one bucket-partitioned window — t24's curve. —
    // c31 oracle: one plain global window prefix sum (the oracle can
    // afford the single-partition form the Spark plan avoids via the
    // t24/w4c bucket device — same values by associativity), same
    // HUGEINT stride floors, same boundary-containment filter
    Query("c31_systematic_sample", ((s, dir) => {
      val k = 100L
      val d = docs(s, dir).select(col("doc_id"),
        least(col("n_chars"), lit(400L)).cast("long").as("w"))
      val width = d.agg((expr("max(doc_id) div 16") + 1L).as("width"))
      val bucketed = d.crossJoin(broadcast(width))
        .withColumn("bucket", expr("doc_id div width"))
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offTab = bucketed.groupBy("bucket").agg(sum("w").as("bw"))
        .withColumn("offset", coalesce(sum("bw").over(wOff), lit(0L)))
        .select("bucket", "offset")
      val totW = d.agg(sum("w").as("tw"))
      val inW = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bucketed
        .join(broadcast(offTab), Seq("bucket"))
        .withColumn("cum", col("offset") + sum("w").over(inW))
        .crossJoin(broadcast(totW))
        .filter(
          expr(s"cast(cum as decimal(38,0)) * $k div tw") >
            expr(s"cast(cum - w as decimal(38,0)) * $k div tw"))
        .select(col("doc_id"), col("w"), col("cum"),
          expr(s"cast(cast(cum as decimal(38,0)) * $k div tw as long)")
            .as("pick_idx"))
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      """w31 AS (SELECT doc_id,
        |               CAST(LEAST(n_chars, 400) AS BIGINT) AS w
        |        FROM documents),
        |cu31 AS (SELECT doc_id, w,
        |                CAST(SUM(w) OVER (ORDER BY doc_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND CURRENT ROW) AS BIGINT) AS cum
        |         FROM w31),
        |t31 AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w31)""".stripMargin,
      """SELECT doc_id, w, cum,
        |       CAST(CAST(cum AS HUGEINT) * 100 // tw AS BIGINT)
        |         AS pick_idx
        |FROM cu31, t31
        |WHERE CAST(cum AS HUGEINT) * 100 // tw
        |      > CAST(cum - w AS HUGEINT) * 100 // tw
        |ORDER BY doc_id""".stripMargin))),
    // — repetition signals (c33): Gopher §A1.2's "repetition removal"
    //   registers — the single strongest LOW-QUALITY predictor the
    //   paper reports (boilerplate loops, scraper artifacts): per doc,
    //   the duplicate-line count, the duplicated-character mass, and
    //   the maximum line multiplicity. Grain shape: lines explode to
    //   ONE (doc_id, line) partial-agg exchange (corpus-linear, narrow
    //   keys), then a per-doc rollup — never pair space, never a sort
    //   over raw lines. dup_char_frac rides the exact ×10⁶ fixed-point
    //   floor (DECIMAL(38) product — the d14/c12 share device). Over
    //   docsGopher, whose injected 'batch'-runs produce genuine
    //   repeated lines. —
    // c33 oracle: the same (doc, line) multiplicity grain, HUGEINT for
    // the ×10⁶ duplicated-character floor
    Query("c33_repetition_signals", ((s, dir) =>
      repetitionSignalsOf(docsGopher(s, dir))), Some(Oracle.sqlWith(
      s"""$docsGopherSql,
         |lg33 AS (SELECT doc_id, l AS line
         |         FROM (SELECT doc_id, unnest($gopherLinesSql) AS l
         |               FROM docs_gopher)),
         |lm33 AS (SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS m,
         |                CAST(length(line) AS BIGINT) AS len
         |         FROM lg33 GROUP BY doc_id, line)""".stripMargin,
      """SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_lines,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
        |       CAST(COALESCE(SUM(CASE WHEN m > 1 THEN m END), 0)
        |            AS BIGINT) AS n_dup_lines,
        |       CAST(MAX(m) AS BIGINT) AS max_mult,
        |       CAST((1000000 * CAST(COALESCE(SUM(CASE WHEN m > 1
        |                 THEN m * len END), 0) AS HUGEINT))
        |            // CAST(SUM(m * len) AS HUGEINT) AS BIGINT)
        |         AS dup_char_frac_e6
        |FROM lm33 GROUP BY doc_id ORDER BY doc_id""".stripMargin))),
    // — DSIR importance reweighting (c34; Xie et al. NeurIPS'23 "Data
    //   Selection for Language Models via Importance Resampling"):
    //   score every raw doc by log(p̂_target/p̂_raw) under hashed-bigram
    //   bag-of-ngrams models — the standard curation primitive for
    //   steering a crawl toward a target distribution, the gap the
    //   c-family had next to mixing/budget (c4/c16/c29). Target here is
    //   the `lang = 'en'` slice; raw is the whole corpus. Features are
    //   x6's hashing trick over t16's bigram shingles (B=64 demo width;
    //   production uses 2^18 — either way NO vocabulary build, join, or
    //   broadcast that grows with the corpus); both models are add-1
    //   smoothed. Cross-engine exactness: each bucket's probability
    //   RATIO is quantized to e2 fixed point in pure integer arithmetic
    //   — r_e2 = ((ct+1)·(T_r+B)·100) div ((cr+1)·(T_t+B)), clamped to
    //   [0.10, 10.00]·100 (DSIR clips extreme importance weights
    //   anyway) — and the log comes from t26's pinned-ln table, so
    //   NEITHER engine ever evaluates log/exp:
    //   weight_e12 = Σ_b c_b·(ln_e12(r_e2_b) − ln_e12(100)). Shape at
    //   100 TB: one tokenize+explode scan → one (doc_id, bucket)
    //   partial-agg exchange (exactly x6's plan); the bucket-stat table
    //   is O(B) rows and the totals a 1-row agg — both broadcasts
    //   (whitelisted scalar class), so the corpus text crosses exactly
    //   one exchange. The r_e2 product stays < 2⁶³ through ~10¹⁴
    //   bigrams per side, and past that BOTH engines raise (ANSI
    //   overflow / HUGEINT→BIGINT cast) rather than wrap. —
    // c34 oracle: t16's bigram CTE + x6's affine-over-byte-fold bucket
    // (ASCII fixture: bytes == code points), integer e2 ratio clamped
    // to [10, 1000], log-ratio from the SAME pinned ln table as t26
    Query("c34_dsir_reweight", ((s, dir) => dsirReweightOf(s, docs(s, dir))), Some({
      val (ha, hb) = HashCoeffs.coeffs(1, DsirSeed).head
      Oracle.sqlWith(
        s"""bg34 AS (
           |  SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
           |      ELSE [array_to_string(w, ' ')] END) AS bigram
           |  FROM (SELECT doc_id, lang, $tokensSql AS w FROM documents)),
           |hb34 AS (SELECT doc_id, lang,
           |    (($ha * list_reduce(list_prepend(CAST(0 AS BIGINT),
           |        list_transform(range(length(bigram)),
           |          i -> CAST(unicode(substring(bigram, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
           |        (h, c) -> (h * 131 + c) % ${HashCoeffs.P})
           |      + $hb) % ${HashCoeffs.P}) % $DsirBuckets AS bucket
           |  FROM bg34),
           |db34 AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
           |         FROM hb34 GROUP BY 1, 2),
           |bs34 AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr,
           |                CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
           |                     AS BIGINT) AS ct
           |         FROM hb34 GROUP BY 1),
           |tot34 AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr,
           |                 CAST(SUM(ct) AS BIGINT) AS tt FROM bs34),
           |lnt34 AS (SELECT * FROM (VALUES $lnValuesSql) t(i, ln_e12)),
           |lr34 AS (SELECT bucket, l.ln_e12 - ${lnE12(100 - 1)} AS lr_e12
           |         FROM (SELECT bucket,
           |                 LEAST(GREATEST(CAST(((ct + 1) * (tr + $DsirBuckets) * 100)
           |                     // ((cr + 1) * (tt + $DsirBuckets)) AS BIGINT),
           |                   10), 1000) AS r_e2
           |               FROM bs34, tot34) x
           |         JOIN lnt34 l ON l.i = x.r_e2)""".stripMargin,
        """SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
          |       CAST(SUM(d.c * l.lr_e12) AS BIGINT) AS weight_e12
          |FROM db34 d JOIN lr34 l ON l.bucket = d.bucket
          |GROUP BY 1 ORDER BY doc_id""".stripMargin)
    })))
}
