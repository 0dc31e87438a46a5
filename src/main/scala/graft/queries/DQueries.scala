package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, DocFixtures, HashCoeffs, IvfCentroids, MinHashLSH, SemanticDedup,
  SimHash, Similarity, TextAnalysis}
import graft.ext.DocFixtures.{docs, docsDup}
import graft.ext.Vectors.dim
import graft.queries.Common.{docsDupSql, docsNearC, docsNearSql, duckAssign, duckBuckets,
  duckDot, ivfCentroidRows, jaccardCtes, nearCands, nearCands05,
  planeValues, shingleSql, tokensSql}

/** d*: deduplication — exact, n-gram Jaccard, MinHash/SimHash LSH,
  * embedding and semantic near-dup, edit-distance verify and dup
  * clusters. The driver corpus is clean (FIXTURES.md §3), so the fixtures
  * inject deterministic duplicates: every 10th document is copied or
  * copied minus its first word.
  */
object DQueries {

  /** Candidate pairs with both texts attached (id1, id2, jaccard, t1,
    * t2) — the verify family's shared input. The cached frame preserves
    * attachPairTexts' explicit-count pre-verify partitioning
    * (InMemoryRelation keeps its child's output partitioning), so each
    * consumer's O(len²) edit-distance stage still runs at the session's
    * parallelism.
    */
  private def nearPairTexts(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "nptexts", dir)(
      Dedup.attachPairTexts(nearCands(s, dir),
        docsNearC(s, dir).select("doc_id", "text")))

  /** documents ∪ leading-16-token snippets of every 10th doc
    * (id + 2,000,000) — the quote/extract fixture for containment dedup:
    * a snippet's shingles are a subset of its source's, so containment is
    * 1.0 while Jaccard is ≈ |snippet|/|doc| (tiny for long docs — the
    * pairs d2 structurally misses). Same derivation in the d9 oracle CTE.
    */
  private def docsSnippet(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        array_join(slice(TextAnalysis.tokens(col("text")), 1, 16), " ")
          .as("text")))
  }

  /** Test hook for the d9 fixture (ExtensionsSpec re-scores it with
    * Jaccard to pin the asymmetric-catch property).
    */
  private[graft] def docsSnippetFixture(s: SparkSession, dir: String): DataFrame =
    docsSnippet(s, dir)

  /** d8's per-cell representative-occupancy cap (shared with the
    * SketchSpec replay so query and test run the identical parameters):
    * safely above any observed fixture cell, so the gate-scale kept set
    * is unchanged, while bounding the pair space of a pathological cell
    * at larger corpora — see [[graft.ext.SemanticDedup]].
    */
  val D8MaxCell = 10000

  /** Polynomial rolling hash of a string column in DuckDB — mirrors
    * [[graft.functions.RollingHash.compute]] exactly for ASCII text
    * (bytes == code points); the same fold the t5 oracle uses.
    */
  private def duckRollingHash(c: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(length($c)),
       |    i -> CAST(unicode(substring($c, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
       |  (h, ch) -> (h * 131 + ch) % ${HashCoeffs.P})""".stripMargin

  /** d3 oracle: MinHash signatures recomputed in SQL with the SAME seeded
    * coefficients, candidates as "agree on all rows of ≥1 band" stated
    * directly as a join predicate (what banded bucketing computes), exact
    * same estimate arithmetic. Brute-force pair space is fine at oracle
    * scale; the Spark side is the one that must stay sub-quadratic.
    */
  private def minhashOracle: String = {
    val P = HashCoeffs.P
    val cs = HashCoeffs.coeffs(32, MinHashLSH.PermSeed)
    val mins = cs.zipWithIndex.map { case ((a, b), p) =>
      s"MIN(($a * h + $b) % $P) AS m$p"
    }.mkString(",\n                ")
    val bandCond = (0 until 8).map { bnd =>
      (bnd * 4 until bnd * 4 + 4).map(p => s"a.m$p = b.m$p")
        .mkString("(", " AND ", ")")
    }.mkString("\n                   OR ")
    val eqSum = (0 until 32)
      .map(p => s"CASE WHEN a.m$p = b.m$p THEN 1 ELSE 0 END")
      .mkString("\n                  + ")
    Oracle.sqlWith(
      s"""${docsNearSql},
         |${shingleSql},
         |shh AS (SELECT doc_id, ${duckRollingHash("sh")} AS h FROM shing),
         |sigs AS (SELECT doc_id,
         |                $mins
         |         FROM shh GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |                CAST($eqSum AS DOUBLE) / 32 AS est_jaccard
         |         FROM sigs a JOIN sigs b
         |           ON a.doc_id < b.doc_id
         |          AND ($bandCond))""".stripMargin,
      """SELECT id1, id2, est_jaccard FROM cand
        |WHERE est_jaccard >= 0.5 ORDER BY id1, id2""".stripMargin)
  }

  /** d4 oracle: SimHash bit votes recomputed in SQL with the SAME seeded
    * coefficients; pairs scored brute-force (the 4×16 block trick is EXACT
    * for Hamming ≤ 3, so the Spark candidate structure needs no mirroring)
    * with Hamming distance as a sum of per-bit sign disagreements — no
    * 64-bit shifts needed SQL-side.
    */
  private def simhashOracle: String = {
    val P = HashCoeffs.P
    val cs = HashCoeffs.coeffs(SimHash.bits, SimHash.BitSeed)
    val votes = cs.zipWithIndex.map { case ((a, b), k) =>
      s"SUM(CASE WHEN ($a * h + $b) % $P <= ${HashCoeffs.Half} THEN 1 ELSE -1 END) AS v$k"
    }.mkString(",\n                 ")
    val ham = (0 until SimHash.bits)
      .map(k => s"CASE WHEN (a.v$k >= 0) != (b.v$k >= 0) THEN 1 ELSE 0 END")
      .mkString("\n               + ")
    Oracle.sqlWith(
      s"""${docsNearSql},
         |tokh AS (SELECT doc_id, ${duckRollingHash("tok")} AS h
         |         FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM docs_near)),
         |votes AS (SELECT doc_id,
         |                 $votes
         |          FROM tokh GROUP BY doc_id),
         |ham AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |               CAST($ham AS BIGINT) AS hamming
         |        FROM votes a JOIN votes b ON a.doc_id < b.doc_id)""".stripMargin,
      """SELECT id1, id2, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin)
  }

  val all: Seq[Query] = Seq(
    // — dedup —
    Query("d1_dedup_exact", ((s, dir) =>
      Dedup.exact(docsDup(s, dir)).orderBy("doc_id")), Some(Oracle.sqlWith(docsDupSql,
      """SELECT doc_id
        |FROM (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM docs_dup)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin))),
    Query("d2_ngram_jaccard", ((s, dir) =>
      // dfMax guards the shingle self-join against hot shingles; at this
      // corpus's max df (≈5) the cap is provably a no-op — the unchanged
      // oracle verifies that — while exercising the at-scale code path.
      // τ=0.5 as a filter over the shared τ=0 candidate cache is the
      // same trailing filter ngramJaccardPairs(threshold=0.5) plants.
      nearCands(s, dir).filter(col("jaccard") >= 0.5)
        .orderBy("id1", "id2")), Some(Oracle.sqlWith(jaccardCtes(0.5),
      """SELECT id1, id2, jaccard FROM jacc_pairs ORDER BY id1, id2""".stripMargin))),
    // — sketch near-dup —
    Query("d3_minhash_lsh", ((s, dir) =>
      MinHashLSH.nearDupPairs(DocFixtures.docsNear(s, dir))
        .orderBy("id1", "id2")), Some(minhashOracle)),
    Query("d4_simhash", ((s, dir) =>
      SimHash.nearDupPairs(DocFixtures.docsNear(s, dir))
        .orderBy("id1", "id2")), Some(simhashOracle)),
    // d5 oracle: the seeded 12-plane bucket replay over the dup-injected
    // corpus (s5's embdup CTE), within-bucket ordered pairs, the same
    // fold-dot cosine against the same literal threshold.
    Query("d5_embedding_dup", ((s, dir) =>
      Similarity.embeddingDupPairs(DocFixtures.embDup(s, dir),
        threshold = 0.999, numPlanes = 12, dim = dim)
        .orderBy("id1", "id2")), Some({
      def cosAB =
        s"""${duckDot("a.embedding", "b.embedding")}
           |         / (sqrt(${duckDot("a.embedding", "a.embedding")})
           |            * sqrt(${duckDot("b.embedding", "b.embedding")}))""".stripMargin
      Oracle.sqlWith(
        s"""embdup AS (SELECT vec_id, embedding FROM embeddings
           |           UNION ALL
           |           SELECT vec_id + 100000, embedding FROM embeddings
           |           WHERE vec_id % 10 = 0),
           |pl AS (SELECT * FROM (VALUES ${planeValues(12)}) t(w, p)),
           |${duckBuckets("bk5", "embdup")}""".stripMargin,
        s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
           |       $cosAB AS cosine
           |FROM bk5 a JOIN bk5 b
           |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
           |WHERE $cosAB >= 0.999
           |ORDER BY id1, id2""".stripMargin)
    })),
    Query("d6_dedup_clusters", ((s, dir) =>
      graft.ext.Clusters.connectedComponents(nearCands05(s, dir))
        .orderBy("id")), Some(Oracle.sqlRecursive(
      s"""${jaccardCtes(0.5)},
         |edges AS (SELECT id1 AS a, id2 AS b FROM jacc_pairs
         |          UNION ALL SELECT id2, id1 FROM jacc_pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)""".stripMargin,
      """SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin))),
    // — incremental-ingestion dedup: a new batch lands against an already
    //   deduped corpus — drop batch docs whose content fingerprint exists
    //   in the corpus (anti-join on the md5 of normalized text), then
    //   exact-dedup within the batch (first doc_id wins). Fixture: docs
    //   with id < 400 are the standing corpus; the batch is the rest plus
    //   re-ingested copies of every 20th corpus doc (the dupes the
    //   anti-join must catch). At scale both sides hash-shuffle on the
    //   fingerprint only — no text moves; the corpus side is a slim
    //   (fingerprint) index you'd keep materialized between ingests. —
    Query("d7_incremental_dedup", ((s, dir) => {
      val all = docs(s, dir).select("doc_id", "text")
      val corpus = all.filter(col("doc_id") < 400)
      val batch = all.filter(col("doc_id") >= 400)
        .unionAll(corpus.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val fp = md5(TextAnalysis.normalized(col("text")))
      val corpusFp = corpus.select(fp.as("fingerprint")).distinct()
      val w = Window.partitionBy("fingerprint").orderBy("doc_id")
      batch.select(col("doc_id"), fp.as("fingerprint"))
        .join(corpusFp, Seq("fingerprint"), "left_anti")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    }), Some(Oracle.sqlWith(
      """corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |          UNION ALL
        |          SELECT doc_id + 2000000, text FROM documents
        |          WHERE doc_id < 400 AND doc_id % 20 = 0),
        |cfp AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint FROM corpus),
        |bfp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint FROM batch)""".stripMargin,
      """SELECT doc_id, fingerprint
        |FROM (SELECT doc_id, fingerprint,
        |        ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        |      FROM bfp WHERE fingerprint NOT IN (SELECT fingerprint FROM cfp))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin))),
    // SemDeDup-style cluster-bucketed semantic dedup: d5 FINDS near-
    // identical pairs via sign-LSH; this RESOLVES them (plus merely
    // semantically-close vectors at tau = 0.97) to a kept corpus, with
    // the k-means cell as the blocking key — the pair space is Σ|cell|²,
    // never n², with the exact-value collapse + D8MaxCell occupancy cap
    // bounding the pathological jumbo cell (SemanticDedup scaladoc).
    // Since r14 the registry entry serves from the PINNED quantizer
    // (ext/IvfCentroids.EmbDup, the s4/v5 artifact device), so the
    // keep-set is hash-ORACLED: DuckDB replays assignment → exact-value
    // collapse → within-cell pair cosine → keep-first flags. (The
    // occupancy-cap refine is provably a no-op whenever corpus rows ≤
    // D8MaxCell — true at every sweep scale — so the oracle needs no
    // sub-split model.) Per-corpus training stays first-class
    // (SemanticDedup.flagged); SketchSpec replays ITS flags brute-force
    // within returned cells, pins recall 1.0 on the injected copies at
    // sf0.01 AND sf0.1, and pins the cap's pair-space bound on an
    // injected jumbo cell.
    // d8 oracle: the pinned quantizer replays the SemDeDup keep-set —
    // assignment over the dup-injected corpus, the exact-value collapse
    // (min-id representative per (cell, value, zero-norm-singleton key)),
    // the within-cell ordered rep pairs against the same fold-dot cosine
    // threshold, and kept = representatives with no lower-id witness.
    // The occupancy-cap refine needs no model here: it is a no-op
    // whenever corpus rows ≤ maxCell (10k), which holds at every sweep
    // scale.
    Query("d8_semantic_dedup", ((s, dir) =>
      SemanticDedup.dedupPinned(DocFixtures.embDup(s, dir),
          IvfCentroids.EmbDup, tau = 0.97, maxCell = D8MaxCell)
        .orderBy("vec_id")), Some({
      def cosXY =
        s"""${duckDot("x.embedding", "y.embedding")}
           |            / (sqrt(${duckDot("x.embedding", "x.embedding")})
           |               * sqrt(${duckDot("y.embedding", "y.embedding")}))""".stripMargin
      Oracle.sqlWith(
        s"""embdup AS (SELECT vec_id, embedding FROM embeddings
           |           UNION ALL
           |           SELECT vec_id + 100000, embedding FROM embeddings
           |           WHERE vec_id % 10 = 0),
           |cb8 AS (SELECT * FROM (VALUES ${ivfCentroidRows(IvfCentroids.EmbDup)}) t(cell, c)),
           |${duckAssign("asg8", "embdup", "cb8")},
           |g8 AS (SELECT cell, embedding, MIN(vec_id) AS rep_id
           |       FROM (SELECT vec_id, cell, embedding,
           |                    CASE WHEN len(list_filter(embedding,
           |                           x -> x <> 0)) > 0
           |                         THEN CAST(0 AS BIGINT)
           |                         ELSE vec_id END AS sk
           |             FROM asg8)
           |       GROUP BY cell, embedding, sk),
           |dup8 AS (SELECT DISTINCT x.rep_id
           |         FROM g8 x JOIN g8 y
           |           ON x.cell = y.cell AND x.rep_id > y.rep_id
           |         WHERE $cosXY >= 0.97)""".stripMargin,
        """SELECT rep_id AS vec_id FROM g8
          |WHERE rep_id NOT IN (SELECT rep_id FROM dup8)
          |ORDER BY vec_id""".stripMargin)
    })),
    // — asymmetric containment dedup (the quote/snippet case): a doc
    //   whose shingles are ⊆ another's has containment 1.0 but Jaccard
    //   ≈ |snippet|/|doc| — d2's symmetric score structurally misses it
    //   however perfect the inclusion. Same df-capped inverted index and
    //   the SAME one pair join as d2 (both directions emitted by one
    //   narrow two-struct explode — no extra shuffle, no subtree
    //   recompute), so the scale
    //   story is d2's probed-linear curve verbatim. τ = 0.8. —
    // d9 oracle: the same inverted-index pair pipeline over the snippet
    // fixture, scored per DIRECTION with the inner set as denominator
    Query("d9_containment", ((s, dir) =>
      Dedup.containmentPairs(docsSnippet(s, dir), n = 7, threshold = 0.8,
        dfMax = Some(1000))
        .orderBy("inner_id", "outer_id")), Some(Oracle.sqlWith(
      s"""docs_snip AS (SELECT doc_id, text FROM documents
         |              UNION ALL
         |              SELECT doc_id + 2000000 AS doc_id,
         |                     array_to_string(list_slice($tokensSql, 1, 16), ' ') AS text
         |              FROM documents WHERE doc_id % 10 = 0),
         |shing9 AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
         |    THEN list_transform(range(len(w) - 6),
         |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         |    ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, $tokensSql AS w FROM docs_snip))),
         |sizes9 AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing9 GROUP BY doc_id),
         |inter9 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
         |           FROM shing9 a JOIN shing9 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |cont9 AS (SELECT id1 AS inner_id, id2 AS outer_id,
         |                 CAST(inter AS DOUBLE) / s1.n_sh AS containment
         |          FROM inter9 JOIN sizes9 s1 ON inter9.id1 = s1.doc_id
         |          UNION ALL
         |          SELECT id2, id1, CAST(inter AS DOUBLE) / s2.n_sh
         |          FROM inter9 JOIN sizes9 s2 ON inter9.id2 = s2.doc_id)""".stripMargin,
      """SELECT inner_id, outer_id, containment FROM cont9
        |WHERE containment >= 0.8 ORDER BY inner_id, outer_id""".stripMargin))),
    // — span-level dedup (keep-first): the C4/FineWeb "all but one
    //   occurrence of any repeated aligned span is deleted" rule. On the
    //   dup-injected fixture the copies (id ≥ 1,000,000) empty out while
    //   every original survives intact — the keep-first contrast with
    //   c18's remove-everywhere boilerplate policy (df of a copied span
    //   is 2, below c18's minDf=3: c18 would not touch this corpus). —
    // d10 oracle: keep-first span dedup replayed with a window — the
    // first (doc_id, seg_no) occurrence of every aligned 8-token segment
    // survives, later occurrences are deleted, survivors reassemble in
    // seg_no order (same aligned segmentation as the c18 oracle)
    Query("d10_span_dedup", ((s, dir) =>
      Dedup.spanDedup(docsDup(s, dir)).orderBy("doc_id")), Some(Oracle.sqlWith(
      s"""$docsDupSql,
         |toks10 AS (SELECT doc_id, $tokensSql AS w FROM docs_dup),
         |segs10 AS (SELECT doc_id, i AS seg_no,
         |                  array_to_string(w[i*8+1 : i*8+8], ' ') AS seg
         |           FROM (SELECT doc_id, w, unnest(range((len(w)+7)//8)) AS i
         |                 FROM toks10)),
         |ranked10 AS (SELECT doc_id, seg_no, seg,
         |                    ROW_NUMBER() OVER (PARTITION BY seg
         |                                       ORDER BY doc_id, seg_no) AS rn
         |             FROM segs10),
         |rebuilt10 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |                     string_agg(seg, ' ' ORDER BY seg_no) AS txt
         |              FROM ranked10 WHERE rn = 1 GROUP BY doc_id)""".stripMargin,
      """SELECT t.doc_id, CAST((len(t.w)+7)//8 AS BIGINT) AS n_segs,
        |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |       COALESCE(r.txt, '') AS cleaned_text
        |FROM toks10 t LEFT JOIN rebuilt10 r USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin))),
    // — edit-distance VERIFICATION of the candidate pairs (the second
    //   stage real near-dup pipelines bolt onto any recall-oriented
    //   candidate generator): every pair sharing ≥1 indexed 7-gram
    //   (d2's machinery at τ=0 — still near-linear, the index bounds
    //   the pair space, never the shingle-score threshold) is re-scored
    //   by character-level Levenshtein, sim = 1 − lev/max(len). Jaccard
    //   over 7-gram SETS is blind to within-shingle edits and ordering;
    //   the edit verifier is the precision gate. Texts join back onto
    //   the candidate table by id — the pair table is the SMALL side at
    //   any scale (near-linear in docs), so text moves once per
    //   candidate, never pairwise. The O(len²) DP is per-pair bounded:
    //   cap text length upstream (these docs are ~250 chars; a 100 TB
    //   corpus verifies on a fixed-length prefix or banded DP — Spark's
    //   3-arg levenshtein(l, r, threshold) caps the band the same
    //   way). —
    // d11 oracle: d2's candidate pipeline at τ=0, re-scored by levenshtein
    // (both engines implement plain character-level Wagner–Fischer)
    Query("d11_edit_verify", ((s, dir) => {
      // ONE materialization of the derived fixture (the d14/b15 multi-
      // consumer-spine lesson, measured here in r17: the index pipeline
      // and BOTH text joins each re-ran the union/regex derivation —
      // the two broadcast builds alone were ~1.5 s of the query's 4.6 s),
      // and ONE touch of the text relation for both pair sides
      // (Dedup.attachPairTexts — r17 task 4: the two per-side joins each
      // built their own single-task text broadcast, reuse never fired)
      nearPairTexts(s, dir)
        // ONE Wagner–Fischer DP per pair: lev lands in its own project
        // and edit_sim derives from the column (CollapseProject keeps a
        // non-cheap, multiply-referenced expression un-inlined — the
        // Dedup.shingles device)
        .select(col("id1"), col("id2"), col("jaccard"),
          levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
          greatest(length(col("t1")), length(col("t2"))).cast("double")
            .as("maxlen"))
        .select(col("id1"), col("id2"), col("jaccard"), col("lev"),
          (lit(1.0) - col("lev").cast("double") / col("maxlen"))
            .as("edit_sim"))
        .filter(col("edit_sim") >= 0.8)
        .orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""${jaccardCtes(0.0)},
         |lev11 AS (SELECT p.id1, p.id2, p.jaccard,
         |            CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |            CAST(GREATEST(length(a.text), length(b.text)) AS DOUBLE)
         |              AS maxlen
         |          FROM jacc_pairs p
         |          JOIN docs_near a ON p.id1 = a.doc_id
         |          JOIN docs_near b ON p.id2 = b.doc_id),
         |verified AS (SELECT id1, id2, jaccard, lev,
         |               1.0 - CAST(lev AS DOUBLE) / maxlen AS edit_sim
         |             FROM lev11)""".stripMargin,
      """SELECT id1, id2, jaccard, lev, edit_sim FROM verified
        |WHERE edit_sim >= 0.8 ORDER BY id1, id2""".stripMargin))),
    // — d11's PRODUCTION verify leg (r16 verdict task 5): identical
    //   survivor set, banded DP. At sim ≥ 0.8 the predicate implies
    //   lev ≤ 0.2·maxlen, so the verifier computes the per-pair band
    //   k = floor(0.2·maxlen)+1 (the +1 absorbs the double-rounding of
    //   0.2·maxlen, so every pair the d11 double filter accepts is
    //   provably inside the band) and runs Spark's banded 3-arg
    //   levenshtein — O(k·min len) cells with early exit instead of the
    //   full O(len²) Wagner–Fischer table per candidate. The threshold
    //   is a PER-ROW column (the d12 rule machinery correctly skips
    //   non-foldable bounds; the 3-arg SQL form accepts them — probed),
    //   and pairs outside the band return −1 and drop at the gate.
    //   Plan discipline (measured, first cut): deriving the output
    //   columns from ONE banded lev column let filter-pushdown and
    //   projection-collapse CLONE the DP three times — slower than the
    //   un-banded d11. The shipped shape runs the banded DP exactly
    //   once per candidate inside a FILTER (nothing to inline), then
    //   recomputes the EXACT 2-arg distance only for band survivors
    //   (≈ the final survivor count — the cheap side), so the final
    //   filter is d11's double expression verbatim: same rows, same
    //   hash, ~len/k× fewer DP cells on the dominant non-duplicate
    //   candidate mass. Oracle = d11's naive replay, proving the band
    //   semantics-preserving; RuleSpec pins row-equality with d11 and
    //   the per-row 3-arg call in the plan. —
    // d11b oracle: d11's naive un-banded replay VERBATIM — equal rows prove the
    // per-pair band (floor(0.2·maxlen)+1 threshold + exact-distance
    // survivors) is semantics-preserving
    Query("d11b_edit_verify_banded", ((s, dir) => {
      nearPairTexts(s, dir)
        .select(col("id1"), col("id2"), col("jaccard"), col("t1"), col("t2"),
          greatest(length(col("t1")), length(col("t2"))).as("maxlen_i"))
        .withColumn("kband",
          (floor(col("maxlen_i").cast("double") * 0.2) + 1L).cast("int"))
        // the band gate: ONE O(k·min len) DP per candidate, −1 → drop
        .filter(expr("levenshtein(t1, t2, kband)") >= 0)
        // exact distance for band survivors only (few at any scale)
        .select(col("id1"), col("id2"), col("jaccard"),
          levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
          col("maxlen_i").cast("double").as("maxlen"))
        .select(col("id1"), col("id2"), col("jaccard"), col("lev"),
          (lit(1.0) - col("lev").cast("double") / col("maxlen"))
            .as("edit_sim"))
        .filter(col("edit_sim") >= 0.8)
        .orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""${jaccardCtes(0.0)},
         |lev11b AS (SELECT p.id1, p.id2, p.jaccard,
         |             CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |             CAST(GREATEST(length(a.text), length(b.text)) AS DOUBLE)
         |               AS maxlen
         |           FROM jacc_pairs p
         |           JOIN docs_near a ON p.id1 = a.doc_id
         |           JOIN docs_near b ON p.id2 = b.doc_id),
         |verified11b AS (SELECT id1, id2, jaccard, lev,
         |                  1.0 - CAST(lev AS DOUBLE) / maxlen AS edit_sim
         |                FROM lev11b)""".stripMargin,
      """SELECT id1, id2, jaccard, lev, edit_sim FROM verified11b
        |WHERE edit_sim >= 0.8 ORDER BY id1, id2""".stripMargin))),
    // — d11's FIXED-BUDGET form (short-field dedup — titles, names,
    //   addresses — where the edit budget is absolute, not
    //   length-relative): candidates within levenshtein ≤ 30. Written in
    //   the NAIVE 2-arg predicate form on purpose: the injected
    //   [[graft.plans.BandedLevenshteinRule]] rewrites it to Spark's
    //   banded 3-arg levenshtein — O(k·min len) cells with early exit
    //   instead of the full O(len²) table per candidate — so the user
    //   writes the obvious predicate and the optimizer pays the banded
    //   cost (RuleSpec plan-asserts the threshold lands in THIS query's
    //   optimized plan; the DuckDB oracle states the same naive
    //   predicate, proving the rewrite semantics-preserving). —
    // d12 oracle: the same naive 2-arg predicate DuckDB runs un-banded — equal
    // rows prove the banded rewrite preserves semantics
    Query("d12_edit_prefilter", ((s, dir) =>
      nearPairTexts(s, dir)
        .filter(levenshtein(col("t1"), col("t2")) <= 30)
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy("id1", "id2")), Some(Oracle.sqlWith(
      s"""${jaccardCtes(0.0)}""".stripMargin,
      """SELECT p.id1, p.id2, p.jaccard
        |FROM jacc_pairs p
        |JOIN docs_near a ON p.id1 = a.doc_id
        |JOIN docs_near b ON p.id2 = b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 30
        |ORDER BY p.id1, p.id2""".stripMargin))),
    // — TF-cosine verification of near-dup candidates (d13): d11's
    //   candidates-then-verify shape with a vector-space score — each
    //   d2 shingle-index candidate (τ = 0: any shared 7-gram) is
    //   re-scored by the cosine of the two raw TERM-FREQUENCY vectors,
    //   a distribution similarity robust to the local edits that crater
    //   set-Jaccard (a dropped word kills up to 7 shingles but moves
    //   one tf count by one). Blocking key choice is forced by data
    //   shape, and this fixture makes the lesson concrete: the corpus
    //   vocabulary is 31 tokens with min df = 28, so a rare-TERM
    //   inverted index (the classic sparse-cosine blocking) generates
    //   ZERO candidates — diversity lives in the 7-gram sequence
    //   space, so the shingle index is the blocking key and the df cap
    //   there is what keeps candidates linear at 100 TB. The dot
    //   product is then EXACT over ALL shared terms of each candidate
    //   (integer tf products — blocking bounds recall, never the
    //   score). cos = dot/(√n1·√n2) from exact longs through a
    //   single-rounding IEEE tree on both engines (the a26 sqrt
    //   device) → hash-exact doubles. τ = 0.8. —
    // d13 oracle: candidates are d2's τ=0 shingle pairs; cos re-stated with the
    // identical single-rounding IEEE tree — exact-long dot/norms, one
    // division, two sqrts, one multiply
    Query("d13_tf_cosine", ((s, dir) => {
      val d = docsNearC(s, dir)
      val cand = nearCands(s, dir).select("id1", "id2")
      // localCheckpoint (r19): tf feeds FOUR consumers — the id1/id2 dot
      // sides and both norms joins — and without it the whole
      // tokenize+explode+aggregate subtree re-executed per reference
      // (the r18 before-plan shows the Generate-over-docs chain four
      // times, no exchange reuse). The materialized table is the
      // per-doc term-frequency index — vocabulary-bounded per doc, the
      // thing a 100 TB corpus build persists once anyway.
      val tf = d
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val norms = tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nrm"))
      val dots = cand
        .join(tf.select(col("doc_id").as("id1"), col("tok"),
          col("tf").as("tf1")), Seq("id1"))
        .join(tf.select(col("doc_id").as("id2"), col("tok"),
          col("tf").as("tf2")), Seq("id2", "tok"))
        .groupBy("id1", "id2").agg(sum(col("tf1") * col("tf2")).as("dot"))
      val cosExpr = col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
      dots
        .join(norms.select(col("doc_id").as("id1"), col("nrm").as("na")), "id1")
        .join(norms.select(col("doc_id").as("id2"), col("nrm").as("nb")), "id2")
        .select(col("id1"), col("id2"), col("dot"), cosExpr.as("cos_sim"))
        .filter(col("cos_sim") >= 0.8)
        .orderBy("id1", "id2")
    }), Some(Oracle.sqlWith(
      s"""${jaccardCtes(0.0)},
         |tf13 AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |         FROM (SELECT doc_id, unnest($tokensSql) AS tok FROM docs_near)
         |         GROUP BY doc_id, tok),
         |n13 AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm
         |        FROM tf13 GROUP BY doc_id),
         |dots13 AS (SELECT c.id1, c.id2, CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
         |           FROM jacc_pairs c
         |           JOIN tf13 x ON x.doc_id = c.id1
         |           JOIN tf13 y ON y.doc_id = c.id2 AND y.tok = x.tok
         |           GROUP BY c.id1, c.id2)""".stripMargin,
      """SELECT id1, id2, dot,
        |       CAST(dot AS DOUBLE)
        |         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
        |         AS cos_sim
        |FROM dots13
        |JOIN n13 na ON na.doc_id = id1
        |JOIN n13 nb ON nb.doc_id = id2
        |WHERE CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.8
        |ORDER BY id1, id2""".stripMargin))),
    // — duplicate-cluster census (d14): the decision table a dedup run
    //   is FOR — how much of the corpus is duplicated, at what
    //   multiplicity (C4/FineWeb report exactly this before choosing a
    //   keep policy). d6's components, singletons restored by a left
    //   join (a doc in no near-dup pair is its own cluster of 1), then
    //   two bounded aggregates: cluster → size, size → (n_clusters,
    //   n_docs, share_e6). All corpus-sized work is d2+d6's probed
    //   machinery; the census rows are ≤ max-multiplicity, the share
    //   an exact 10⁶ floor on positives (no w16 sign hazard). —
    // d14 oracle: d6's recursive-CTE cluster map, singletons restored by
    // the same left join, then the two census aggregates; share as the
    // same positive 10⁶ floor division
    Query("d14_dup_census", ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      // ONE materialization of the derived fixture (r15 ADVICE), now
      // through the family cache: the doc-list consumer rides docsNearC
      // and the pair pipeline rides d6's shared τ=0.5 list
      val d = docsNearC(s, dir).select("doc_id")
      val cl = graft.ext.Clusters.connectedComponents(nearCands05(s, dir))
      val sizes = d.join(cl, d("doc_id") === cl("id"), "left")
        .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      val tot = d.agg(count(lit(1)).as("total"))
      sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          expr("cast((1000000 * cast(cluster_size * n_clusters as " +
            "decimal(38,0))) div total as long)").as("share_e6"))
        .orderBy("cluster_size")
    }), Some(Oracle.sqlRecursive(
      s"""${jaccardCtes(0.5)},
         |edges14 AS (SELECT id1 AS a, id2 AS b FROM jacc_pairs
         |            UNION ALL SELECT id2, id1 FROM jacc_pairs),
         |reach14(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges14
         |  UNION
         |  SELECT e.b, reach14.r FROM reach14 JOIN edges14 e
         |    ON e.a = reach14.id),
         |cl14 AS (SELECT id, MIN(r) AS cluster FROM reach14 GROUP BY id),
         |sz14 AS (SELECT COALESCE(c.cluster, d.doc_id) AS cluster,
         |                CAST(COUNT(*) AS BIGINT) AS cluster_size
         |         FROM docs_near d LEFT JOIN cl14 c ON d.doc_id = c.id
         |         GROUP BY 1),
         |tt14 AS (SELECT CAST(COUNT(*) AS BIGINT) AS total
         |         FROM docs_near)""".stripMargin,
      """SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
        |       CAST((1000000 * CAST(cluster_size * COUNT(*) AS HUGEINT))
        |         // t.total AS BIGINT) AS share_e6
        |FROM sz14, tt14 t GROUP BY cluster_size, t.total
        |ORDER BY cluster_size""".stripMargin))))
}
