package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.etl.Pipelines.cleanSales
import graft.ext.{Dedup, PqCodebook, Similarity, TextAnalysis}
import graft.ext.Corpus.{LnCap, lnE12}
import graft.ext.DocFixtures.{docs, docsNear}
import graft.ext.Vectors.dim

/** Fixtures, constants and DuckDB CTE strings that two or more query
  * families read. Family objects import from here and from `graft.ext`,
  * never from one another, so no family's initialization waits on
  * another's.
  */
object Common {

  /** Product-level roll-up shared by a5/w1/o1/o2. */
  private[graft] def productAgg(s: SparkSession, dir: String): DataFrame =
    cleanSales(s, dir)
      .groupBy("product_id", "product_name")
      .agg(sum("quantity").cast("long").as("total_sold"),
        sum("total_price").cast("double").as("total_revenue"))

  private[graft] val productAggSql =
    """SELECT product_id, product_name,
      |       CAST(SUM(quantity) AS BIGINT) AS total_sold,
      |       CAST(SUM(total_price) AS DOUBLE) AS total_revenue
      |FROM clean_sales GROUP BY product_id, product_name""".stripMargin

  /** b2b's per-step conversion deadline: 10 days in microseconds. Chosen
    * against the thinned fixture so the bound BINDS without emptying the
    * funnel (88→24→6 at sf0.01 vs unbounded 88→44→10).
    */
  private[graft] val FunnelWindowUs = 240L * 3600L * 1000000L

  /** x8's SCD2 version table, shared with its point-in-time consumer
    * j10: per-customer order-priority versions with half-open
    * [valid_from, valid_to) validity (NULL valid_to = current). See the
    * x8 registry comment for the one-exchange window-fusion argument.
    */
  private[graft] def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2HistoryOf(Tables.table(s, dir, "orders"))

  /** The same version derivation over an arbitrary orders frame.
    */
  private[graft] def scd2HistoryOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    orders
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        col("o_orderpriority").as("priority"))
      .withColumn("prev", lag("priority", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("priority"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead("d", 1).over(w))
      .select(col("o_custkey").as("custkey"), col("version"),
        col("priority"), col("d").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** The t21/c8b/c9b merge table: the PINNED artifact
    * (ext/BpeMerges.scala — BpeTrainer's exact output on the sf0.01
    * documents, regenerable via BpePinGen), the shipped-tokenizer
    * discipline: production pipelines train merges.txt once and ship it
    * to every encoder rather than re-fitting the tokenizer per query.
    * Pinning also makes the encode oracle-expressible (the v5/s6
    * codebook device): the rank-ordered rule replay unrolls into 20
    * per-rule list folds in DuckDB. Per-corpus training stays the
    * library path (t20 IS the trainer, and BpeSpec cross-checks both
    * trainers at two scales).
    */
  private[graft] def learnedMerges = graft.ext.BpeMerges.Default

  /** c6/c6b/c23's split of a corpus document: c2's md5 bucketing of
    * doc_id.
    */
  private[graft] def decontamSplit: Column =
    when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "28", "train")
      .when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "3c", "valid")
      .otherwise("test")

  /** c6/c6b/c23's split-tagged 7-gram index, (doc_id, split, sh: bigint),
    * read by both the eval- and the train-side consumers. The split is a
    * function of doc_id, so it is tagged onto the shared fingerprint
    * index row by row; a null doc_id belongs to no split.
    */
  private[graft] def decontamIndex(d: DataFrame): DataFrame =
    Dedup.fingerprints(Dedup.fingerprintIndex(d, 7))
      .filter(col("doc_id").isNotNull)
      .withColumn("split", decontamSplit)

  // The near-dup family's shared lineages, held in graft.Shared per
  // (session, dir) like the g* family's adjacency/pairCounts (r19). SEVEN
  // queries re-derived the same candidate machinery per rep:
  // d2/c19/d11/d11b/d12 all score the one df-capped 7-gram candidate-pair
  // table (their thresholds are post-filters on the identical jaccard
  // column), d11/d11b/d12 additionally attach the identical pair texts,
  // and d6/d14 share the uncapped τ=0.5 pair list. A real corpus build
  // materializes the candidate table once and runs every verify/score
  // policy over it. Profiled at sf0.1: the candidate build was ~1.9 s of
  // d12's 2.3 s warm rep.

  /** [[graft.ext.DocFixtures.docsNear]], cached — replaces the per-query localCheckpoints of
    * the derived fixture (one materialization either way; the cache is
    * shared across the family instead of rebuilt per query).
    */
  private[graft] def docsNearC(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "dnear", dir)(docsNear(s, dir))

  /** The df-capped τ=0 scored candidate pairs (id1, id2, jaccard) —
    * d2/c19 filter it by their thresholds (ngramJaccardPairs applies the
    * threshold as exactly this trailing filter, so the rows are
    * bit-identical), d11/d11b/d12 consume it through `DQueries.nearPairTexts`.
    */
  private[graft] def nearCands(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "ncands", dir)(
      Dedup.ngramJaccardPairs(docsNearC(s, dir), n = 7, threshold = 0.0,
        dfMax = Some(1000)))

  /** d6/d14's shared pair list — τ=0.5, NO df cap (their declared form;
    * the cap stays a d2-family statement).
    */
  private[graft] def nearCands05(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "ncands05", dir)(
      Dedup.ngramJaccardPairs(docsNearC(s, dir), n = 7, threshold = 0.5))

  /** documents with deterministic LINE/SYMBOL structure injected for
    * the Gopher rule battery (t27/c33 — Rae et al. 2021 "Scaling
    * Language Models: Gopher", §A1): the driver corpus is single-line
    * symbol-free word soup (FIXTURES.md §3), so the line/bullet/
    * ellipsis/symbol/repetition rule branches would be untested no-ops
    * without it. Every 'line' token becomes a newline + bullet line,
    * every 'batch' token starts a fresh line (runs of 'batch' yield
    * REPEATED identical segments — real duplicate lines for c33),
    * every 7th doc gets a symbol/ellipsis tail, and every 3rd
    * (non-7th) doc gets four Gopher stop words (the synthetic
    * vocabulary carries only 'the' of the 8, so the stop-word floor
    * — and with it t27's keep=true branch — would otherwise be dead).
    * Plain (non-regex)
    * replace, identical left-to-right non-overlap semantics on both
    * engines; edge-adjacent newlines produce the same leading/trailing
    * empty tokens under Spark's split(-1) and DuckDB's
    * regexp_split_to_array (probed — both keep them). Same derivation
    * in the oracle CTE ([[docsGopherSql]]).
    */
  private[graft] def docsGopher(s: SparkSession, dir: String): DataFrame =
    gopherInject(docs(s, dir))

  /** The injection over an arbitrary (doc_id, text) frame.
    */
  private[graft] def gopherInject(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(gopherRep, lit(" # ## ...")))
        .when(col("doc_id") % 3 === 0,
          concat(gopherRep, lit(" and that have with")))
        .otherwise(gopherRep).as("text"))

  private[graft] def gopherRep =
    expr("""replace(replace(text, 'line', concat(chr(10), '- line')),
                    'batch', concat(chr(10), 'batch'))""")

  private[graft] val docsGopherSql =
    """docs_gopher AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN gr || ' # ## ...'
      |       WHEN doc_id % 3 = 0 THEN gr || ' and that have with'
      |       ELSE gr END AS text
      |  FROM (SELECT doc_id,
      |          replace(replace(text, 'line', chr(10) || '- line'),
      |                  'batch', chr(10) || 'batch') AS gr
      |        FROM documents))""".stripMargin

  /** The trimmed non-empty LINES of a text column — shared by t27/c33;
    * mirrored by [[gopherLinesSql]].
    */
  private[graft] def gopherLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")

  private[graft] val gopherLinesSql =
    "list_filter(list_transform(string_split(text, chr(10)), " +
      "l -> trim(l)), l -> l <> '')"

  /** events thinned to a deterministic ~1/16 sample (md5 first hex digit
    * of event_id = '0'): at the fixture's full density every user performs
    * every event type within the month, so funnel conversion and cohort
    * retention are degenerate (100 % at every stage/offset — verified at
    * sf0.01). The md5 gate is the repo's standard layout-independent
    * subsample (same device as the c2 split); identical derivation in the
    * oracle CTE ([[eventsThinSql]]).
    */
  private[graft] def eventsThin(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "0")

  private[graft] val eventsThinSql =
    """events_thin AS (SELECT * FROM events
      |                WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0')""".stripMargin

  private[graft] val docsDupSql =
    """docs_dup AS (SELECT doc_id, text FROM documents
      |             UNION ALL
      |             SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** The two injected short docs as a SQL row set — mirrors
    * [[graft.ext.DocFixtures.shortDocs]] exactly.
    */
  private[graft] val shortDocsSql =
    "SELECT CAST(3000001 AS BIGINT) AS doc_id, 'alpha beta' AS text " +
      "UNION ALL SELECT CAST(3000003 AS BIGINT), 'alpha'"

  private[graft] val docsNearSql =
    s"""docs_near AS (SELECT doc_id, text FROM documents
       |              UNION ALL
       |              SELECT doc_id + 1000000, regexp_replace(text, '^\\S+\\s+', '')
       |              FROM documents WHERE doc_id % 10 = 0
       |              UNION ALL
       |              $shortDocsSql)""".stripMargin

  /** t23/s9 core over an INJECTED (doc_id, text) frame.
    */
  private[graft] def bm25Top20Of(d: DataFrame): DataFrame = {
    val qTerms = Seq("scan", "join", "window")
    val toks = d
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfq = tf.filter(col("term").isin(qTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val stats = d.agg(count(lit(1)).as("nd"))
      .crossJoin(toks.agg(count(lit(1)).as("tt")))
    val scored = tf.filter(col("term").isin(qTerms: _*))
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("s",
        expr("""(cast(nd + 1 as double) / cast(df + 1 as double))
                * (cast(tf as double) * 2.2)
                / (cast(tf as double)
                   + 1.2 * (0.25 + 0.75 * (cast(dl as double)
                            * cast(nd as double) / cast(tt as double))))"""))
    scored.groupBy("doc_id")
      .agg(max(when(col("term") === "scan", col("s"))).as("s_scan"),
        max(when(col("term") === "join", col("s"))).as("s_join"),
        max(when(col("term") === "window", col("s"))).as("s_window"))
      .select(col("doc_id"), col("s_scan"), col("s_join"), col("s_window"),
        (coalesce(col("s_scan"), lit(0.0)) +
          coalesce(col("s_join"), lit(0.0)) +
          coalesce(col("s_window"), lit(0.0))).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  private[graft] val tokensSql = "regexp_split_to_array(lower(trim(text)), '\\s+')"

  /** t21/c8b/c9b's encode replay: the pinned 20-rule merge table
    * (ext/BpeMerges.scala) unrolled into one MATERIALIZED CTE per rule —
    * each a list fold applying that rule greedily left-to-right over the
    * word's symbol array, the exact [[graft.ext.BpeTrainer.applyMerge]]
    * semantics ("aaa" under (a,a) → [aa, a]: a merged symbol never
    * re-triggers as the LEFT of its own rule in one pass). Runs over the
    * DISTINCT-word vocabulary only (the Spark plan's own shape), then
    * joins counts back per doc. MATERIALIZED per layer keeps DuckDB from
    * inlining the chain into one 20-deep nested lambda (the g5/g10
    * unrolled-round lesson).
    */
  private[graft] def bpeEncodeCtes: String = {
    def esc(s: String) = s.replace("'", "''")
    val layers = graft.ext.BpeMerges.Default.zipWithIndex.map {
      case ((l, r, m), i) =>
        s"""bpe${i + 1} AS MATERIALIZED (SELECT word,
           |  list_reduce(
           |    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),
           |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = '${esc(l)}'
           |                      AND x[1] = '${esc(r)}'
           |                THEN list_append(acc[1:len(acc)-1], '${esc(m)}')
           |                ELSE list_concat(acc, x) END) AS syms
           |  FROM bpe$i)""".stripMargin
    }
    val n = graft.ext.BpeMerges.Default.length
    (Seq(
      s"""bpe_pw AS MATERIALIZED (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n_occ
         |  FROM (SELECT doc_id, unnest($tokensSql) AS word FROM documents)
         |  GROUP BY doc_id, word)""".stripMargin,
      """bpe0 AS (SELECT word, regexp_split_to_array(word, '') AS syms
        |         FROM (SELECT DISTINCT word FROM bpe_pw))""".stripMargin) ++
      layers ++ Seq(
      s"""bpe_counts AS (
         |  SELECT p.doc_id, CAST(SUM(p.n_occ) AS BIGINT) AS n_tokens,
         |         CAST(SUM(p.n_occ * len(e.syms)) AS BIGINT) AS n_bpe_tokens
         |  FROM bpe_pw p JOIN bpe$n e USING (word)
         |  GROUP BY p.doc_id)""".stripMargin)).mkString(",\n")
  }

  private[graft] val stopsIn = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** The quality-score SQL over columns (text, w) — ONE definition
    * interpolated into every oracle that scores (t2, c1, c3, c5, c8), so
    * the formula cannot drift per-site. Mirrors `TextAnalysis.scoreExpr`
    * term for term (sqrt not log: IEEE correctly-rounded both engines).
    */
  private[graft] lazy val scoreSql =
    s"sqrt(CAST(len(w) AS DOUBLE)) * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)) * (0.5 + 0.5 * (CAST(len(list_filter(w, t -> t IN ($stopsIn))) AS DOUBLE) / len(w)))"

  /** 7-gram shingle CTE over docs_near — [[graft.ext.Dedup.shingleIndex]]
    * semantics; shared by d2/d6 here and the d3 MinHash oracle.
    */
  /** The 7-gram shingle derivation as a named CTE over an arbitrary
    * (doc_id, text) source CTE — shared by [[shingleSql]] (docs_near,
    * the d2/d6/d3 pipeline) and c25's docs_dup variant.
    */
  private[graft] def shingleSqlOver(cte: String, src: String): String =
    s"""$cte AS (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
       |    THEN list_transform(range(len(w) - 6),
       |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
       |    ELSE [array_to_string(w, ' ')] END) AS sh
       |  FROM (SELECT doc_id, $tokensSql AS w FROM $src)))""".stripMargin

  private[graft] lazy val shingleSql = shingleSqlOver("shing", "docs_near")

  /** The t26 table rendered for the oracle prelude. */
  private[graft] def lnValuesSql: String =
    (1 to LnCap).map(i => s"(${i}, ${lnE12(i - 1)})").mkString(", ")

  private[graft] def jaccardCtes(threshold: Double): String =
    s"""$docsNearSql,
       |$shingleSql,
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing GROUP BY doc_id),
       |inter_counts AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
       |                 FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |                 GROUP BY a.doc_id, b.doc_id),
       |jacc_pairs AS (SELECT id1, id2,
       |                      CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) AS jaccard
       |               FROM inter_counts JOIN sizes s1 ON inter_counts.id1 = s1.doc_id
       |                                 JOIN sizes s2 ON inter_counts.id2 = s2.doc_id
       |               WHERE CAST(inter AS DOUBLE) / (s1.n_sh + s2.n_sh - inter) >= $threshold)""".stripMargin

  private[graft] def duckDot(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  /** Squared L2 between two list columns — the same left fold of
    * (a_i − b_i)² as the native kernel (DotProduct.l2sq), so the double
    * is bit-identical cross-engine.
    */
  private[graft] def duckL2sq(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))), (x, y) -> x + y)"

  /** Seeded sign-LSH planes as DuckDB VALUES rows (w, p) with w = 2^i —
    * the v7 E-notation literal device applied to the bucketing planes.
    * The planes are deterministic given (numPlanes, dim, seed), so the
    * BUCKET ID is SQL-expressible after all: sum of the plane weights
    * whose fold-dot is ≥ 0 — an integer sum (order-free) over sign tests
    * of bit-identical doubles.
    */
  private[graft] def planeValues(numPlanes: Int): String =
    Similarity.planes(numPlanes, dim).zipWithIndex.map { case (p, i) =>
      val es = p.map(x =>
        String.format(java.util.Locale.ROOT, "%.17E", Double.box(x)))
      s"(${1L << i}, [${es.mkString(", ")}])"
    }.mkString(", ")

  /** Sign-LSH bucket CTE over `src` (vec_id, embedding) using plane
    * table `pl` — mirrors Similarity.signBuckets/bucketOf exactly.
    */
  private[graft] def duckBuckets(out: String, src: String): String =
    s"""$out AS (SELECT s.vec_id, s.embedding,
       |  CAST(SUM(CASE WHEN ${duckDot("s.embedding", "pl.p")} >= 0
       |           THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
       |  FROM $src s, pl GROUP BY s.vec_id, s.embedding)""".stripMargin

  /** A pinned centroid table (ext/IvfCentroids.scala) as DuckDB VALUES
    * rows (cell, c) — the same E-notation literal device as
    * [[pqCodebookRows]]. Shared by the s4 and d8 oracles.
    */
  private[graft] def ivfCentroidRows(cs: Array[(Int, Array[Double])]): String =
    cs.map { case (i, c) =>
      val es = c.map(x =>
        String.format(java.util.Locale.ROOT, "%.17E", Double.box(x)))
      s"($i, [${es.mkString(", ")}])"
    }.mkString(", ")

  /** Nearest-centroid assignment CTE over `src` (vec_id, embedding) using
    * centroid table `cb` (cell, c) — mirrors IVFIndex.assignCells: the
    * same left-fold L2² kernel, ROW_NUMBER (d, cell) matching
    * least(struct(d, cell))'s tie-break.
    */
  private[graft] def duckAssign(out: String, src: String, cb: String): String =
    s"""$out AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, $cb.cell,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${duckL2sq("e.embedding", s"$cb.c")}, $cb.cell)
       |           AS rn
       |  FROM $src e, $cb) WHERE rn = 1)""".stripMargin

  /** The pinned PQ codebook (ext/PqCodebook.scala) as DuckDB VALUES rows
    * (sub, code, c) — the v7 E-notation literal device (17 significant
    * digits round-trip any double exactly; bare decimals would type as
    * DECIMAL and round long mantissas).
    */
  private[graft] def pqCodebookRows: String =
    PqCodebook.Default.codebooks.zipWithIndex.flatMap { case (book, i) =>
      book.map { case (j, c) =>
        val es = c.map(x =>
          String.format(java.util.Locale.ROOT, "%.17E", Double.box(x)))
        s"($i, $j, [${es.mkString(", ")}])"
      }
    }.mkString(", ")

  /** v5's encode CTEs: the codebook VALUES table and the per-(vector,
    * subspace) argmin — ROW_NUMBER ordered by (l2sq, code) mirrors the
    * plan's least(struct(d, code)) tie-break exactly.
    */
  private[graft] def pqEncodeCtes: String = {
    val sub = PqCodebook.Default.subDim
    val sl = s"e.embedding[(cb.sub * $sub + 1):(cb.sub * $sub + $sub)]"
    s"""cb AS (SELECT * FROM (VALUES $pqCodebookRows) t(sub, code, c)),
       |enc AS (SELECT vec_id, sub, code FROM (
       |          SELECT e.vec_id, cb.sub, cb.code,
       |                 ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.sub
       |                   ORDER BY ${duckL2sq(sl, "cb.c")}, cb.code) AS rn
       |          FROM embeddings e, cb)
       |        WHERE rn = 1)""".stripMargin
  }

  /** a31's replicate count (kept modest for the gate; production raises
    * B without changing the plan shape) and the Poisson(1) inverse-CDF
    * thresholds: PoissonCdf60(k) ≈ floor(P(X ≤ k)·2⁶⁰), k = 0..11, so a
    * 60-bit uniform u maps to weight = #{k : u ≥ T_k} ∈ [0, 12] with
    * P(weight = k) = Poisson(1) pmf to ~double precision. Precisely:
    * the literals are the DOUBLE-evaluated CDF floors (each within
    * ~2⁻⁵⁴ relative of the true infinite-precision floor — a ~1e-16
    * pmf skew, irrelevant to the bootstrap), shared VERBATIM by the
    * query, the DuckDB oracle, and the spec, so all three compare the
    * same integers and the draw is pure integer comparison with no
    * float CDF evaluation at query time.
    */
  /** a40's expected first-digit shares: floor(log₁₀(1+1/d)·10⁹) for
    * d = 1..9, pinned as integer literals shared verbatim by the query,
    * the DuckDB oracle, and the spec (the PoissonCdf60 device) — the
    * double-evaluated floors, not a claim of infinite-precision log. */
  val BenfordE9: Seq[Long] = Seq(301029995L, 176091259L, 124938736L,
    96910013L, 79181246L, 66946789L, 57991946L, 51152522L, 45757490L)

  val BootB = 64

  val PoissonCdf60: Seq[Long] = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L, 1152909688087595776L, 1152920207336574720L,
    1152921376142016768L, 1152921493022561024L, 1152921503648065024L)

  /** Monthly revenue per nation in exact cents — the calendar-bounded
    * series spine shared by w14 (CUSUM) and w15 (MASE): one orders →
    * customer → nation rollup, |nations|·|months| rows at any volume.
    */
  private[graft] def monthlyNationCents(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "orders")
      .join(Tables.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.table(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum((col("o_totalprice").cast(Tables.Money) * 100)
        .cast("long")).as("x_cents"))

  /** [[monthlyNationCents]] as the oracle CTE `name`: one (nation,
    * month key, x_cents) row per nation-month, the key given by the
    * select item `month`.
    */
  private[graft] def monthlyNationCentsSql(name: String,
      month: String = "strftime(o.o_orderdate, '%Y-%m') AS month"): String =
    s"""$name AS (SELECT n.n_name AS nation,
       |                $month,
       |                CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2))
       |                     * 100 AS BIGINT)) AS BIGINT) AS x_cents
       |         FROM orders o
       |         JOIN customer c ON o.o_custkey = c.c_custkey
       |         JOIN nation n ON c.c_nationkey = n.n_nationkey
       |         GROUP BY 1, 2)""".stripMargin

  /** Each event's type and exact value in cents, named `x` (a15, a32,
    * a33, a34, a39, a47).
    */
  private[graft] def eventCents(s: SparkSession, dir: String,
      x: String = "x"): DataFrame =
    Tables.events(s, dir).select(col("event_type"),
      (col("value").cast(Tables.Money) * 100).cast("long").as(x))

  /** a33/a34 oracle CTE `name`: per event type the count `n` and the
    * exact long sums `sx` and `sxx` of its value cents.
    */
  private[graft] def typeMomentsSql(name: String): String =
    s"""$name AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |                CAST(SUM(x) AS BIGINT) AS sx,
       |                CAST(SUM(x * x) AS BIGINT) AS sxx
       |         FROM (SELECT event_type,
       |                      CAST(CAST(value AS DECIMAL(12,2)) * 100
       |                        AS BIGINT) AS x
       |               FROM events)
       |         GROUP BY event_type)""".stripMargin

  /** The a31/a48 bootstrap's full-data side over a (`key`, cents, rk)
    * frame: per key the row count and the ×10⁶ fixed-point mean.
    */
  private[graft] def fullMeans(cs: DataFrame, key: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    cs.groupBy(key)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents").cast(d38)).as("s_cents"))
      .select(col(key), col("n_rows").cast("long").as("n_rows"),
        expr("(1000000 * s_cents) div cast(n_rows as decimal(38,0))")
          .cast("long").as("mean_e6"))
  }

  /** The a31/a48 replicates over a (`key`, cents, rk) frame: each row
    * drawn into [[BootB]] replicates with an RNG-free Poisson(1) weight
    * (md5 of `rk:rep` against [[PoissonCdf60]]), then per (key, rep)
    * the ×10⁶ fixed-point weighted mean `rep_mean_e6`; replicates with
    * no weight drop.
    */
  private[graft] def poissonRepMeans(cs: DataFrame, key: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val wCol = PoissonCdf60.map(t =>
      when(col("u") >= lit(t), 1L).otherwise(lit(0L))).reduce(_ + _)
    cs.select(col(key), col("cents"), col("rk"),
        explode(array((0 until BootB).map(lit): _*)).as("rep"))
      .withColumn("u",
        conv(substring(md5(concat_ws(":", col("rk"), col("rep"))), 1, 15),
          16, 10).cast("long"))
      .withColumn("w", wCol)
      .groupBy(key, "rep")
      .agg(sum("w").as("n_eff"),
        sum(col("w").cast(d38) * col("cents").cast(d38)).as("s_eff"))
      .filter(col("n_eff") > 0)
      .select(col(key), col("rep"),
        expr("(1000000 * s_eff) div cast(n_eff as decimal(38,0))")
          .cast("long").as("rep_mean_e6"))
  }

  /** The a31/a48 95% percentile interval of `value` over the replicates
    * of each `key`: the replicate count `b_reps` and the values at the
    * pinned ranks ceil(0.025·b) and ceil(0.975·b) of the (value, rep)
    * order, as `ci_lo_e6` and `ci_hi_e6`.
    */
  private[graft] def percentileCi(reps: DataFrame, key: String,
      value: String): DataFrame = {
    val wq = Window.partitionBy(key).orderBy(value, "rep")
    reps
      .withColumn("rn", row_number().over(wq).cast("long"))
      .withColumn("b",
        count(lit(1)).over(Window.partitionBy(key)).cast("long"))
      .withColumn("lo_rank", expr("(5 * b + 199) div 200"))
      .withColumn("hi_rank", expr("(195 * b + 199) div 200"))
      .filter(col("rn") === col("lo_rank") || col("rn") === col("hi_rank"))
      .groupBy(key)
      .agg(max("b").as("b_reps"),
        min(when(col("rn") === col("lo_rank"), col(value))).as("ci_lo_e6"),
        min(when(col("rn") === col("hi_rank"), col(value))).as("ci_hi_e6"))
  }

  /** c10b/c22's quality quartile bin: 1 at or above the `c75` cutoff
    * down to 4 below `c25`.
    */
  private[graft] def qualityBin: Column =
    when(col("quality_score") >= col("c75"), 1L)
      .when(col("quality_score") >= col("c50"), 2L)
      .when(col("quality_score") >= col("c25"), 3L)
      .otherwise(4L)

  /** The decontamination oracles' (c6, c6b, c23) CTEs after
    * [[docsDupSql]]: `split<sfx>`, the md5 train/valid/test split of
    * docs_dup, and `shing<sfx>`, each doc's distinct 7-gram shingles.
    */
  private[graft] def splitShingleCtes(sfx: String): String =
    s"""$docsDupSql,
       |split$sfx AS (SELECT doc_id,
       |             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
       |                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
       |                  ELSE 'test' END AS split
       |           FROM docs_dup),
       |shing$sfx AS (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
       |    THEN list_transform(range(len(w) - 6),
       |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
       |    ELSE [array_to_string(w, ' ')] END) AS sh
       |  FROM (SELECT doc_id, $tokensSql AS w FROM docs_dup)))""".stripMargin

  /** The value-grain CTEs of the a32, a39 and a47 oracles (the SQL form
    * of [[graft.ext.Stats.valueGrain]]), each name suffixed `sfx`: the
    * exact cents `ev`, the per-(type, cents) counts `gr`, the base and
    * tested sides and the type × value `keys`.
    */
  private[graft] def valueGrainCtes(sfx: String): String =
    s"""ev$sfx AS (SELECT event_type,
       |                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
       |                  AS cents
       |         FROM events),
       |gr$sfx AS (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt1
       |         FROM ev$sfx GROUP BY 1, 2),
       |base$sfx AS (SELECT cents, cnt1 AS n_b FROM gr$sfx
       |           WHERE event_type = 'view'),
       |tst$sfx AS (SELECT event_type, cents, cnt1 AS n_t FROM gr$sfx
       |          WHERE event_type <> 'view'),
       |keys$sfx AS (SELECT t.event_type, v.cents
       |           FROM (SELECT DISTINCT event_type FROM tst$sfx) t,
       |                (SELECT DISTINCT cents FROM ev$sfx) v)""".stripMargin

  /** a32/a47: [[valueGrainCtes]], then the doubled-midrank sums — the
    * ranked frame `rk`, its running counts `cb` and the `ag` aggregate,
    * left open after `two_r1` for each query's own columns.
    */
  private[graft] def rankSumCtes(sfx: String): String =
    valueGrainCtes(sfx) + s""",
       |rk$sfx AS (SELECT k.event_type, k.cents,
       |                COALESCE(t.n_t, 0) AS n_t,
       |                COALESCE(b.n_b, 0) AS n_b,
       |                COALESCE(t.n_t, 0) + COALESCE(b.n_b, 0) AS cnt
       |         FROM keys$sfx k
       |         LEFT JOIN tst$sfx t ON k.event_type = t.event_type
       |                          AND k.cents = t.cents
       |         LEFT JOIN base$sfx b ON k.cents = b.cents
       |         WHERE COALESCE(t.n_t, 0) + COALESCE(b.n_b, 0) > 0),
       |cb$sfx AS (SELECT event_type, cents, n_t, n_b, cnt,
       |                COALESCE(SUM(cnt) OVER (PARTITION BY event_type
       |                  ORDER BY cents
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                  0) AS cum_before
       |         FROM rk$sfx),
       |ag$sfx AS (SELECT event_type,
       |                CAST(SUM(n_t) AS BIGINT) AS n1,
       |                CAST(SUM(n_b) AS BIGINT) AS n2,
       |                CAST(SUM(CAST(n_t AS HUGEINT)
       |                  * (2 * cum_before + cnt + 1)) AS HUGEINT)
       |                  AS two_r1""".stripMargin

  /** Per-month KMV sketches of `orders`' pinned customer hashes: one
    * `(month, <kmin>)` row per month holding its `k` smallest hashes —
    * the sketch a19, a22 and a36 build.
    */
  private[graft] def monthKmv(orders: DataFrame, k: Int,
      kmin: String = "kmin"): DataFrame =
    kmvByMonth(orders
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        graft.functions.KmvSketch.hash60(col("o_custkey")).as("h")), k, kmin)

  /** `(month, h)` rows folded to one k-min array per month. */
  private def kmvByMonth(rows: DataFrame, k: Int, kmin: String): DataFrame = {
    val sess = rows.sparkSession
    import sess.implicits._
    rows.as[(String, Long)]
      .groupByKey(_._1)
      .agg(new graft.functions.KmvAggregator(k).toColumn.name("kmin"))
      .toDF("month", kmin)
  }

  /** The merge a19 and a22 end with: the `kmin` members of `sketches`
    * re-sketched per month, then the kept count and the a35
    * shared-literal estimate, named `est`, ordered by month.
    */
  private[graft] def mergedKmvEstimate(sketches: DataFrame, k: Int,
      est: String): DataFrame =
    kmvByMonth(sketches.select(col("month"), explode(col("kmin")).as("h")),
        k, "kmin")
      .select(col("month"),
        size(col("kmin")).cast("long").as("n_kept"),
        graft.functions.KmvSketch.estimate(col("kmin"), k).as(est))
      .orderBy("month")

  /** a35's oracle, which st17 shares: one statement, two execution
    * models (the stream ≡ batch contract as a hash equality).
    */
  private[graft] lazy val a35OracleSql: String = Oracle.sqlWith(
      """eh35 AS (SELECT DISTINCT event_type,
        |                CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
        |                                        1, 15)) AS BIGINT) AS h
        |         FROM events),
        |rk35 AS (SELECT event_type, h,
        |                row_number() OVER (PARTITION BY event_type
        |                                   ORDER BY h) AS rn,
        |                count(*) OVER (PARTITION BY event_type) AS cnt
        |         FROM eh35)""".stripMargin,
      """SELECT event_type, CAST(LEAST(cnt, 64) AS BIGINT) AS n_kept,
        |       CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
        |            ELSE (63.0 * 1152921504606846976.0)
        |                 / CAST(MAX(h) AS DOUBLE) END AS kmv_est
        |FROM rk35 WHERE rn <= 64
        |GROUP BY event_type, cnt
        |ORDER BY event_type""".stripMargin)
}
