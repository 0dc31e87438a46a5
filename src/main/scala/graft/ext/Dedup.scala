package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines over the
  * `documents` table — the core of any 100 TB corpus build.
  *
  * Scale design:
  *  - exact dedup shuffles only (doc_id, 128-bit content hash) — the text
  *    never crosses the wire;
  *  - near-dup candidate generation goes through an inverted shingle index
  *    (explode→join), never an O(n²) cross join; the MinHash-LSH variant
  *    ([[MinHashLSH]]) replaces the full index with banded signatures when
  *    even the shingle join is too large;
  *  - the index that is materialized holds one row per document of 64-bit
  *    shingle fingerprints ([[fingerprintIndex]]), not one row per shingle
  *    string.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per md5(normalized text).
    * Projecting to (doc_id, hash) *before* the shuffle means the window
    * moves 24 bytes/row, not documents.
    */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val w = Window.partitionBy("h").orderBy("doc_id")
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id")
  }

  /** Word n-gram shingles over a TOKEN-ARRAY column; documents shorter than
    * n tokens contribute their whole token sequence as one shingle (both
    * engines guard this — Spark `sequence(1, k)` with k<1 would descend
    * while DuckDB `range(k)` would be empty).
    *
    * Takes the tokens as a bound column, not the tokenizer expression:
    * `transform` is a higher-order function and runs interpreted (no
    * whole-stage codegen), so an expression argument would be
    * RE-EVALUATED on every lambda access — measured 75× slower when
    * `split()` was inlined here. Callers must project the token array
    * first. The fingerprint index does not use this spelling: its
    * hashed form is the native [[graft.functions.ShingleHashes]], asserted
    * equal to `xxhash64` over these shingles by `TextKernelSpec`.
    */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => array_join(slice(tokens, i, lit(n)), " ")))
      .otherwise(array(array_join(tokens, " ")))

  /** Distinct (doc_id, shingle) pairs — the inverted-index edge list.
    * Set semantics are per-document, so `array_distinct` BEFORE the explode
    * does the dedup as a narrow operation — no shuffle; the global
    * `.distinct()` a naive explode would need costs a full shuffle of the
    * shingle strings.
    */
  def shingleIndex(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), n))).as("sh"))

  /** Per-document shingle fingerprint index: (doc_id, hs) where `hs` is
    * the set of distinct `xxhash64` fingerprints of the document's word
    * n-gram shingles ([[shingles]]), spread by doc_id before the
    * tokenize+hash pass and materialized once. Both steps are native
    * codegen'd kernels ([[graft.functions.Tokens]],
    * [[graft.functions.ShingleHashes]]): no regex, no lambda, no shingle
    * string. Consumers read (doc_id, sh: bigint) rows from
    * [[fingerprints]], a narrow explode; set sizes are `size(hs)`.
    *
    * Why the materialized index has this shape: the string index
    * ([[shingleIndex]]) is one JVM row per (doc, shingle) — ~120 bytes
    * for a 7-word shingle, ~16× the corpus text — and its persisted bytes
    * set the executor size of a corpus build. One row per document with
    * a bigint array holds 8 bytes per shingle.
    *
    * Collisions: a 64-bit collision can only MERGE two distinct shingles
    * (a pair's intersection may gain one, a set may lose one); it never
    * splits one. The expected number of merged shingle pairs is about
    * m²/2⁶⁵ for m distinct shingles — ~10⁻⁸ on the fixture corpora,
    * ~10⁶ among the ~10¹³ shingles of a 100 TB corpus, each moving one
    * count of one pair by one. `xxhash64` is fine here although the
    * sketches ([[MinHashLSH]], [[SimHash]]) must not use it: here no hash
    * value reaches an output — outputs are counts and ratios of counts,
    * which the oracle recomputes over the shingle strings — whereas a
    * sketch's output IS a function of its hash values, so the oracle must
    * be able to evaluate the hash (the seeded family in [[HashCoeffs]]).
    * A null shingle (null text) stays a null fingerprint: it counts
    * towards its document's set size and never joins, as in the string
    * index (`xxhash64(null)` would be the seed, a joinable value).
    */
  private[graft] def fingerprintIndex(docs: DataFrame, n: Int): DataFrame =
    graft.PartitionOps.repartitionBeforeFanout(docs, col("doc_id"))
      .select(col("doc_id"), graft.functions.ShingleHashes
        .shingle_hashes(TextAnalysis.tokens(col("text")), n).as("hs"))
      .localCheckpoint()

  /** (doc_id, sh: bigint) edge list of a [[fingerprintIndex]]. */
  private[graft] def fingerprints(idx: DataFrame): DataFrame =
    idx.select(col("doc_id"), explode(col("hs")).as("sh"))

  /** Shared candidate-pair pipeline: (id1 < id2, inter, n1, n2) for every
    * document pair sharing ≥1 indexed shingle — the building block both
    * Jaccard ([[ngramJaccardPairs]]) and containment
    * ([[containmentPairs]]) score, each with its own denominator.
    */
  private def scoredCandidates(docs: DataFrame, n: Int,
      dfMax: Option[Int]): DataFrame = {
    // The fingerprint index is materialized once: it feeds the per-doc
    // sizes and BOTH self-join sides (and the df cap) — the in-job analog
    // of persisting the inverted index as a table, which is what a 100 TB
    // corpus build does anyway (build once, reuse across rounds).
    val idx0 = fingerprintIndex(docs, n)
    val (idx, sizes) = dfMax match {
      case None =>
        (fingerprints(idx0),
          idx0.select(col("doc_id"), size(col("hs")).cast("long").as("n_sh")))
      case Some(m) =>
        // the cap drops shingles from the sets, so sizes are counted
        // over the capped edge list
        val sh = fingerprints(idx0)
        val keep = sh.groupBy("sh").count().filter(col("count") <= m).select("sh")
        val capped = sh.join(keep, "sh").localCheckpoint()
        (capped, capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh")))
    }
    val a = idx.as("a")
    val b = idx.as("b")
    a.join(b, col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
  }

  /** Exact n-gram Jaccard near-dup pairs via the inverted shingle index:
    * intersection counts from a self-join on shared shingles, union from
    * per-doc set sizes. Only candidate pairs that share ≥1 shingle are
    * scored — with n≥5 word grams, unrelated documents essentially never
    * collide, so the join output stays near-linear. At larger scale, cap
    * shingle document-frequency (drop shingles appearing in >df_max docs)
    * before the self-join; with the default corpus this is a no-op.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      dfMax: Option[Int] = None): DataFrame =
    scoredCandidates(docs, n, dfMax)
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Asymmetric shingle CONTAINMENT — |A∩B| / |A| ≥ τ flags documents
    * CONTAINED in another (quotes, leading snippets, partial extractions):
    * the case symmetric Jaccard structurally misses, because a short
    * snippet of a long document has near-zero Jaccard however perfect the
    * inclusion (|A∩B|/|A∪B| ≈ |A|/|B|). Directed output
    * (inner_id, outer_id, containment): both directions of each candidate
    * pair are emitted from the ONE undirected pair join by exploding a
    * two-element struct array — a union of two projections would make
    * Catalyst recompute the whole pair-join subtree per branch (the index
    * is checkpoint-shared, but the join/aggregate shuffles are not),
    * while the explode reads each scored pair once — so the plan cost is
    * exactly [[ngramJaccardPairs]]'s (the d2 curve family, same
    * df-capped index) plus a 2× narrow Generate.
    */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
      dfMax: Option[Int] = None): DataFrame =
    scoredCandidates(docs, n, dfMax)
      .select(explode(array(
        struct(col("id1").as("inner_id"), col("id2").as("outer_id"),
          (col("inter").cast("double") / col("n1")).as("containment")),
        struct(col("id2").as("inner_id"), col("id1").as("outer_id"),
          (col("inter").cast("double") / col("n2")).as("containment"))))
        .as("e"))
      .select(col("e.inner_id"), col("e.outer_id"), col("e.containment"))
      .filter(col("containment") >= threshold)

  /** Corpus-level duplicated-SPAN removal, keep-first (the C4/FineWeb
    * "discard all but one occurrence of any repeated span" rule): any
    * aligned `segTokens`-token segment occurring more than once in the
    * corpus — across documents OR repeated inside one — survives only at
    * its first occurrence (min (doc_id, seg_no)); every later occurrence
    * is deleted and the survivors reassembled in original order. Contrast
    * [[TextAnalysis.boilerplateStrip]] (c18), which removes df≥minDf
    * segments EVERYWHERE including the first copy — that is boilerplate
    * policy; this is dedup policy (exactly one copy of every span is kept,
    * so no corpus content is lost).
    *
    * Scale: positions are projected to (doc_id, seg_no, md5) BEFORE any
    * exchange, so the span-keyed stages move 32-byte rows, never text.
    * The first-occurrence decision is a partial-aggregated
    * min(struct(doc_id, seg_no)) + an equi-join back — deliberately NOT a
    * row_number window: a pathological boilerplate span duplicated 10⁹
    * times would pin one un-splittable window partition, while the
    * aggregate combines map-side to one row per span and the probe-side
    * join is AQE-skew-splittable. The drop set (dup positions only) then
    * folds to per-doc index lists — bounded by the DUPLICATED span count,
    * tiny on a mostly-unique corpus — so the only text-side join input is
    * broadcast-sized and the text itself is never shuffled end-to-end.
    */
  def spanDedup(docs: DataFrame, segTokens: Int = 8): DataFrame = {
    // pre-fan-out sizing (r19): the corpus scan is 2 parquet partitions
    // at sf0.1 and tokenize+segments(+md5 below) is the dominant per-row
    // cost — profiled as a 2-task checkpoint stage (~1.9 s CPU) plus a
    // 2-task rebuild pass; the explicit-count exchange sizes both for
    // per-row cost instead of input bytes (the a48/a31 rule).
    val spread = graft.PartitionOps.repartitionBeforeFanout(
      docs, col("doc_id"))
    // localCheckpoint (r19): perDoc feeds the position index below AND
    // the final keep-filter join-back, and exchange reuse does not fire
    // across the two consumers (profiled: the corpus scan + union + the
    // tokenize+segments pass each ran twice per execution). One
    // materialization — (doc_id, segs), ~corpus bytes — and the drops
    // side stays broadcast-sized, so the erased partitioning costs no
    // new exchange.
    val perDoc = spread.select(col("doc_id"),
      TextAnalysis.segments(TextAnalysis.tokens(col("text")), segTokens)
        .as("segs"))
      .localCheckpoint()
    // (doc_id, seg_no) packed into one BIGINT — min(pk) IS the
    // lexicographic first occurrence, and a long min hash-aggregates
    // (codegen'd) where min(struct) would force a SortAggregate with a
    // per-partition sort on every span key. Capacity: doc_id < 2^43
    // (~8.8e12 — a 100 TB corpus at 1 KB/doc is ~1e11) and
    // seg_no < 2^20 (~8M tokens/doc at the default width).
    val pk = shiftleft(col("doc_id"), 20) + col("seg_no")
    // localCheckpoint: the hash index feeds BOTH sides of the keeper
    // join (build: min-agg; probe: drop filter) — without it the
    // tokenize+explode+md5 pass runs twice (measured ~30% of the
    // operator at sf0.1). The materialized index is 52-byte rows —
    // ~10% of corpus bytes on local executor storage, no shuffle; at
    // 100 TB either re-deriving or materializing is defensible, and
    // Spark's lineage would re-derive, so the checkpoint is the
    // explicit choice of the cheaper side.
    val pos = perDoc
      .select(col("doc_id"), posexplode(col("segs")).as(Seq("seg_no", "seg")))
      .select(col("doc_id"), col("seg_no"), pk.as("pk"), md5(col("seg")).as("h"))
      .localCheckpoint()
    val keeper = pos.groupBy("h").agg(min(col("pk")).as("kpk"))
    // a non-min position implies the span occurs >1 times, so "drop all
    // but the keeper" needs no separate occurrence count
    val drops = pos.join(keeper, "h")
      .filter(col("pk") =!= col("kpk"))
      .groupBy("doc_id").agg(collect_set(col("seg_no")).as("drop_idx"))
    perDoc.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("segs"),
        coalesce(col("drop_idx"), array().cast("array<int>")).as("drop_idx"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_segs"),
        filter(col("segs"), (_, i) => !array_contains(col("drop_idx"), i))
          .as("kept"))
      .select(col("doc_id"), col("n_segs"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("cleaned_text"))
  }

  /** Attach BOTH sides' texts to a candidate-pair table while touching the
    * text relation exactly ONCE (r17 verdict task 4): unpivot each pair
    * into (carry…, side, doc_id) rows with a 2-element struct explode, make
    * ONE equi-join against `docs(doc_id, text)`, then pivot the sides back
    * with a conditional-max aggregate keyed on the pair's own columns.
    *
    * Why not two joins (`…join(d as id1)…join(d as id2)`): each join built
    * its OWN single-task BroadcastExchange of the text relation — exchange
    * reuse cannot canonicalize across the two sides because the inferred
    * isnotnull constraint order differs — and those two builds (~1.4–1.9 s
    * each at sf0.1) dominated d11/d11b/d12's measured cost. At 100 TB the
    * argument strengthens: the corpus is not broadcastable at all, both
    * joins become corpus-sized shuffles, and this shape scans + shuffles
    * the text table once instead of twice. The pivot-back aggregate
    * shuffles only pair rows (near-linear in docs via the df-capped index),
    * each carrying one text — the same bytes the second join's output
    * carried anyway.
    *
    * Pairs must have distinct `id1 < id2` (the candidate generators
    * enforce this), so each group sees exactly one row per side and the
    * conditional max picks that side's text, never comparing two.
    */
  def attachPairTexts(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val carry = pairs.columns.map(col).toSeq
    pairs
      .select(carry :+ explode(array(
          struct(lit(1).as("side"), col("id1").as("doc_id")),
          struct(lit(2).as("side"), col("id2").as("doc_id")))).as("e"): _*)
      .select(carry :+ col("e.side").as("side") :+
        col("e.doc_id").as("doc_id"): _*)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      // Pre-verify sizing (r18, the PartitionOps rule in its per-row-cost
      // form): every caller runs an O(len²)-per-row edit-distance verify
      // directly on this function's output, and that work rides THIS
      // aggregate's partitioning. Left implicit, the agg reuses the pair
      // exchange upstream and AQE coalesces it by BYTES (~100 KB of pairs
      // at gate scale → 1 partition), blind to the DP cost per row —
      // profiled r18: the whole verify chain ran serially in ONE task,
      // twice (the final sort's sample pass re-executes its child), 2×2.1 s
      // of a 6.5 s query. Placement subtleties, both measured here:
      // a repartition ABOVE the agg does not fix it (filter pushdown folds
      // the verify predicate back below any exchange above the agg, and
      // the verify predicates cannot cross THIS aggregate — it produces
      // t1/t2); and keying the exchange by (id1, id2) alone is ELIDED by
      // EnsureRequirements (the child already carries
      // hashpartitioning(id1, id2) from the pair exchange — same keys,
      // same count → "redundant"). Keying by ALL carry columns still
      // satisfies the agg's ClusteredDistribution but differs from the
      // child partitioning, so the exchange is real, and an
      // explicit-count REPARTITION_BY_NUM is the one shape AQE never
      // coalesces. Cost: one exchange of the 2·|pairs| text-carrying
      // rows (near-linear in docs via the df-capped index); benefit: the
      // verify stage runs at the session's parallelism at any scale.
      .transform(df => graft.PartitionOps.repartitionBeforeFanout(
        df, carry: _*))
      .groupBy(carry: _*)
      .agg(max(when(col("side") === 1, col("text"))).as("t1"),
           max(when(col("side") === 2, col("text"))).as("t2"))
  }
}
