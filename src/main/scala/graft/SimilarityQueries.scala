package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{DocFixtures, HashCoeffs, IVFIndex, IvfCentroids, MinHashLSH, Multimodal, PqCodebook, ProductQuantizer, SemanticDedup, SimHash, Similarity}

/** Similarity search (s*), sketch-based near-dup (d3/d4/d5) and multimodal
  * (m*) driver queries. The hash-sketch operators (MinHash, SimHash) hash
  * with the polynomial/universal family in [[graft.ext.HashCoeffs]], which
  * IS SQL-expressible, so d3/d4 carry full DuckDB oracles. Since r13 the
  * sign-LSH entries (s2/d5) are hash-oracled too — the seeded planes are
  * deterministic literal doubles (the v7 device), so the bucket id is an
  * integer sum of sign tests and the whole bucket-restricted scan replays
  * in DuckDB — as are the PQ pair v5/s6 (pinned codebook artifact) and,
  * since r14, the IVF pair s4/d8 (pinned centroid artifact,
  * [[graft.ext.IvfCentroids]] via IvfPinGen): serving from an
  * offline-trained quantizer is the faiss discipline AND what turns the
  * probe/keep-set into plain SQL. Per-corpus training (IVFIndex.build
  * with the EXECUTABLE constant-occupancy sizing rule,
  * SemanticDedup.flagged) stays the first-class library path, covered by
  * AnalyticsSpec/SketchSpec recall/determinism/brute-force replays.
  */
object SimilarityQueries {

  private val dim = 64

  /** d8's per-cell representative-occupancy cap (shared with the
    * SketchSpec replay so query and test run the identical parameters):
    * safely above any observed fixture cell, so the gate-scale kept set
    * is unchanged, while bounding the pair space of a pathological cell
    * at larger corpora — see [[graft.ext.SemanticDedup]].
    */
  val D8MaxCell = 10000

  /** s7: MMR re-rank parameters, shared with the spec replay. MmrMu is a
    * SEPARATE literal, not 1−λ: 1.0−0.7 rounds to 0.30000000000000004
    * while both engines parse "0.3" to the same (different) double — the
    * blend must use the literal on both sides or the hash drifts.
    */
  val MmrLambda = 0.7
  val MmrMu = 0.3
  val MmrPool = 20
  val MmrK = 5

  /** s7 core: maximal marginal relevance over a bounded candidate pool —
    * greedy argmax of λ·rel − (1−λ)·max-sim-to-selected, UNROLLED into
    * MmrK chained stages of ≤MmrPool-row frames (each stage: anti-join
    * the picked set, score against it, take the (mmr desc, vec_id)
    * argmax). Unrolling keeps every step a tiny broadcast join — no
    * driver loop over collected data, no nested-lambda fold — and makes
    * the statement SQL-expressible, so the oracle replays the identical
    * greedy. Float parity: rel and pairwise sims are the s1/s3 cosine
    * tree (same left-to-right dot fold both engines), maxsim is MAX over
    * the same value set (order-free), and the λ blend is one mul/sub in
    * the same shape → bit-equal doubles end to end.
    */
  private[graft] def mmrRerank(emb: DataFrame, queryId: Long): DataFrame = {
    import graft.functions.VectorOps
    val v = emb.select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val q = v.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    // the pool is referenced by EVERY unrolled greedy stage (anti-join +
    // final join per pick — ~2k lineage taps); without the checkpoint
    // each tap re-runs the corpus scan + cosine + TakeOrdered as its own
    // job (measured: s7 was the bench's slowest query at 5.0 s; the
    // 20-row checkpoint collapses it — the g2/c1 shared-lineage fix)
    val cands = v.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"),
        VectorOps.cosine(col("v"), col("qv")).as("rel"),
        VectorOps.norm(col("v")).as("nrm"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
      .localCheckpoint()
    val sel1 = cands
      .orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"), col("rel"), col("nrm"),
        col("rel").as("mmr"), lit(1L).as("rank"))
    val sel = (2 to MmrK).foldLeft(sel1) { (prev, i) =>
      val s = prev.select(col("vec_id").as("sid"), col("v").as("sv"),
        col("nrm").as("snrm"))
      val pick = cands
        .join(broadcast(s.select("sid")),
          col("vec_id") === col("sid"), "left_anti")
        .crossJoin(broadcast(s))
        .groupBy(col("vec_id"), col("rel"))
        .agg(max(VectorOps.dot(col("v"), col("sv"))
          / (col("nrm") * col("snrm"))).as("maxsim"))
        .select(col("vec_id").as("pid"),
          (lit(MmrLambda) * col("rel")
            - lit(MmrMu) * col("maxsim")).as("mmr"))
        .orderBy(col("mmr").desc, col("pid")).limit(1)
      prev.unionByName(cands
        .join(broadcast(pick), col("vec_id") === col("pid"))
        .select(col("vec_id"), col("v"), col("rel"), col("nrm"),
          col("mmr"), lit(i.toLong).as("rank")))
    }
    sel.select(col("rank"), col("vec_id"), col("rel"), col("mmr"))
      .orderBy("rank")
  }

  /** s9 core over INJECTED documents + embeddings frames. The fusion
    * stage itself
    * is two ≤20-row bounded windows + a full-outer on doc id; all
    * corpus-sized work lives in the two legs (t23's BM25 scan family,
    * s1's brute cosine).
    */
  private[graft] def hybridRrfOf(docsDf: DataFrame, emb: DataFrame): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window.orderBy(col("bm25").desc, col("doc_id"))
    val sparse = ExtensionQueries.bm25Top20Of(docsDf)
      .select(col("doc_id"),
        row_number().over(wB).cast("long").as("rank_bm25"))
    val wC = org.apache.spark.sql.expressions.Window.orderBy(col("cosine").desc, col("vec_id"))
    val dense = Similarity.bruteForceTopK(emb, queryId = 0L, k = 20)
      .select(col("vec_id").as("doc_id"),
        row_number().over(wC).cast("long").as("rank_cos"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_bm25"), col("rank_cos"),
        (coalesce(lit(1.0) /
            (lit(60L) + col("rank_bm25")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) /
            (lit(60L) + col("rank_cos")).cast("double"), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — similarity search —
    // — MMR diversified retrieval (s7): the serving-side re-rank that
    //   trades pure relevance for coverage — the first result is the
    //   nearest neighbor, each next result maximizes
    //   λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7 over the top-20
    //   pool, k=5). The candidate Pool is where scale lives (s1/s2/s4
    //   produce it); the greedy itself is pool-bounded at any corpus
    //   size, and the unrolled-stages statement keeps it in-plan and
    //   hash-oracled (see [[mmrRerank]]) instead of a driver-side loop. —
    "s7_mmr_rerank" -> ((s, dir) =>
      mmrRerank(Tables.table(s, dir, "embeddings"), queryId = 0L)),
    "s1_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(
        Tables.table(s, dir, "embeddings"), queryId = 0L, k = 10)),

    // — hybrid retrieval fusion (s9): reciprocal-rank fusion of a
    //   SPARSE ranker (t23's fixed-terms BM25 over documents) and a
    //   DENSE ranker (s1's exact cosine over embeddings, query vec 0)
    //   — THE standard hybrid-search serving composition (Cormack et
    //   al. SIGIR'09): RRF(d) = Σ_r 1/(60 + rank_r(d)) over each
    //   leg's top-20, full-outer on doc id so a doc one leg misses
    //   still scores its other term. Ranks are row_numbers over each
    //   leg's total order on its OWN ≤20-row top-k output (the
    //   post-top-k bounded-window class), so the fused stage adds no
    //   corpus-sized work at any scale — scale lives entirely in the
    //   two legs, which are the already-probed t23/s1 machinery. Both
    //   1/(60+rank) terms are single double divisions of exact
    //   integers summed left-to-right → hash-oracled. —
    "s9_hybrid_rrf" -> ((s, dir) => hybridRrfOf(
      graft.etl.Tables.table(s, dir, "documents"),
      Tables.table(s, dir, "embeddings"))),

    // — binary-quantized Hamming retrieval with exact re-rank (v9): the
    //   third leg of the vector-serving diet family (v4 int8 = 4×,
    //   v8 dim-truncation; this is the 32× one-bit form every modern
    //   vector store ships): sign-quantize each 64-dim vector into TWO
    //   packed 32-bit words (a pinned base-2 left fold — no shiftleft
    //   non-literal gymnastics, and both engines fold the identical
    //   order), rank candidates by Hamming distance = popcount(xor) on
    //   the packed words (2 ALU ops/candidate inside codegen, vs 64
    //   mul-adds for a float dot), keep the top-100 by (hamming,
    //   vec_id), then re-rank just those 100 by EXACT cosine on the
    //   fp32 originals and emit the top-10. Fully hash-oracled — the
    //   packing, popcount, and fold-dot are all deterministic integer/
    //   pinned-IEEE arithmetic (no seeded planes: the data's own sign
    //   bits are the code, unlike s2/s5's seeded LSH which needs a
    //   recall bound instead of an oracle). At 100 TB the packed table
    //   is the thing that fits in memory (8 bytes vs 256/vector) and
    //   the candidate scan is bandwidth-bound popcounts; the exact
    //   re-rank touches only k·oversample full vectors. —
    "v9_binary_hamming_rerank" -> ((s, dir) =>
      binaryHammingOf(Tables.table(s, dir, "embeddings"), queryId = 0L)),
    "s2_ann_lsh_topk" -> ((s, dir) =>
      Similarity.annTopK(Tables.table(s, dir, "embeddings"),
        queryId = 0L, k = 10, numPlanes = 4, dim = dim)),
    // Routed through the auto-guard: below the row cap this IS the exact
    // broadcast nested loop the oracle mirrors; past it the query degrades
    // to the bucketed candidate path instead of failing the sweep at a
    // larger scale factor.
    "s3_knn_join" -> ((s, dir) =>
      Similarity.knnJoin(Tables.table(s, dir, "embeddings"), k = 3,
          numPlanes = 8, dim = dim)
        .orderBy("id1", "id2")),
    // The at-scale kNN path (bucketed candidates, nothing quadratic), made
    // oracle-exact by construction: on the dup-injected corpus, restricted
    // to the duplicated ids, the true nearest neighbor is the exact vector
    // copy (cosine ≈ 1), which always shares its partner's LSH bucket — so
    // the bucketed top-1 equals brute-force top-1 and a plain exact-kNN
    // DuckDB oracle applies.
    "s5_knn_bucketed" -> ((s, dir) =>
      Similarity.knnJoinBucketed(DocFixtures.embDup(s, dir), k = 1,
          numPlanes = 8, dim = dim)
        .filter((col("id1") % 10 === 0 && col("id1") < 100000) ||
          col("id1") >= 100000)
        .orderBy("id1")),

    // — sketch near-dup —
    "d3_minhash_lsh" -> ((s, dir) =>
      MinHashLSH.nearDupPairs(DocFixtures.docsNear(s, dir))
        .orderBy("id1", "id2")),
    "d4_simhash" -> ((s, dir) =>
      SimHash.nearDupPairs(DocFixtures.docsNear(s, dir))
        .orderBy("id1", "id2")),
    "d5_embedding_dup" -> ((s, dir) =>
      Similarity.embeddingDupPairs(DocFixtures.embDup(s, dir),
        threshold = 0.999, numPlanes = 12, dim = dim)
        .orderBy("id1", "id2")),
    // Product-quantization codes: the 64× compression stage a
    // billion-scale ANN index layers under IVF (codes + cell id are what
    // stays hot; raw vectors go cold). 8 subspaces × 16 codes, encoded by
    // a narrow broadcast-argmin pass against the PINNED codebook artifact
    // (ext/PqCodebook.scala — ProductQuantizer.train's exact seeded
    // output on the sf0.01 embeddings, regenerable via PqPinGen): the
    // faiss serving discipline, where codebooks are an offline-trained
    // artifact shipped to the encoder, not re-fit per query. Pinning is
    // also what makes the encode ORACLE-expressible (the v7 inlined-
    // literal device): the argmin over 128 centroid literals replays in
    // DuckDB with the same left-fold L2², so v5 is hash-proven, not
    // rows-only. Per-corpus TRAINING stays a first-class library path —
    // SketchSpec pins its determinism, copy-code equality, and measured
    // reconstruction cosine at sf0.01 (where the trained codebook IS
    // this artifact).
    "v5_pq_codes" -> ((s, dir) => {
      val emb = Tables.table(s, dir, "embeddings").select("vec_id", "embedding")
      ProductQuantizer.encode(emb, PqCodebook.Default)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
        .orderBy("vec_id", "sub")
    }),

    // Two-stage ADC serving over the PQ codes: the complement of v5 —
    // stage 1 scores every vector from its 4-byte codes + a per-subspace
    // lookup table (never touching raw corpus vectors; one-row query
    // broadcast, whitelisted scalar cross join; 8 codegen'd when-chains),
    // stage 2 exact-re-ranks only the 50-row shortlist. Same pinned
    // codebook artifact as v5, so the whole two-stage path is
    // hash-oracled: the oracle replays encode, the 8×16 ADC lookup table
    // (per-sub CASE chains summed in subspace order — the identical
    // left-associative double fold), the (adc, vec_id) shortlist cut,
    // and the exact re-rank, all in DuckDB. SketchSpec additionally pins
    // bit-exact agreement with a driver-side LUT replay and recall vs
    // exact L2 top-k.
    "s6_pq_adc_topk" -> ((s, dir) => {
      val emb = Tables.table(s, dir, "embeddings").select("vec_id", "embedding")
      ProductQuantizer.adcTopK(emb, PqCodebook.Default, queryId = 0L,
        k = 10, shortlist = 50)
    }),

    // — IVFADC (s8): s4's cell routing UNDER s6's code-only scoring —
    //   the composed two-quantizer serving shape that actually runs at
    //   billion scale (faiss IVFx,PQy): probe nProbe cells, ADC-score
    //   only their members from 4-byte codes, exact-re-rank only the
    //   shortlist. Both quantizers are the PINNED offline artifacts
    //   (IvfCentroids.Default + PqCodebook.Default), so the entire
    //   composition — assignment argmin, probe cut, encode argmin, ADC
    //   lookup-table fold, shortlist, re-rank — replays in DuckDB and
    //   the query is hash-oracled end to end. At 100 TB the
    //   (vec_id, cell, codes) table is cell-partitioned parquet: the
    //   probe prunes at the FILE level and the scan is
    //   ~n·nProbe/nLists code rows; the float corpus stays cold for
    //   everything but the ≤shortlist re-rank fetch. —
    "s8_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.table(s, dir, "embeddings").select("vec_id", "embedding")
      ProductQuantizer.ivfAdcTopK(emb, IvfCentroids.Default,
        PqCodebook.Default, queryId = 0L, k = 10, nProbe = 4,
        shortlist = 50)
    }),

    // IVF ANN (s4): coarse-quantizer cells, probe the 4 nearest of 16.
    // Since r14 the registry entry serves from the PINNED centroid
    // artifact (ext/IvfCentroids.Default — IVFIndex.build's exact
    // seeded output on the sf0.01 embeddings with the derived-nLists
    // rule, regenerable via IvfPinGen): the faiss discipline where the
    // quantizer is an offline-trained artifact shipped to assignment,
    // which is ALSO what makes the whole probe ORACLE-expressible
    // (assignment argmin + probe-cell cut + in-cell cosine top-k all
    // replay in DuckDB over the centroid literals). Per-corpus training
    // with the EXECUTABLE constant-occupancy sizing rule stays the
    // first-class library path (IVFIndex.build + defaultNLists),
    // spec-tested in AnalyticsSpec (recall vs exact, determinism,
    // sizing-rule curve).
    "s4_ann_ivf" -> ((s, dir) =>
      IVFIndex.probe(
        IVFIndex.fromCentroids(
          Tables.table(s, dir, "embeddings").select("vec_id", "embedding"),
          IvfCentroids.Default),
        queryId = 0L, k = 10, nProbe = 4)),

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
    "d8_semantic_dedup" -> ((s, dir) =>
      SemanticDedup.dedupPinned(DocFixtures.embDup(s, dir),
          IvfCentroids.EmbDup, tau = 0.97, maxCell = D8MaxCell)
        .orderBy("vec_id")),

    // — multimodal —
    "m1_media_meta" -> ((s, dir) =>
      Multimodal.asMedia(DocFixtures.docs(s, dir))
        .select(col("doc_id"), length(col("blob")).cast("long").as("n_bytes"),
          // Spark's base64 MIME-chunks with CRLF every 76 chars; strip to
          // match the oracle's unchunked encoding.
          regexp_replace(base64(col("blob")), "\r\n", "").as("b64"))
        .orderBy("doc_id")),
    "m2_media_decode" -> ((s, dir) =>
      Multimodal.decode(Multimodal.asMedia(DocFixtures.docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("mean_byte"))
        .orderBy("doc_id")),
    // — multimodal retrieval composition: the full media path decode →
    //   feature vector → cosine top-k in one plan. The stub kernel's
    //   outputs (n_bytes, width, height, mean_byte — all exact rationals,
    //   m2's oracle-checkable contract) become the 4-dim feature vector,
    //   and retrieval is s1's broadcast-query scan over it (native dot
    //   kernel, left fold — bit-exact in the oracle). The point is the
    //   PLUMBING: a real pipeline swaps the stub for a CLIP-style encoder
    //   behind the same mapPartitions batch shape and this query's plan
    //   does not change. —
    "m6_media_knn" -> ((s, dir) => {
      val feats = Multimodal.decode(Multimodal.asMedia(DocFixtures.docs(s, dir)))
        .toDF()
        .select(col("doc_id"),
          array(col("n_bytes").cast("double"), col("width").cast("double"),
            col("height").cast("double"), col("mean_byte")).as("fv"))
      val q = feats.filter(col("doc_id") === 0).select(col("fv").as("qv"))
      feats.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("doc_id"),
          graft.functions.VectorOps.cosine(col("fv"), col("qv")).as("cosine"))
        .orderBy(col("cosine").desc, col("doc_id"))
        .limit(10)
    }),
    "m3_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"),
          regexp_replace(base64(col("frame")), "\r\n", "").as("b64"))
        .orderBy("doc_id", "frame_idx")),
    "m4_patch_grid" -> ((s, dir) =>
      Multimodal.patchGrid(Multimodal.asMedia(DocFixtures.docs(s, dir)),
          patch = 16)
        .orderBy("doc_id", "patch_id")),

    // — media frame dedup: exact byte-hash keep-first over the sampled
    //   frames — the "repeated intro/stinger" removal a video-corpus
    //   pipeline runs between frame sampling (m3) and feature extraction
    //   (m2): identical frames decode identically, so deduping BEFORE
    //   decode cuts the expensive stage's input. d1's shape on binary:
    //   hash at scan speed, one (fhash) shuffle, keep-first with the
    //   total (doc_id, frame_idx) tiebreak + an order-insensitive copy
    //   count on the same exchange. —
    "m5_frame_dedup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val frames = Multimodal.sampleFrames(DocFixtures.docs(s, dir),
          frameLen = 32, stride = 16, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("fhash"))
      frames
        .withColumn("rn", row_number().over(
          w.partitionBy("fhash").orderBy("doc_id", "frame_idx")))
        .withColumn("n_copies",
          count(lit(1)).over(w.partitionBy("fhash")).cast("long"))
        .filter(col("rn") === 1)
        .select(col("fhash"), col("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"), col("n_copies"))
        .orderBy("fhash")
    }),

    // — shot-boundary detection (m8): the scene-cut table between frame
    //   sampling (m3) and per-scene keyframe selection — a video corpus
    //   trains on one representative per SCENE, not per fixed-stride
    //   frame, and dedup (m5) collapses identical frames where this
    //   collapses CONTIGUOUS SIMILAR ones. Cut rule: exact per-frame
    //   byte-sum delta > 100 (integer feature per the stub charter —
    //   swap a histogram/embedding distance in, nothing downstream
    //   changes; threshold sits at ~p80 of the fixture's inter-frame
    //   deltas so the fixture yields a genuine 1–3-scene mix). Scene
    //   ids by b1's gap-islands cumsum; ONE doc exchange carries the
    //   lag window, the island sum and the per-scene rollup. All
    //   integers — no float surface. —
    "m8_scene_cut" -> ((s, dir) =>
      Multimodal.sceneCuts(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8, threshold = 100L)),

    // — per-scene keyframe selection (m9): the consumer m8's scene table
    //   exists for, closing the frame axis m3 (sample) → m5 (dedup) →
    //   m8 (scenes) → m9 (one representative per scene). The pick is a
    //   row_number over the per-scene total order (byte-energy desc,
    //   frame_idx asc — engine-stable under ties); with a real decoder
    //   the energy column becomes sharpness/saliency and the plan is
    //   unchanged. Same single doc exchange as m8 — the window grain is
    //   a subset of the scene rollup's. —
    "m9_keyframe_select" -> ((s, dir) =>
      Multimodal.keyframes(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8, threshold = 100L)),

    // — cross-media perceptual-hash near-dup (m10): the image-dedup
    //   shape (pHash → banded LSH → Hamming verify) on the media
    //   payload — m5 collapses identical FRAMES within the corpus;
    //   this finds whole-media pairs that differ by a few bytes
    //   (re-encodes, watermark stamps, metadata patches — the bulk of
    //   real image dup classes). Signature = the pHash downscale
    //   analogue on bytes: 60 positions spread evenly over the blob
    //   (pos_k = 1 + k·(len−1) div 60 — integer floors, both engines),
    //   bit = byte parity, packed to ONE 60-bit long. Candidates via
    //   the d3/d4 band trick — 4 bands × 15 bits, share-a-band
    //   equi-join, NEVER all-pairs (occupancy ~n²/2¹⁵ per band at this
    //   corpus; band width is the knob d3's analysis tunes at 100 TB)
    //   — then exact bit_count(xor) ≤ 3 verify. The docsNoisy fixture
    //   pins the contract: an in-place byte substitution moves ≤ 1
    //   sampled bit (caught), a shifted near-copy moves ~half the bits
    //   (correctly NOT a positional-dup — docsNear's class belongs to
    //   d2/d3). ASCII byte access via ascii/ord (the pinned fixture
    //   contract); empty docs filtered on both engines (ord('')
    //   raises in DuckDB). —
    "m10_phash_dup" -> ((s, dir) => {
      // Pre-fan-out sizing (r18): the 60-probe signature fold is an
      // interpreted HOF (~0.5 ms/row) and the derived fixture scans as
      // 2 partitions — profiled: the sig pass ran on 2 tasks, ~2.3 s CPU
      // each, TWICE (once per self-join side; the band-bucket build side
      // is a broadcast). The explicit-count repartition of the narrow
      // (doc_id, text) rows spreads both sig passes across the session's
      // parallelism.
      val sigs = PartitionOps.repartitionBeforeFanout(
          DocFixtures.docsNoisy(s, dir).filter(length(col("text")) >= 1))
        .select(col("doc_id"), expr(
          """aggregate(transform(sequence(0, 59), k ->
            |  CASE WHEN ascii(substr(text,
            |         cast(1 + (k * (length(text) - 1)) div 60 as int),
            |         1)) % 2 = 1
            |       THEN shiftleft(cast(1 as bigint), k)
            |       ELSE cast(0 as bigint) END),
            |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin)
          .as("sig"))
      val bands = sigs.select(col("doc_id"), col("sig"),
          explode(expr("""transform(sequence(0, 3), b ->
            |named_struct('band', b,
            |  'bv', shiftright(sig, b * 15) & 32767))""".stripMargin))
            .as("bb"))
        .select(col("doc_id"), col("sig"),
          col("bb.band").as("band"), col("bb.bv").as("bv"))
      val l = bands.select(col("doc_id").as("id1"), col("sig").as("sig1"),
        col("band"), col("bv"))
      val r = bands.select(col("doc_id").as("id2"), col("sig").as("sig2"),
        col("band"), col("bv"))
      l.join(r, Seq("band", "bv"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2", "sig1", "sig2")
        .distinct()
        .select(col("id1"), col("id2"),
          expr("cast(bit_count(sig1 ^ sig2) as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .orderBy("id1", "id2")
    }),

    // — vector aggregation: per-label centroid as exploded (label, pos,
    //   value) rows. Plain avg() over doubles is partition-order dependent;
    //   for cross-engine determinism each component is summed by a left
    //   fold in vec_id order (Spark `aggregate` ≡ DuckDB `list_reduce`),
    //   then divided by the count. The production swap-in is avg() — same
    //   single shuffle on (label, pos), no collect_list — when bit parity
    //   with another engine is not required.
    "v1_label_centroids" -> ((s, dir) =>
      exactCentroids(s, dir).orderBy("label", "pos")),

    // — inter-centroid cosine matrix: the cluster-separation diagnostic
    //   (are two labels' embedding populations distinguishable?) as an
    //   upper-triangle pair list. Everything stays exact-deterministic:
    //   centroids from v1's fold, and the three inner products (x·y,
    //   x·x, y·y) are themselves pos-ordered folds over the 64 paired
    //   components — collect_list buffers exactly dim structs per label
    //   pair, |labels|²/2 pairs total (a handful of rows at ANY corpus
    //   size: this is quadratic in LABELS, linear in data). The final
    //   cosine is one division of correctly-rounded sqrt products. —
    "v6_centroid_cosine" -> ((s, dir) => {
      val c = exactCentroids(s, dir).select("label", "pos", "value")
      val paired = c.as("a").join(c.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .select(col("a.label").as("l1"), col("b.label").as("l2"),
          col("a.pos").as("pos"), col("a.value").as("x"),
          col("b.value").as("y"))
      paired.groupBy("l1", "l2")
        .agg(collect_list(struct(col("pos"), col("x"), col("y"))).as("vals"))
        .select(col("l1"), col("l2"),
          foldDot(col("vals"), "x", "y").as("sxy"),
          foldDot(col("vals"), "x", "x").as("sxx"),
          foldDot(col("vals"), "y", "y").as("syy"))
        .select(col("l1"), col("l2"),
          (col("sxy") / (sqrt(col("sxx")) * sqrt(col("syy"))))
            .as("cosine"))
        .orderBy("l1", "l2")
    }),

    // The PRODUCTION centroid path: one partial-aggregated shuffle per
    // (label, pos), constant memory per group, no collect_list buffering
    // (v1's fold buffers the group's values to pin summation order —
    // correct but O(group) memory). Since r14 the sum is exact
    // fixed-point DECIMAL(38,0) — each component floor-quantized to
    // ×10¹² "ticks" (floor of a double is exact and engine-identical;
    // a rounding cast would hit HALF_UP-vs-nearest-even engine drift on
    // exact-half products), summed as integers (order-FREE, unlike the
    // double sum a plain avg() runs), divided back in one pinned
    // double funnel. That makes the result deterministic on any
    // partition layout AND hash-oracled — the r13 1e-9-pin test retired
    // for a DuckDB replay. ~12 significant decimals survive the ×10¹²
    // grain: the same device refine() uses (SemanticDedup.scala), with
    // ~10¹³ rows of precision-38 headroom per group. At 100 TB this is
    // the query to run; v1's fold is oracle scaffolding for the
    // bit-exact double-path twin.
    "v2_label_centroids_avg" -> ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.table(s, dir, "embeddings")
      e.select(col("label"),
        posexplode(graft.functions.VectorOps.toDouble(col("embedding")))
          .as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(sum(floor(col("x") * 1e12).cast(d38)).as("sx"),
          count(lit(1)).as("n_vectors"))
        .select(col("label"), col("pos").cast("long").as("pos"),
          ((col("sx").cast("double") / col("n_vectors").cast("double"))
            / 1e12).as("value"),
          col("n_vectors"))
        .orderBy("label", "pos")
    }),

    // — L2 normalization: unit-length vectors, the precondition for
    //   cosine-as-dot retrieval and for centroid updates. Fully
    //   deterministic DESPITE being float math: the norm is a left fold
    //   over ONE row's own array (native DotProduct expression ≡ DuckDB
    //   list_reduce, the proven s1 parity recipe), never a cross-row
    //   aggregate — so there is no partition-order caveat and the query
    //   oracles exactly. Narrow (zero shuffles before the presentation
    //   sort); exploded to rows because the checker can't hash arrays.
    //   Zero vectors normalize to NULL (both engines), not NaN — NaN
    //   hashes engine-dependently. —
    "v3_l2_normalize" -> ((s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      e.select(col("vec_id"),
          graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("norm", graft.functions.VectorOps.norm(col("v")))
        .select(col("vec_id"), col("norm"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          when(col("norm") === 0.0, lit(null).cast("double"))
            .otherwise(col("x") / col("norm")).as("value"))
        .orderBy("vec_id", "pos")
    }),

    // — symmetric int8 quantization (the embedding-storage diet at
    //   100 TB: 4× smaller vectors for ANN candidate generation, rerank
    //   on the fp32 originals): q = floor(x · 127/maxabs) per vector.
    //   Narrow scan-speed map like v3 — maxabs is a per-row array_max
    //   (order-free, so no fold caveat), the scale factor is computed
    //   once per vector and the multiply order is pinned identically in
    //   the oracle (IEEE-deterministic). Zero vectors quantize to NULL
    //   (v3's convention), exploded to rows for the checker. —
    "v4_quantize_int8" -> ((s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      e.select(col("vec_id"),
          graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
        .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
        .select(col("vec_id"), col("maxabs"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          when(col("maxabs") === 0.0, lit(null).cast("long"))
            .otherwise(floor(col("x") * (lit(127.0) / col("maxabs")))
              .cast("long")).as("q"))
        .orderBy("vec_id", "pos")
    }),

    // — Matryoshka truncation (MRL serving: keep the first k dims of a
    //   nested-trained embedding, renormalize, serve ANN at k-dim cost
    //   with fp32 rerank on the full vector — the v4 storage diet's
    //   dimensionality twin): v3's normalize over the 16-dim PREFIX.
    //   Same narrow scan-speed shape, same per-row fold norm (no
    //   cross-row float caveat), same zero→NULL convention; exploded
    //   per the v3/v4 row-output convention. —
    "v8_matryoshka_truncate" -> ((s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
      e.select(col("vec_id"),
          slice(graft.functions.VectorOps.toDouble(col("embedding")),
            1, 16).as("v"))
        .withColumn("norm", graft.functions.VectorOps.norm(col("v")))
        .select(col("vec_id"), col("norm"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          when(col("norm") === 0.0, lit(null).cast("double"))
            .otherwise(col("x") / col("norm")).as("value"))
        .orderBy("vec_id", "pos")
    }),

    // — int8 Gram / second-moment matrix (v10): the statistic embedding
    //   whitening, PCA-prep and anisotropy diagnostics need — G = Σ xxᵀ
    //   over the corpus — made aggregation-ORDER-FREE by computing it in
    //   the quantized domain: PER-TENSOR symmetric int8 (ONE global
    //   max-abs scale s, the standard per-tensor quantization — v4's
    //   per-vector scale would put a float s_u² inside the sum and
    //   reintroduce order dependence), so G_ij = s²·Σ q_ui·q_uj with an
    //   exact INTEGER inner sum. Upper triangle only (2080 of 64²
    //   cells), generated in-row by a nested transform + one explode;
    //   the groupBy(i,j) partial agg collapses everything map-side to
    //   ≤2080 rows per partition — the shuffle is FIXED-size at any
    //   corpus scale, the only corpus-sized work is the scan (the a1
    //   partial-agg discipline applied to a matrix). Products ≤ 127²,
    //   sums ride DECIMAL(38)/HUGEINT per the repo convention; the
    //   de-quantized gram value is one pinned double funnel
    //   (sum · ((maxabs/127)·(maxabs/127))). The one-row max-abs scalar
    //   is the whitelisted broadcast cross. —
    "v10_gram_int8" -> ((s, dir) =>
      gramInt8Of(Tables.table(s, dir, "embeddings")
        .select("vec_id", "embedding"))),

    // — PCA leading eigenvector by integer power iteration (v11): the
    //   dimensionality-reduction / anisotropy serving step ON TOP of
    //   v10 — the dominant principal direction of the corpus's
    //   second-moment matrix, computed without a single floating-point
    //   reduction. The corpus-sized work is exactly v10's one
    //   fixed-2080-cell shuffle; the 64×64 integer Gram then COLLECTS
    //   (the b15 reduced-model carve-out — ≤ dim² cells at ANY corpus
    //   size) and the power iteration runs driver-side in e6 fixed
    //   point: v ← (G·v)·10⁶ div max|G·v|, 20 rounds with exact
    //   early-stop (a reached fixed point is invariant under further
    //   rounds, so the oracle's fixed 20-round unroll replays the
    //   early-stopped result bit-for-bit). BigInt `/` truncates toward
    //   zero exactly like DuckDB's HUGEINT `//` — measured, not
    //   assumed — so negative components divide identically (the w16
    //   trap class, closed by construction). λ rides the same integer
    //   rail: λ_e6 = 10⁶·vᵀGv div vᵀv on exact integers (HUGEINT
    //   headroom ~10³⁴ of 10³⁸ used at the extreme). CONTRACT: the
    //   output is the 20-round iterate and its Rayleigh quotient — a
    //   certified lower bound on λ₁ (≥ trace/d always); on a
    //   near-isotropic spectrum (the test fixture: λ₂/λ₁ ≈ 0.93–0.98
    //   measured) no power method identifies THE eigenvector in
    //   bounded rounds, and the spec pins exactly what is guaranteed
    //   (recurrence replay, float tracking, Rayleigh bounds). At
    //   100 TB the shape is UNCHANGED: one scan, one constant-size
    //   shuffle, one 64×64 collect, zero iteration jobs. —
    "v11_pca_power" -> ((s, dir) =>
      pcaPowerOf(s, Tables.table(s, dir, "embeddings")
        .select("vec_id", "embedding"))),

    // — dense random projection (Johnson-Lindenstrauss): the embedding
    //   compression step BEFORE ANN at 100 TB — project the 64-dim
    //   vectors onto RpDim seeded Gaussian directions, y = (1/√RpDim)·Px,
    //   preserving pairwise squared L2 in expectation (E‖y_a−y_b‖² =
    //   ‖x_a−x_b‖²; SketchSpec pins the measured distortion at two
    //   scales). Narrow scan-speed map — RpDim native dot-product kernels
    //   per row, planes as plan literals; the 1/√16 = 0.25 scale is a
    //   power of two, so the final multiply is rounding-free and the
    //   oracle's left fold matches bit for bit. Exploded to
    //   (vec_id, dim, value) rows per the v3/v4 array-output convention. —
    "v7_random_projection" -> ((s, dir) => {
      val proj = array(Similarity.planes(RpDim, dim).map(p =>
        graft.functions.VectorOps.dot(col("v"), typedlit(p))
          * lit(RpScale)): _*)
      Tables.table(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
        .select(col("vec_id"), posexplode(proj).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("value"))
        .orderBy("vec_id", "dim")
    }))

  /** v7's target dimension and its exact JL scale (1/√16 — a power of
    * two, so scaling is rounding-free). Shared with the SketchSpec
    * distortion test.
    */
  val RpDim = 16
  val RpScale = 0.25

  /** Left-fold dot product, mirrored against Spark's
    * `aggregate(zip_with(...))` — `list_reduce` folds left-to-right like
    * Spark's `aggregate`, keeping the doubles bit-identical.
    */
  /** v1's exact-fold centroid: (label, pos, value, n_vectors), each
    * component summed in vec_id order so the doubles are engine-identical
    * (see the v1 comment). Shared by v1 and v6.
    */
  private def exactCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        posexplode(graft.functions.VectorOps.toDouble(col("embedding")))
          .as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(collect_list(struct(col("vec_id"), col("x"))).as("vals"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        (aggregate(transform(array_sort(col("vals")), p => p.getField("x")),
          lit(0.0), (a, x) => a + x) / col("n_vectors")).as("value"),
        col("n_vectors"))

  /** Left fold of f1·f2 over `vals` sorted by pos — the deterministic
    * inner product used by v6 (struct array_sort orders by the first
    * field, pos, which is unique within a pair).
    */
  private def foldDot(vals: org.apache.spark.sql.Column, f1: String,
      f2: String): org.apache.spark.sql.Column =
    aggregate(transform(array_sort(vals),
        p => p.getField(f1) * p.getField(f2)),
      lit(0.0), (a, x) => a + x)

  /** v10 core over an arbitrary (vec_id, embedding) frame. See the v10
    * registry comment for the per-tensor quantization / integer-Gram
    * derivation.
    */
  private[graft] def gramInt8Of(emb: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // Pre-fan-out sizing (r18): each vector row explodes into
    // dim·(dim+1)/2 = 2080 product cells below — the embeddings scan is
    // one small file (1 partition), so the whole Gram pass ran in ONE
    // task (profiled: 3.5–3.8 s single-task stage, the query's entire
    // cost). Explicit-count repartition of the narrow (id, vec) rows
    // spreads the cell generation + map-side partial agg across the
    // session's parallelism; the 2080-cell final agg is unchanged.
    val e = PartitionOps.repartitionBeforeFanout(
      emb.select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("v")))
    val mx = e.groupBy().agg(
      max(array_max(transform(col("v"), x => abs(x)))).as("maxabs"))
    val q = transform(col("v"), x =>
      when(col("maxabs") === 0.0, lit(0L))
        .otherwise(floor(x * (lit(127.0) / col("maxabs"))).cast("long")))
    // triangle bounds derive from the row's own vector width (r14
    // shipped a hardcoded dim = 64 — a silent-truncation hazard had the
    // embeddings fixture ever changed width; flagged by the verdict)
    val last = size(col("q")) - 1
    val tri = flatten(transform(sequence(lit(0), last), i =>
      transform(sequence(i, last), j =>
        struct(i.cast("long").as("i"), j.cast("long").as("j"),
          (element_at(col("q"), (i + 1).cast("int")) *
            element_at(col("q"), (j + 1).cast("int"))).as("p")))))
    e.crossJoin(broadcast(mx))
      .select(col("maxabs"), q.as("q"))
      .select(col("maxabs"), explode(tri).as("c"))
      .select(col("maxabs"), col("c.i").as("i"), col("c.j").as("j"),
        col("c.p").as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast(d38)).as("sum_q"),
        max("maxabs").as("maxabs"))
      .select(col("i"), col("j"), col("sum_q").cast("long").as("sum_q"),
        (col("sum_q").cast("double") *
          ((col("maxabs") / 127.0) * (col("maxabs") / 127.0)))
          .as("gram"))
      .orderBy("i", "j")
  }

  /** v11 core: v10's integer Gram, collected (≤ dim² cells — the b15
    * reduced-model carve-out), then driver-side e6 fixed-point power
    * iteration. See the v11 registry comment.
    */
  private[graft] def pcaPowerOf(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val tri = gramInt8Of(emb).select("i", "j", "sum_q").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2)))
    val (v, lambdaE6, _) = pcaPowerIterate(tri)
    v.zipWithIndex
      .map { case (x, d) => (d.toLong, x.toLong, lambdaE6.toLong) }
      .toSeq.toDF("dim", "v_e6", "lambda_e6").orderBy("dim")
  }

  /** The v11 integer recurrence on a collected upper-triangle Gram:
    * 20 rounds of v ← (G·v)·10⁶ div max|G·v| on BigInt (truncating
    * division — bit-identical to DuckDB HUGEINT `//` on BOTH signs),
    * early-stopped at an exact fixed point (invariant under further
    * rounds, so the oracle's full 20-round unroll agrees). Returns
    * (v_e6 components, λ_e6 = 10⁶·vᵀGv div vᵀv, rounds executed —
    * exposed so the spec pins convergence as evidence).
    */
  private[graft] def pcaPowerIterate(
      tri: Seq[(Int, Int, Long)]): (Array[BigInt], BigInt, Int) = {
    val E6 = BigInt(1000000)
    if (tri.isEmpty) return (Array.empty, BigInt(0), 0)
    val dim = tri.map(_._2).max + 1
    val g = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) g(i)(j) = BigInt(0)
    tri.foreach { case (i, j, q) => g(i)(j) = BigInt(q); g(j)(i) = BigInt(q) }
    var v = Array.fill(dim)(E6)
    var rounds = 0
    var stable = false
    while (rounds < 20 && !stable) {
      val sv = Array.tabulate(dim)(i =>
        (0 until dim).foldLeft(BigInt(0))((a, j) => a + g(i)(j) * v(j)))
      val m = sv.map(_.abs).max
      val nv = if (m == 0) Array.fill(dim)(BigInt(0))
        else sv.map(x => x * E6 / m)
      stable = nv.sameElements(v)
      v = nv
      rounds += 1
    }
    val num = (for (i <- 0 until dim; j <- 0 until dim)
      yield g(i)(j) * v(i) * v(j)).foldLeft(BigInt(0))(_ + _)
    val den = v.map(x => x * x).foldLeft(BigInt(0))(_ + _)
    val lambdaE6 = if (den == 0) BigInt(0) else E6 * num / den
    (v, lambdaE6, rounds)
  }

  /** v9 core over an arbitrary (vec_id, embedding) frame. See the v9
    * registry comment for the pack/popcount/re-rank derivation.
    */
  private[graft] def binaryHammingOf(emb: DataFrame,
      queryId: Long): DataFrame = {
    val bits = (lo: Int) => transform(
      slice(graft.functions.VectorOps.toDouble(col("embedding")), lo, 32),
      x => when(x >= 0.0, 1L).otherwise(0L))
    val pack = (c: org.apache.spark.sql.Column) =>
      aggregate(c, lit(0L), (a, x) => a * 2 + x)
    val packed = emb
      .select(col("vec_id"), col("embedding"),
        pack(bits(1)).as("lo"), pack(bits(33)).as("hi"))
    val q = packed.filter(col("vec_id") === queryId)
      .select(col("lo").as("qlo"), col("hi").as("qhi"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("qv"))
    val cand = packed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("qv"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))))
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(100)
    val v = graft.functions.VectorOps.toDouble(col("embedding"))
    cand
      .select(col("vec_id"), col("hamming"),
        (graft.functions.VectorOps.dot(v, col("qv")) /
          (graft.functions.VectorOps.norm(v) *
            graft.functions.VectorOps.norm(col("qv")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  private def duckDot(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> CAST($a[i+1] AS DOUBLE) * CAST($b[i+1] AS DOUBLE)), (x, y) -> x + y)"

  /** Squared L2 between two list columns — the same left fold of
    * (a_i − b_i)² as the native kernel (DotProduct.l2sq), so the double
    * is bit-identical cross-engine.
    */
  private def duckL2sq(a: String, b: String) =
    s"list_reduce(list_transform(range(len($a)), i -> (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE))), (x, y) -> x + y)"

  /** Seeded sign-LSH planes as DuckDB VALUES rows (w, p) with w = 2^i —
    * the v7 E-notation literal device applied to the bucketing planes.
    * The planes are deterministic given (numPlanes, dim, seed), so the
    * BUCKET ID is SQL-expressible after all: sum of the plane weights
    * whose fold-dot is ≥ 0 — an integer sum (order-free) over sign tests
    * of bit-identical doubles.
    */
  private def planeValues(numPlanes: Int): String =
    Similarity.planes(numPlanes, dim).zipWithIndex.map { case (p, i) =>
      val es = p.map(x =>
        String.format(java.util.Locale.ROOT, "%.17E", Double.box(x)))
      s"(${1L << i}, [${es.mkString(", ")}])"
    }.mkString(", ")

  /** Sign-LSH bucket CTE over `src` (vec_id, embedding) using plane
    * table `pl` — mirrors Similarity.signBuckets/bucketOf exactly.
    */
  private def duckBuckets(out: String, src: String): String =
    s"""$out AS (SELECT s.vec_id, s.embedding,
       |  CAST(SUM(CASE WHEN ${duckDot("s.embedding", "pl.p")} >= 0
       |           THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
       |  FROM $src s, pl GROUP BY s.vec_id, s.embedding)""".stripMargin

  /** A pinned centroid table (ext/IvfCentroids.scala) as DuckDB VALUES
    * rows (cell, c) — the same E-notation literal device as
    * [[pqCodebookRows]]. Shared by the s4 and d8 oracles.
    */
  private def ivfCentroidRows(cs: Array[(Int, Array[Double])]): String =
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
  private def duckAssign(out: String, src: String, cb: String): String =
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
  private def pqCodebookRows: String =
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
  private def pqEncodeCtes: String = {
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

  /** The m3/m5 frame construction + the m2 byte-fold device + the cut
    * cumsum as one CTE — (doc_id, frame_idx, bsum, scene_id), mirroring
    * [[graft.ext.Multimodal.sceneFrames]]. Shared by the m8 rollup and
    * m9 keyframe oracles. ascii() here is DuckDB's code-point read; it
    * matches Spark's first-byte ascii() on the ASCII-pinned fixture
    * (the executable contract in StreamAndMultimodalSpec).
    */
  private def duckSceneFrames: String =
    """scf AS (SELECT doc_id, frame_idx, bsum,
      |               CAST(SUM(CASE WHEN prev IS NOT NULL
      |                             AND abs(bsum - prev) > 100
      |                             THEN 1 ELSE 0 END)
      |                 OVER (PARTITION BY doc_id ORDER BY frame_idx
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND
      |                       CURRENT ROW) AS BIGINT) AS scene_id
      |        FROM (SELECT doc_id, frame_idx, bsum,
      |                     LAG(bsum) OVER (PARTITION BY doc_id
      |                                     ORDER BY frame_idx) AS prev
      |              FROM (SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
      |                           list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                             list_transform(range(length(fs)),
      |                               i -> CAST(ascii(substring(fs,
      |                                    CAST(i + 1 AS INTEGER), 1))
      |                                    AS BIGINT))),
      |                             (a, b) -> a + b) AS bsum
      |                    FROM (SELECT doc_id, k,
      |                                 substring(text, CAST(k * 16 + 1 AS INTEGER), 32) AS fs
      |                          FROM (SELECT doc_id, text,
      |                                       unnest(range(GREATEST(LEAST(CAST(floor((length(text) - 32) / 16.0) AS BIGINT) + 1, 8), 1))) AS k
      |                                FROM documents)))))""".stripMargin

  /** Polynomial rolling hash of a string column in DuckDB — mirrors
    * [[graft.functions.RollingHash.compute]] exactly for ASCII text
    * (bytes == code points); the same fold the t5 oracle uses.
    */
  private def duckRollingHash(c: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(length($c)),
       |    i -> CAST(unicode(substring($c, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
       |  (h, ch) -> (h * 131 + ch) % ${HashCoeffs.P})""".stripMargin

  private val tokensSql = "regexp_split_to_array(lower(trim(text)), '\\s+')"

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
      s"""${ExtensionQueries.docsNearSql},
         |${ExtensionQueries.shingleSql},
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
      s"""${ExtensionQueries.docsNearSql},
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

  /** s7 oracle: the UNROLLED greedy generated stage by stage — the same
    * MmrK chained picks the Spark plan states, same cosine trees, same
    * λ/μ literals, NOT-IN anti set, (mmr desc, vec_id) argmax.
    */
  private lazy val s7OracleSql: String = {
    def cos(a: String, b: String, na: String, nb: String) =
      s"${duckDot(a, b)} / ($na * $nb)"
    val stages = (2 to MmrK).map { i =>
      val prev = s"sel7_${i - 1}"
      s"""p7_$i AS (SELECT c.vec_id,
         |            $MmrLambda * c.rel - $MmrMu
         |              * MAX(${cos("c.embedding", "s.embedding", "c.nrm", "s.nrm")})
         |              AS mmr
         |          FROM cand7 c,
         |               (SELECT c2.* FROM cand7 c2
         |                JOIN $prev p ON c2.vec_id = p.vec_id) s
         |          WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |          GROUP BY c.vec_id, c.rel
         |          ORDER BY mmr DESC, c.vec_id LIMIT 1),
         |sel7_$i AS (SELECT * FROM $prev
         |            UNION ALL
         |            SELECT c.vec_id, c.rel, p.mmr, CAST($i AS BIGINT) AS rank
         |            FROM p7_$i p JOIN cand7 c USING (vec_id))""".stripMargin
    }
    Oracle.sqlWith(
      (Seq(
        "q7 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        s"""cand7 AS (SELECT e.vec_id, e.embedding,
           |                 sqrt(${duckDot("e.embedding", "e.embedding")})
           |                   AS nrm,
           |                 ${duckDot("e.embedding", "q7.qv")}
           |                   / (sqrt(${duckDot("e.embedding", "e.embedding")})
           |                      * sqrt(${duckDot("q7.qv", "q7.qv")})) AS rel
           |          FROM embeddings e, q7
           |          WHERE e.vec_id != 0
           |          ORDER BY rel DESC, vec_id LIMIT $MmrPool)""".stripMargin,
        """sel7_1 AS (SELECT vec_id, rel, rel AS mmr, CAST(1 AS BIGINT) AS rank
          |           FROM cand7 ORDER BY rel DESC, vec_id LIMIT 1)"""
          .stripMargin) ++ stages).mkString(",\n"),
      s"SELECT rank, vec_id, rel, mmr FROM sel7_$MmrK ORDER BY rank")
  }

  val oracles: Map[String, String] = Map(
    "s7_mmr_rerank" -> s7OracleSql,
    "d3_minhash_lsh" -> minhashOracle,
    "d4_simhash" -> simhashOracle,
    // m10 oracle: same docsNoisy union, same 60-position parity
    // signature (list comprehension ≡ the Spark fold), same 4×15-bit
    // band self-join, same xor/bit_count ≤ 3 verify
    "m10_phash_dup" -> Oracle.sqlWith(
      """nz10 AS (SELECT doc_id, text FROM documents
        |         UNION ALL
        |         SELECT doc_id + 4000000 AS doc_id,
        |                CASE WHEN length(text) >= 6
        |                     THEN substring(text, 1, 4) || 'x'
        |                          || substring(text, 6, length(text))
        |                     ELSE text END AS text
        |         FROM documents WHERE doc_id % 10 = 0),
        |sg10 AS (SELECT doc_id,
        |                CAST(list_sum([CASE WHEN ord(substring(text,
        |                      CAST(1 + (k * (length(text) - 1)) // 60
        |                        AS INTEGER), 1)) % 2 = 1
        |                    THEN (CAST(1 AS BIGINT) << k)
        |                    ELSE CAST(0 AS BIGINT) END
        |                    FOR k IN range(60)]) AS BIGINT) AS sig
        |         FROM nz10 WHERE length(text) >= 1),
        |bd10 AS (SELECT doc_id, sig, b,
        |                (sig >> CAST(b * 15 AS INTEGER)) & 32767 AS bv
        |         FROM sg10, range(4) t(b)),
        |cp10 AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
        |                l.sig AS sig1, r.sig AS sig2
        |         FROM bd10 l JOIN bd10 r
        |           ON l.b = r.b AND l.bv = r.bv
        |          AND l.doc_id < r.doc_id)""".stripMargin,
      """SELECT id1, id2,
        |       CAST(bit_count(xor(sig1, sig2)) AS BIGINT) AS hamming
        |FROM cp10
        |WHERE bit_count(xor(sig1, sig2)) <= 3
        |ORDER BY id1, id2""".stripMargin),
    // v9 oracle: the identical pack → popcount → re-rank statement —
    // same base-2 left fold (list_reduce seeded by a prepended 0, the
    // t5/x6 fold device), same (hamming, vec_id) candidate cut, same
    // fold-dot cosine on the survivors.
    "v9_binary_hamming_rerank" -> Oracle.sqlWith(
      s"""pk9 AS (SELECT vec_id, embedding,
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(embedding[1:32],
         |              x -> CASE WHEN x >= 0 THEN CAST(1 AS BIGINT)
         |                   ELSE CAST(0 AS BIGINT) END)),
         |            (a, x) -> a * 2 + x) AS lo,
         |          list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(embedding[33:64],
         |              x -> CASE WHEN x >= 0 THEN CAST(1 AS BIGINT)
         |                   ELSE CAST(0 AS BIGINT) END)),
         |            (a, x) -> a * 2 + x) AS hi
         |        FROM embeddings),
         |q9 AS (SELECT lo AS qlo, hi AS qhi, embedding AS qv
         |       FROM pk9 WHERE vec_id = 0),
         |hm9 AS (SELECT e.vec_id, e.embedding, q9.qv,
         |               CAST(bit_count(xor(e.lo, q9.qlo))
         |                    + bit_count(xor(e.hi, q9.qhi)) AS BIGINT)
         |                 AS hamming
         |        FROM pk9 e, q9 WHERE e.vec_id <> 0),
         |cd9 AS (SELECT vec_id, embedding, qv, hamming FROM hm9
         |        ORDER BY hamming, vec_id LIMIT 100)""".stripMargin,
      s"""SELECT vec_id, hamming,
         |       ${duckDot("embedding", "qv")}
         |         / (sqrt(${duckDot("embedding", "embedding")})
         |            * sqrt(${duckDot("qv", "qv")})) AS cosine
         |FROM cd9
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
    "s1_cosine_topk" -> Oracle.sqlWith(
      "q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
      s"""SELECT e.vec_id,
         |       ${duckDot("e.embedding", "q.qv")}
         |         / (sqrt(${duckDot("e.embedding", "e.embedding")})
         |            * sqrt(${duckDot("q.qv", "q.qv")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id != 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
    // s9 oracle: the full t23 BM25 pipeline + the s1 exact-cosine leg,
    // each cut to its top-20 and ranked, fused with the same pinned
    // 1/(60+rank) + 1/(60+rank) left-to-right double sum
    "s9_hybrid_rrf" -> Oracle.sqlWith(
      s"""tk9 AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf9 AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM tk9 GROUP BY 1, 2),
         |dl9 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |        FROM tk9 GROUP BY doc_id),
         |df9 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf9
         |        WHERE term IN ('scan', 'join', 'window') GROUP BY term),
         |st9x AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
         |                  AS nd,
         |                (SELECT CAST(COUNT(*) AS BIGINT) FROM tk9) AS tt),
         |sc9 AS (SELECT t.doc_id, t.term,
         |               (CAST(s.nd + 1 AS DOUBLE) / CAST(f.df + 1 AS DOUBLE))
         |               * (CAST(t.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         |               / (CAST(t.tf AS DOUBLE)
         |                  + CAST(1.2 AS DOUBLE)
         |                    * (CAST(0.25 AS DOUBLE)
         |                       + CAST(0.75 AS DOUBLE)
         |                         * (CAST(d.dl AS DOUBLE)
         |                            * CAST(s.nd AS DOUBLE)
         |                            / CAST(s.tt AS DOUBLE)))) AS s
         |        FROM tf9 t
         |        JOIN dl9 d ON t.doc_id = d.doc_id
         |        JOIN df9 f ON t.term = f.term, st9x s
         |        WHERE t.term IN ('scan', 'join', 'window')),
         |pv9 AS (SELECT doc_id,
         |               MAX(CASE WHEN term = 'scan' THEN s END) AS s_scan,
         |               MAX(CASE WHEN term = 'join' THEN s END) AS s_join,
         |               MAX(CASE WHEN term = 'window' THEN s END) AS s_window
         |        FROM sc9 GROUP BY doc_id),
         |bm9 AS (SELECT doc_id,
         |               COALESCE(s_scan, CAST(0.0 AS DOUBLE))
         |                 + COALESCE(s_join, CAST(0.0 AS DOUBLE))
         |                 + COALESCE(s_window, CAST(0.0 AS DOUBLE)) AS bm25
         |        FROM pv9
         |        ORDER BY bm25 DESC, doc_id LIMIT 20),
         |rb9 AS (SELECT doc_id,
         |               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
         |                 AS BIGINT) AS rank_bm25
         |        FROM bm9),
         |q9 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cs9 AS (SELECT e.vec_id AS doc_id,
         |               ${duckDot("e.embedding", "q9.qv")}
         |                 / (sqrt(${duckDot("e.embedding", "e.embedding")})
         |                    * sqrt(${duckDot("q9.qv", "q9.qv")})) AS cosine
         |        FROM embeddings e, q9
         |        WHERE e.vec_id != 0
         |        ORDER BY cosine DESC, doc_id LIMIT 20),
         |rc9 AS (SELECT doc_id,
         |               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
         |                 AS BIGINT) AS rank_cos
         |        FROM cs9)""".stripMargin,
      """SELECT COALESCE(rb9.doc_id, rc9.doc_id) AS doc_id,
        |       rank_bm25, rank_cos,
        |       COALESCE(CAST(1.0 AS DOUBLE)
        |                  / CAST(60 + rank_bm25 AS DOUBLE),
        |                CAST(0.0 AS DOUBLE))
        |         + COALESCE(CAST(1.0 AS DOUBLE)
        |                      / CAST(60 + rank_cos AS DOUBLE),
        |                    CAST(0.0 AS DOUBLE)) AS rrf
        |FROM rb9 FULL OUTER JOIN rc9 ON rb9.doc_id = rc9.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    "s3_knn_join" -> Oracle.sqlWith(
      s"""v AS (SELECT vec_id, embedding,
         |           sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |      FROM embeddings),
         |knn_pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |                     ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
         |              FROM v a JOIN v b ON a.vec_id != b.vec_id)""".stripMargin,
      """SELECT id1, id2, cosine
        |FROM (SELECT id1, id2, cosine,
        |             ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cosine DESC, id2) AS rn
        |      FROM knn_pairs)
        |WHERE rn <= 3 ORDER BY id1, id2""".stripMargin),
    "s5_knn_bucketed" -> Oracle.sqlWith(
      s"""embdup AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 100000, embedding FROM embeddings
         |           WHERE vec_id % 10 = 0),
         |vd AS (SELECT vec_id, embedding,
         |            sqrt(${duckDot("embedding", "embedding")}) AS nrm
         |       FROM embdup),
         |dup_pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |                     ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
         |              FROM vd a JOIN vd b ON a.vec_id != b.vec_id
         |              WHERE (a.vec_id % 10 = 0 AND a.vec_id < 100000)
         |                 OR a.vec_id >= 100000)""".stripMargin,
      """SELECT id1, id2, cosine
        |FROM (SELECT id1, id2, cosine,
        |             ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY cosine DESC, id2) AS rn
        |      FROM dup_pairs)
        |WHERE rn = 1 ORDER BY id1""".stripMargin),
    "m1_media_meta" -> Oracle.sql(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       to_base64(encode(text)) AS b64
        |FROM documents ORDER BY doc_id""".stripMargin),
    "v1_label_centroids" -> Oracle.sqlWith(
      """expl AS (SELECT label, vec_id, embedding,
        |                unnest(range(len(embedding))) AS pos
        |         FROM embeddings),
        |cent AS (SELECT label, pos,
        |                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                  list(CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
        |                       ORDER BY vec_id)),
        |                  (a, b) -> a + b) AS s,
        |                COUNT(*) AS n_vectors
        |         FROM expl GROUP BY label, pos)""".stripMargin,
      """SELECT label, CAST(pos AS BIGINT) AS pos, s / n_vectors AS value,
        |       n_vectors
        |FROM cent ORDER BY label, pos""".stripMargin),
    // v2 oracle: the fixed-point replay — floor(x·10¹²) is exact and
    // engine-identical (no rounding-mode surface, unlike a HALF_UP cast),
    // the DECIMAL(38,0) sum is order-free integer arithmetic, and the
    // value funnel (decimal→double, /n, /10¹²) is three correctly-rounded
    // ops in the same shape both engines.
    "v2_label_centroids_avg" -> Oracle.sql(
      """SELECT label, CAST(pos AS BIGINT) AS pos,
        |       (CAST(sx AS DOUBLE) / CAST(n_vectors AS DOUBLE)) / 1e12
        |         AS value,
        |       n_vectors
        |FROM (SELECT label, pos,
        |             SUM(CAST(floor(CAST(embedding[CAST(pos AS INTEGER) + 1]
        |                   AS DOUBLE) * 1e12) AS DECIMAL(38,0))) AS sx,
        |             COUNT(*) AS n_vectors
        |      FROM (SELECT label, vec_id, embedding,
        |                   unnest(range(len(embedding))) AS pos
        |            FROM embeddings)
        |      GROUP BY label, pos)
        |ORDER BY label, pos""".stripMargin),
    "v6_centroid_cosine" -> Oracle.sqlWith(
      """expl6 AS (SELECT label, vec_id, embedding,
        |                 unnest(range(len(embedding))) AS pos
        |          FROM embeddings),
        |cent6 AS (SELECT label, pos,
        |                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                   list(CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
        |                        ORDER BY vec_id)),
        |                   (a, b) -> a + b) / COUNT(*) AS value
        |          FROM expl6 GROUP BY label, pos),
        |pairs6 AS (SELECT a.label AS l1, b.label AS l2, a.pos,
        |                  a.value AS x, b.value AS y
        |           FROM cent6 a JOIN cent6 b
        |             ON a.pos = b.pos AND a.label < b.label),
        |fold6 AS (SELECT l1, l2,
        |                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                   list(x * y ORDER BY pos)), (a, b) -> a + b) AS sxy,
        |                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                   list(x * x ORDER BY pos)), (a, b) -> a + b) AS sxx,
        |                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                   list(y * y ORDER BY pos)), (a, b) -> a + b) AS syy
        |          FROM pairs6 GROUP BY l1, l2)""".stripMargin,
      """SELECT l1, l2, sxy / (sqrt(sxx) * sqrt(syy)) AS cosine
        |FROM fold6 ORDER BY l1, l2""".stripMargin),
    "v3_l2_normalize" -> Oracle.sql(
      s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos,
         |       CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
         |         / NULLIF(sqrt(${duckDot("embedding", "embedding")}), 0.0) AS value
         |FROM (SELECT vec_id, embedding,
         |             unnest(range(len(embedding))) AS pos
         |      FROM embeddings)
         |ORDER BY vec_id, pos""".stripMargin),
    // v8: v3's statement over the 16-dim prefix slice
    "v8_matryoshka_truncate" -> Oracle.sql(
      s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos,
         |       CAST(t[CAST(pos AS INTEGER) + 1] AS DOUBLE)
         |         / NULLIF(sqrt(${duckDot("t", "t")}), 0.0) AS value
         |FROM (SELECT vec_id, embedding[1:16] AS t,
         |             unnest(range(len(embedding[1:16]))) AS pos
         |      FROM embeddings)
         |ORDER BY vec_id, pos""".stripMargin),
    // maxabs is an order-free max (no fold caveat); the quantizer multiply
    // is parenthesized identically to the Spark side — x * (127.0 / m) —
    // so the doubles match bit for bit before the floor
    "v4_quantize_int8" -> Oracle.sql(
      """SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |       CASE WHEN m = 0.0 THEN NULL
        |            ELSE CAST(FLOOR(CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
        |                   * (127.0 / m)) AS BIGINT) END AS q
        |FROM (SELECT vec_id, embedding,
        |             list_aggregate(list_transform(embedding,
        |               x -> abs(CAST(x AS DOUBLE))), 'max') AS m,
        |             unnest(range(len(embedding))) AS pos
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin),
    // the stub decode kernel is a deterministic left fold over the payload
    // bytes (ASCII text: bytes == code points), so the decode output is
    // oracle-checkable even though the production kernel would not be
    "m2_media_decode" -> Oracle.sql(
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(32 + doc_id % 96 AS INTEGER) AS width,
        |       CAST(32 + (doc_id * 7) % 96 AS INTEGER) AS height,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(range(length(text)),
        |           i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS DOUBLE))),
        |         (a, b) -> a + b) / length(text) AS mean_byte
        |FROM documents ORDER BY doc_id""".stripMargin),
    // m6 oracle: the m2 decode contract re-derived as a 4-dim DOUBLE
    // vector, retrieval replayed with the same left-fold cosine as s1
    "m6_media_knn" -> Oracle.sqlWith(
      s"""m6feat AS (SELECT doc_id,
         |  [CAST(octet_length(encode(text)) AS DOUBLE),
         |   CAST(32 + doc_id % 96 AS DOUBLE),
         |   CAST(32 + (doc_id * 7) % 96 AS DOUBLE),
         |   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |     list_transform(range(length(text)),
         |       i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS DOUBLE))),
         |     (a, b) -> a + b) / length(text)] AS fv
         |  FROM documents),
         |m6q AS (SELECT fv AS qv FROM m6feat WHERE doc_id = 0)""".stripMargin,
      s"""SELECT f.doc_id,
         |       ${duckDot("f.fv", "q.qv")}
         |         / (sqrt(${duckDot("f.fv", "f.fv")})
         |            * sqrt(${duckDot("q.qv", "q.qv")})) AS cosine
         |FROM m6feat f, m6q q
         |WHERE f.doc_id != 0
         |ORDER BY cosine DESC, doc_id LIMIT 10""".stripMargin),
    // m8 oracle: the m3/m5 frame construction + the m2 byte-fold device
    // kept INTEGER (code points summed by the pinned fold — ascii(), the
    // m7 oracle's function, which in DuckDB IS the code point of the
    // first char), the same lag/threshold/gap-islands statement. The
    // cross-engine contract is pinned by the fixture, not the function:
    // Spark's ascii() is the first UTF-8 BYTE while DuckDB's is the code
    // POINT, equal only on pure-ASCII text — an executable assertion in
    // MultimodalSpec ("fixture contract: byte-fold corpus is pure
    // ASCII") holds the m2/m6/m7/m8 family to that input class.
    "m8_scene_cut" -> Oracle.sqlWith(duckSceneFrames,
      """SELECT doc_id, scene_id, MIN(frame_idx) AS frame_lo,
        |       MAX(frame_idx) AS frame_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(bsum) AS BIGINT) AS scene_bytes
        |FROM scf
        |GROUP BY doc_id, scene_id
        |ORDER BY doc_id, scene_id""".stripMargin),
    // m9 oracle: the shared scene-frame CTE + the per-scene ROW_NUMBER
    // pick, (bsum DESC, frame_idx) mirroring the plan's window order
    "m9_keyframe_select" -> Oracle.sqlWith(duckSceneFrames,
      """SELECT doc_id, scene_id, frame_idx AS key_frame,
        |       bsum AS key_energy, n_frames
        |FROM (SELECT doc_id, scene_id, frame_idx, bsum,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id, scene_id
        |               ORDER BY bsum DESC, frame_idx) AS rn,
        |             CAST(COUNT(*) OVER (PARTITION BY doc_id, scene_id)
        |               AS BIGINT) AS n_frames
        |      FROM scf)
        |WHERE rn = 1
        |ORDER BY doc_id, scene_id""".stripMargin),
    "m5_frame_dedup" -> Oracle.sql(
      """SELECT fhash, doc_id, frame_idx, n_copies
        |FROM (SELECT md5(fs) AS fhash, doc_id, CAST(k AS BIGINT) AS frame_idx,
        |             ROW_NUMBER() OVER (PARTITION BY md5(fs)
        |               ORDER BY doc_id, k) AS rn,
        |             CAST(COUNT(*) OVER (PARTITION BY md5(fs)) AS BIGINT)
        |               AS n_copies
        |      FROM (SELECT doc_id, k,
        |                   substring(text, CAST(k * 16 + 1 AS INTEGER), 32) AS fs
        |            FROM (SELECT doc_id, text,
        |                         unnest(range(GREATEST(LEAST(CAST(floor((length(text) - 32) / 16.0) AS BIGINT) + 1, 8), 1))) AS k
        |                  FROM documents)))
        |WHERE rn = 1 ORDER BY fhash""".stripMargin),
    "m3_frame_sample" -> Oracle.sql(
      """SELECT doc_id, k AS frame_idx,
        |       CAST(octet_length(encode(fs)) AS BIGINT) AS n_bytes,
        |       to_base64(encode(fs)) AS b64
        |FROM (SELECT doc_id, k,
        |             substring(text, CAST(k * 16 + 1 AS INTEGER), 32) AS fs
        |      FROM (SELECT doc_id, text,
        |                   unnest(range(GREATEST(LEAST(CAST(floor((length(text) - 32) / 16.0) AS BIGINT) + 1, 8), 1))) AS k
        |            FROM documents))
        |ORDER BY doc_id, frame_idx""".stripMargin),
    "m4_patch_grid" -> Oracle.sql(
      """SELECT doc_id, CAST(p AS BIGINT) AS patch_id,
        |       p % nx AS px, p // nx AS py,
        |       (p % nx) * 16 AS x0, (p // nx) * 16 AS y0,
        |       LEAST(16, width - (p % nx) * 16) AS pw,
        |       LEAST(16, height - (p // nx) * 16) AS ph
        |FROM (SELECT doc_id, width, height, nx,
        |             unnest(range(nx * ny)) AS p
        |      FROM (SELECT doc_id,
        |              CAST(32 + doc_id % 96 AS BIGINT) AS width,
        |              CAST(32 + (doc_id * 7) % 96 AS BIGINT) AS height,
        |              CAST(ceil((32 + doc_id % 96) / 16.0) AS BIGINT) AS nx,
        |              CAST(ceil((32 + (doc_id * 7) % 96) / 16.0) AS BIGINT) AS ny
        |            FROM documents))
        |ORDER BY doc_id, patch_id""".stripMargin),
    // s2 oracle: the seeded 4-plane bucket replay (planeValues/duckBuckets)
    // + s1's cosine scan restricted to the query's bucket — the sign-LSH
    // path was "engine-opaque" only while the bucket id was assumed so;
    // the planes are literals and the id is an integer sum of sign tests.
    "s2_ann_lsh_topk" -> Oracle.sqlWith(
      s"""pl AS (SELECT * FROM (VALUES ${planeValues(4)}) t(w, p)),
         |${duckBuckets("bk2", "embeddings")},
         |q2 AS (SELECT embedding AS qv, bucket AS qb FROM bk2
         |       WHERE vec_id = 0)""".stripMargin,
      s"""SELECT e.vec_id,
         |       ${duckDot("e.embedding", "q2.qv")}
         |         / (sqrt(${duckDot("e.embedding", "e.embedding")})
         |            * sqrt(${duckDot("q2.qv", "q2.qv")})) AS cosine
         |FROM bk2 e, q2
         |WHERE e.vec_id <> 0 AND e.bucket = q2.qb
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
    // d5 oracle: the seeded 12-plane bucket replay over the dup-injected
    // corpus (s5's embdup CTE), within-bucket ordered pairs, the same
    // fold-dot cosine against the same literal threshold.
    "d5_embedding_dup" -> {
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
    },
    // s4 oracle: the pinned centroid table replays the whole IVF probe —
    // assignment argmin (duckAssign mirrors assignCells), the (cd, cell)
    // 4-cell probe cut against the query vector, and s1's fold-dot
    // cosine top-k restricted to the probed cells.
    "s4_ann_ivf" -> Oracle.sqlWith(
      s"""cb4 AS (SELECT * FROM (VALUES ${ivfCentroidRows(IvfCentroids.Default)}) t(cell, c)),
         |${duckAssign("asg4", "embeddings", "cb4")},
         |q4 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |pc4 AS (SELECT cb4.cell FROM cb4, q4
         |        ORDER BY ${duckL2sq("q4.qv", "cb4.c")}, cb4.cell
         |        LIMIT 4)""".stripMargin,
      s"""SELECT a.vec_id,
         |       ${duckDot("a.embedding", "q4.qv")}
         |         / (sqrt(${duckDot("a.embedding", "a.embedding")})
         |            * sqrt(${duckDot("q4.qv", "q4.qv")})) AS cosine
         |FROM asg4 a JOIN pc4 USING (cell), q4
         |WHERE a.vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin),
    // d8 oracle: the pinned quantizer replays the SemDeDup keep-set —
    // assignment over the dup-injected corpus, the exact-value collapse
    // (min-id representative per (cell, value, zero-norm-singleton key)),
    // the within-cell ordered rep pairs against the same fold-dot cosine
    // threshold, and kept = representatives with no lower-id witness.
    // The occupancy-cap refine needs no model here: it is a no-op
    // whenever corpus rows ≤ maxCell (10k), which holds at every sweep
    // scale.
    "d8_semantic_dedup" -> {
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
    },
    // v5 oracle: the pinned codebook replays the broadcast-argmin encode
    // — 128 centroid literals, the same left-fold L2² (duckL2sq mirrors
    // the native kernel's loop), ROW_NUMBER (dist, code) mirroring
    // least(struct(d, code))'s tie-break.
    "v5_pq_codes" -> Oracle.sqlWith(
      pqEncodeCtes,
      """SELECT vec_id, CAST(sub AS BIGINT) AS sub,
        |       CAST(code AS BIGINT) AS code
        |FROM enc ORDER BY vec_id, sub""".stripMargin),
    // s6 oracle: v5's encode CTEs + the ADC lookup table from the one-row
    // query, per-vector score as a list_reduce over the 8 subspace terms
    // IN SUBSPACE ORDER (the same left-associative double fold as the
    // plan's reduce(_ + _)), the (adc, vec_id) 50-row shortlist cut, and
    // the exact-L2 re-rank of the survivors.
    "s6_pq_adc_topk" -> {
      val sub = PqCodebook.Default.subDim
      val qsl = s"q.qv[(cb.sub * $sub + 1):(cb.sub * $sub + $sub)]"
      Oracle.sqlWith(
        s"""$pqEncodeCtes,
           |q6 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |lut6 AS (SELECT cb.sub, cb.code,
           |                ${duckL2sq(qsl.replace("q.qv", "q6.qv"), "cb.c")} AS d
           |         FROM q6, cb),
           |adc6 AS (SELECT e.vec_id,
           |                list_reduce(list(l.d ORDER BY l.sub),
           |                  (x, y) -> x + y) AS adc_dist
           |         FROM enc e JOIN lut6 l USING (sub, code)
           |         WHERE e.vec_id <> 0
           |         GROUP BY e.vec_id),
           |sl6 AS (SELECT vec_id, adc_dist FROM adc6
           |        ORDER BY adc_dist, vec_id LIMIT 50)""".stripMargin,
        s"""SELECT s.vec_id, s.adc_dist,
           |       ${duckL2sq("e.embedding", "q6.qv")} AS l2_dist
           |FROM sl6 s JOIN embeddings e USING (vec_id), q6
           |ORDER BY l2_dist, vec_id LIMIT 10""".stripMargin)
    },
    // s8 oracle: s4's assignment + probe-cut CTEs composed with s6's
    // encode + LUT + fold CTEs — the ADC aggregation restricted to the
    // probed cells by the same equi-joins the plan runs, then the
    // identical shortlist cut and exact re-rank.
    "s8_ivfpq_topk" -> {
      val sub = PqCodebook.Default.subDim
      val qsl = s"q8.qv[(cb.sub * $sub + 1):(cb.sub * $sub + $sub)]"
      Oracle.sqlWith(
        s"""cbi8 AS (SELECT * FROM (VALUES ${ivfCentroidRows(IvfCentroids.Default)}) t(cell, c)),
           |${duckAssign("asgp8", "embeddings", "cbi8")},
           |$pqEncodeCtes,
           |q8 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |pc8 AS (SELECT cbi8.cell FROM cbi8, q8
           |        ORDER BY ${duckL2sq("q8.qv", "cbi8.c")}, cbi8.cell
           |        LIMIT 4),
           |lut8 AS (SELECT cb.sub, cb.code,
           |                ${duckL2sq(qsl, "cb.c")} AS d
           |         FROM q8, cb),
           |adc8 AS (SELECT e.vec_id,
           |                list_reduce(list(l.d ORDER BY l.sub),
           |                  (x, y) -> x + y) AS adc_dist
           |         FROM enc e
           |         JOIN lut8 l USING (sub, code)
           |         JOIN asgp8 a ON e.vec_id = a.vec_id
           |         JOIN pc8 ON a.cell = pc8.cell
           |         WHERE e.vec_id <> 0
           |         GROUP BY e.vec_id),
           |sl8 AS (SELECT vec_id, adc_dist FROM adc8
           |        ORDER BY adc_dist, vec_id LIMIT 50)""".stripMargin,
        s"""SELECT s.vec_id, s.adc_dist,
           |       ${duckL2sq("e.embedding", "q8.qv")} AS l2_dist
           |FROM sl8 s JOIN embeddings e USING (vec_id), q8
           |ORDER BY l2_dist, vec_id LIMIT 10""".stripMargin)
    },
    // v10 oracle: the same global-scale quantization (v4's floor device
    // with ONE per-tensor scale), the same upper-triangle product
    // enumeration, HUGEINT sums, the same pinned de-quantization funnel.
    // The triangle bound derives from the DATA (max vector width — the
    // r15 ADVICE close of the r14 hardcoded-dim hazard on the ORACLE
    // side), exactly as the Spark side derives it from the row's own
    // vector: a fixture width change now moves both engines together.
    "v10_gram_int8" -> Oracle.sqlWith(
      s"""mx10 AS (SELECT MAX(list_aggregate(
        |           list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |           'max')) AS maxabs
        |         FROM embeddings),
        |q10 AS (SELECT e.vec_id,
        |               list_transform(e.embedding, x ->
        |                 CASE WHEN m.maxabs = 0.0 THEN CAST(0 AS BIGINT)
        |                      ELSE CAST(FLOOR(CAST(x AS DOUBLE)
        |                        * (127.0 / m.maxabs))
        |                        AS BIGINT) END) AS q
        |        FROM embeddings e, mx10 m),
        |dm10 AS (SELECT CAST(MAX(len(embedding)) AS BIGINT) AS nd
        |         FROM embeddings),
        |ds10 AS (SELECT unnest(range(nd)) AS d FROM dm10),
        |ij10 AS (SELECT a.d AS i, b.d AS j
        |         FROM ds10 a, ds10 b WHERE b.d >= a.d),
        |g10 AS (SELECT u.i, u.j,
        |               CAST(SUM(CAST(q.q[u.i + 1] * q.q[u.j + 1]
        |                 AS HUGEINT)) AS HUGEINT) AS sum_q
        |        FROM q10 q, ij10 u GROUP BY u.i, u.j)""".stripMargin,
      """SELECT g.i, g.j, CAST(g.sum_q AS BIGINT) AS sum_q,
        |       CAST(g.sum_q AS DOUBLE)
        |         * ((m.maxabs / 127.0) * (m.maxabs / 127.0)) AS gram
        |FROM g10 g, mx10 m ORDER BY i, j""".stripMargin),
    // v11 oracle: v10's gram chain verbatim, mirrored to the full
    // symmetric matrix, then the SAME 20 power-iteration rounds
    // unrolled as CTEs — HUGEINT throughout, `//` truncating like
    // BigInt `/` on both signs, fixed points invariant so the full
    // unroll equals the early-stopped Spark recurrence. Rayleigh λ_e6
    // on the same integer rail.
    "v11_pca_power" -> {
      val rounds = (1 to 20).map { r =>
        s"""s11_$r AS MATERIALIZED (SELECT g.i AS d,
           |             CAST(SUM(g.v * v11_${r - 1}.v) AS HUGEINT) AS s
           |           FROM gf11 g JOIN v11_${r - 1}
           |             ON v11_${r - 1}.d = g.j GROUP BY g.i),
           |m11_$r AS MATERIALIZED (SELECT MAX(ABS(s)) AS m FROM s11_$r),
           |v11_$r AS MATERIALIZED (SELECT d,
           |             CASE WHEN m11_$r.m = 0 THEN CAST(0 AS HUGEINT)
           |                  ELSE (s * 1000000) // m11_$r.m END AS v
           |           FROM s11_$r, m11_$r)""".stripMargin
      }.mkString(",\n")
      Oracle.sqlWith(
        s"""mx11 AS MATERIALIZED (SELECT MAX(list_aggregate(
           |           list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
           |           'max')) AS maxabs
           |         FROM embeddings),
           |q11 AS MATERIALIZED (SELECT e.vec_id,
           |               list_transform(e.embedding, x ->
           |                 CASE WHEN m.maxabs = 0.0 THEN CAST(0 AS BIGINT)
           |                      ELSE CAST(FLOOR(CAST(x AS DOUBLE)
           |                        * (127.0 / m.maxabs))
           |                        AS BIGINT) END) AS q
           |        FROM embeddings e, mx11 m),
           |dm11 AS (SELECT CAST(MAX(len(embedding)) AS BIGINT) AS nd
           |         FROM embeddings),
           |ds11 AS (SELECT unnest(range(nd)) AS d FROM dm11),
           |ij11 AS (SELECT a.d AS i, b.d AS j
           |         FROM ds11 a, ds11 b WHERE b.d >= a.d),
           |g11 AS MATERIALIZED (SELECT u.i, u.j,
           |               CAST(CAST(SUM(CAST(q.q[u.i + 1] * q.q[u.j + 1]
           |                 AS HUGEINT)) AS HUGEINT) AS BIGINT) AS v
           |        FROM q11 q, ij11 u GROUP BY u.i, u.j),
           |gf11 AS MATERIALIZED (SELECT i, j, v FROM g11
           |         UNION ALL
           |         SELECT j AS i, i AS j, v FROM g11 WHERE i <> j),
           |v11_0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v
           |          FROM ds11),
           |$rounds,
           |ray11 AS (SELECT
           |            CAST(SUM(CAST(g.v AS HUGEINT) * va.v * vb.v)
           |              AS HUGEINT) AS num
           |          FROM gf11 g
           |          JOIN v11_20 va ON va.d = g.i
           |          JOIN v11_20 vb ON vb.d = g.j),
           |dn11 AS (SELECT CAST(SUM(v * v) AS HUGEINT) AS den
           |         FROM v11_20)""".stripMargin,
        """SELECT CAST(f.d AS BIGINT) AS dim, CAST(f.v AS BIGINT) AS v_e6,
          |       CASE WHEN d.den = 0 THEN CAST(0 AS BIGINT)
          |            ELSE CAST((1000000 * r.num) // d.den AS BIGINT)
          |            END AS lambda_e6
          |FROM v11_20 f, ray11 r, dn11 d
          |ORDER BY dim""".stripMargin)
    },
    // v7 oracle: the seeded planes are deterministic literal doubles, so
    // (unlike the sign-LSH buckets, where only the SIGN of this product
    // survives into an engine-opaque bucket id) the projection IS
    // SQL-expressible — inline the 16×64 plane matrix as a VALUES list
    // and replay the same left fold; ×0.25 is exact in both engines.
    // Elements are rendered in E-notation: DuckDB types a bare decimal
    // literal as DECIMAL and unifies the LIST to one (width, scale),
    // rounding long mantissas (measured: a last-ulp drift), while
    // E-notation parses straight to DOUBLE. 17 significant digits
    // round-trip any double exactly.
    "v7_random_projection" -> {
      val planeRows = Similarity.planes(RpDim, dim).zipWithIndex
        .map { case (p, j) =>
          val es = p.map(x =>
            String.format(java.util.Locale.ROOT, "%.17E", Double.box(x)))
          s"($j, [${es.mkString(", ")}])"
        }
        .mkString(", ")
      Oracle.sqlWith(
        s"planes AS (SELECT * FROM (VALUES $planeRows) t(dim, p))",
        s"""SELECT e.vec_id, CAST(pl.dim AS BIGINT) AS dim,
           |       ${duckDot("e.embedding", "pl.p")} * 0.25 AS value
           |FROM embeddings e, planes pl
           |ORDER BY vec_id, dim""".stripMargin)
    })
}
