package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{DocFixtures, Multimodal}
import graft.ext.DocFixtures.docs
import graft.queries.Common.duckDot

/** m*: multimodal — media metadata, stub decode, frame sampling, patch
  * grids, frame dedup, media kNN, audio VAD, scene cuts, keyframes and
  * perceptual-hash dedup over the documents table read as media payloads.
  */
object MQueries {

  /** m7 core over an arbitrary (doc_id, text) frame. See the m7 registry
    * comment for the stub-energy story.
    */
  private[graft] def vadSegmentsOf(d: DataFrame): DataFrame = {
    val fLen = 32
    val nFrames = greatest(
      (floor((length(col("text")) - fLen) / lit(fLen.toDouble)) + 1)
        .cast("int"), lit(1))
    val frames = d
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), nFrames.as("n_frames"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_frames") - 1),
          i => col("text").substr(i * fLen + 1, lit(fLen))))
          .as(Seq("frame_idx", "f")))
    val energy = aggregate(
      transform(sequence(lit(1), length(col("f"))),
        i => ascii(col("f").substr(i, lit(1))).cast("long")),
      lit(0L), (a, x) => a + x)
    val vw = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        energy.as("energy"), length(col("f")).cast("long").as("flen"))
      .filter(col("energy") >= lit(94L) * col("flen"))
      .withColumn("grp",
        col("frame_idx") - row_number().over(vw).cast("long"))
      .groupBy("doc_id", "grp")
      .agg(min("frame_idx").as("seg_start"),
        max("frame_idx").as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum("energy").as("energy"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "energy")
      .orderBy("doc_id", "seg_start")
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

  val all: Seq[Query] = Seq(
    // — multimodal —
    Query("m1_media_meta", ((s, dir) =>
      Multimodal.asMedia(DocFixtures.docs(s, dir))
        .select(col("doc_id"), length(col("blob")).cast("long").as("n_bytes"),
          // Spark's base64 MIME-chunks with CRLF every 76 chars; strip to
          // match the oracle's unchunked encoding.
          regexp_replace(base64(col("blob")), "\r\n", "").as("b64"))
        .orderBy("doc_id")), Some(Oracle.sql(
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       to_base64(encode(text)) AS b64
        |FROM documents ORDER BY doc_id""".stripMargin))),
    // oracle: the stub decode kernel is a deterministic left fold over the payload
    // bytes (ASCII text: bytes == code points), so the decode output is
    // oracle-checkable even though the production kernel would not be
    Query("m2_media_decode", ((s, dir) =>
      Multimodal.decode(Multimodal.asMedia(DocFixtures.docs(s, dir)))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("mean_byte"))
        .orderBy("doc_id")), Some(Oracle.sql(
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       CAST(32 + doc_id % 96 AS INTEGER) AS width,
        |       CAST(32 + (doc_id * 7) % 96 AS INTEGER) AS height,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list_transform(range(length(text)),
        |           i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS DOUBLE))),
        |         (a, b) -> a + b) / length(text) AS mean_byte
        |FROM documents ORDER BY doc_id""".stripMargin))),
    Query("m3_frame_sample", ((s, dir) =>
      Multimodal.sampleFrames(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("n_bytes"),
          regexp_replace(base64(col("frame")), "\r\n", "").as("b64"))
        .orderBy("doc_id", "frame_idx")), Some(Oracle.sql(
      """SELECT doc_id, k AS frame_idx,
        |       CAST(octet_length(encode(fs)) AS BIGINT) AS n_bytes,
        |       to_base64(encode(fs)) AS b64
        |FROM (SELECT doc_id, k,
        |             substring(text, CAST(k * 16 + 1 AS INTEGER), 32) AS fs
        |      FROM (SELECT doc_id, text,
        |                   unnest(range(GREATEST(LEAST(CAST(floor((length(text) - 32) / 16.0) AS BIGINT) + 1, 8), 1))) AS k
        |            FROM documents))
        |ORDER BY doc_id, frame_idx""".stripMargin))),
    Query("m4_patch_grid", ((s, dir) =>
      Multimodal.patchGrid(Multimodal.asMedia(DocFixtures.docs(s, dir)),
          patch = 16)
        .orderBy("doc_id", "patch_id")), Some(Oracle.sql(
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
        |ORDER BY doc_id, patch_id""".stripMargin))),
    // — media frame dedup: exact byte-hash keep-first over the sampled
    //   frames — the "repeated intro/stinger" removal a video-corpus
    //   pipeline runs between frame sampling (m3) and feature extraction
    //   (m2): identical frames decode identically, so deduping BEFORE
    //   decode cuts the expensive stage's input. d1's shape on binary:
    //   hash at scan speed, one (fhash) shuffle, keep-first with the
    //   total (doc_id, frame_idx) tiebreak + an order-insensitive copy
    //   count on the same exchange. —
    Query("m5_frame_dedup", ((s, dir) => {
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
    }), Some(Oracle.sql(
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
        |WHERE rn = 1 ORDER BY fhash""".stripMargin))),
    // — multimodal retrieval composition: the full media path decode →
    //   feature vector → cosine top-k in one plan. The stub kernel's
    //   outputs (n_bytes, width, height, mean_byte — all exact rationals,
    //   m2's oracle-checkable contract) become the 4-dim feature vector,
    //   and retrieval is s1's broadcast-query scan over it (native dot
    //   kernel, left fold — bit-exact in the oracle). The point is the
    //   PLUMBING: a real pipeline swaps the stub for a CLIP-style encoder
    //   behind the same mapPartitions batch shape and this query's plan
    //   does not change. —
    // m6 oracle: the m2 decode contract re-derived as a 4-dim DOUBLE
    // vector, retrieval replayed with the same left-fold cosine as s1
    Query("m6_media_knn", ((s, dir) => {
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
    }), Some(Oracle.sqlWith(
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
         |ORDER BY cosine DESC, doc_id LIMIT 10""".stripMargin))),
    // — audio activity segmentation (m7): the VAD (voice-activity
    //   detection) plumbing an audio curation pipeline needs before
    //   anything else — cut each clip into fixed-length frames, score
    //   per-frame energy, threshold, and merge consecutive active
    //   frames into segments (the unit ASR/captioning actually
    //   consumes). Media decode is STUBBED per the multimodal charter
    //   (m1–m6): document text bytes stand in for PCM samples and
    //   per-frame energy is the exact integer byte sum (mean byte ≥ 94
    //   ≈ "speech"; runs of spaces read as silence — a deterministic
    //   fake with the real pipeline's exact shape: swap the energy
    //   expression for a real RMS over decoded samples and nothing
    //   downstream changes). Frames are one posexplode (m3's shape),
    //   the run-length merge is the b1 gap-islands device keyed by
    //   frame_idx − row_number — per-doc windows over the FRAME table,
    //   bounded by clip length, never corpus size. All integers →
    //   hash-oracled. —
    // m7 oracle: same frames, same integer byte-sum energy, same
    // threshold, same gap-islands run-length merge
    Query("m7_audio_vad", ((s, dir) => vadSegmentsOf(docs(s, dir))), Some(Oracle.sqlWith(
      """fr7 AS (SELECT doc_id, i AS frame_idx,
        |               substring(text, CAST(i * 32 + 1 AS INTEGER), 32) AS f
        |        FROM (SELECT doc_id, text,
        |                     unnest(range(CAST(GREATEST(
        |                       FLOOR((length(text) - 32) / 32.0) + 1, 1)
        |                       AS BIGINT))) AS i
        |              FROM documents
        |              WHERE length(text) >= 1)),
        |en7 AS (SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |               CAST(list_sum(list_transform(range(length(f)),
        |                 j -> ascii(substring(f, CAST(j + 1 AS INTEGER), 1))))
        |                 AS BIGINT) AS energy,
        |               CAST(length(f) AS BIGINT) AS flen
        |        FROM fr7),
        |vo7 AS (SELECT doc_id, frame_idx, energy FROM en7
        |        WHERE energy >= 94 * flen),
        |is7 AS (SELECT doc_id, frame_idx, energy,
        |               frame_idx - ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY frame_idx) AS grp
        |        FROM vo7)""".stripMargin,
      """SELECT doc_id, MIN(frame_idx) AS seg_start,
        |       MAX(frame_idx) AS seg_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(energy) AS BIGINT) AS energy
        |FROM is7 GROUP BY doc_id, grp
        |ORDER BY doc_id, seg_start""".stripMargin))),
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
    // m8 oracle: the m3/m5 frame construction + the m2 byte-fold device
    // kept INTEGER (code points summed by the pinned fold — ascii(), the
    // m7 oracle's function, which in DuckDB IS the code point of the
    // first char), the same lag/threshold/gap-islands statement. The
    // cross-engine contract is pinned by the fixture, not the function:
    // Spark's ascii() is the first UTF-8 BYTE while DuckDB's is the code
    // POINT, equal only on pure-ASCII text — an executable assertion in
    // MultimodalSpec ("fixture contract: byte-fold corpus is pure
    // ASCII") holds the m2/m6/m7/m8 family to that input class.
    Query("m8_scene_cut", ((s, dir) =>
      Multimodal.sceneCuts(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8, threshold = 100L)),
      Some(Oracle.sqlWith(duckSceneFrames,
      """SELECT doc_id, scene_id, MIN(frame_idx) AS frame_lo,
        |       MAX(frame_idx) AS frame_hi,
        |       CAST(COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(SUM(bsum) AS BIGINT) AS scene_bytes
        |FROM scf
        |GROUP BY doc_id, scene_id
        |ORDER BY doc_id, scene_id""".stripMargin))),
    // — per-scene keyframe selection (m9): the consumer m8's scene table
    //   exists for, closing the frame axis m3 (sample) → m5 (dedup) →
    //   m8 (scenes) → m9 (one representative per scene). The pick is a
    //   row_number over the per-scene total order (byte-energy desc,
    //   frame_idx asc — engine-stable under ties); with a real decoder
    //   the energy column becomes sharpness/saliency and the plan is
    //   unchanged. Same single doc exchange as m8 — the window grain is
    //   a subset of the scene rollup's. —
    // m9 oracle: the shared scene-frame CTE + the per-scene ROW_NUMBER
    // pick, (bsum DESC, frame_idx) mirroring the plan's window order
    Query("m9_keyframe_select", ((s, dir) =>
      Multimodal.keyframes(DocFixtures.docs(s, dir),
        frameLen = 32, stride = 16, maxFrames = 8, threshold = 100L)),
      Some(Oracle.sqlWith(duckSceneFrames,
      """SELECT doc_id, scene_id, frame_idx AS key_frame,
        |       bsum AS key_energy, n_frames
        |FROM (SELECT doc_id, scene_id, frame_idx, bsum,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id, scene_id
        |               ORDER BY bsum DESC, frame_idx) AS rn,
        |             CAST(COUNT(*) OVER (PARTITION BY doc_id, scene_id)
        |               AS BIGINT) AS n_frames
        |      FROM scf)
        |WHERE rn = 1
        |ORDER BY doc_id, scene_id""".stripMargin))),
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
    // m10 oracle: same docsNoisy union, same 60-position parity
    // signature (list comprehension ≡ the Spark fold), same 4×15-bit
    // band self-join, same xor/bit_count ≤ 3 verify
    Query("m10_phash_dup", ((s, dir) => {
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
    }), Some(Oracle.sqlWith(
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
        |ORDER BY id1, id2""".stripMargin))))
}
