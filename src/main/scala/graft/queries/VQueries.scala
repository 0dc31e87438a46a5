package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{PqCodebook, ProductQuantizer, Similarity}
import graft.ext.Vectors.{dim, gramInt8Of, pcaPowerIterate}
import graft.queries.Common.{duckDot, pqEncodeCtes}

/** v*: embedding vector operators — label centroids, normalization,
  * int8/PQ quantization, random projection, Matryoshka truncation,
  * binary re-rank, Gram matrices and PCA by power iteration.
  */
object VQueries {

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

  val all: Seq[Query] = Seq(
    // — vector aggregation: per-label centroid as exploded (label, pos,
    //   value) rows. Plain avg() over doubles is partition-order dependent;
    //   for cross-engine determinism each component is summed by a left
    //   fold in vec_id order (Spark `aggregate` ≡ DuckDB `list_reduce`),
    //   then divided by the count. The production swap-in is avg() — same
    //   single shuffle on (label, pos), no collect_list — when bit parity
    //   with another engine is not required.
    Query("v1_label_centroids", ((s, dir) =>
      exactCentroids(s, dir).orderBy("label", "pos")), Some(Oracle.sqlWith(
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
        |FROM cent ORDER BY label, pos""".stripMargin))),
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
    // v2 oracle: the fixed-point replay — floor(x·10¹²) is exact and
    // engine-identical (no rounding-mode surface, unlike a HALF_UP cast),
    // the DECIMAL(38,0) sum is order-free integer arithmetic, and the
    // value funnel (decimal→double, /n, /10¹²) is three correctly-rounded
    // ops in the same shape both engines.
    Query("v2_label_centroids_avg", ((s, dir) => {
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
    }), Some(Oracle.sql(
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
        |ORDER BY label, pos""".stripMargin))),
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
    Query("v3_l2_normalize", ((s, dir) => {
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
    }), Some(Oracle.sql(
      s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos,
         |       CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
         |         / NULLIF(sqrt(${duckDot("embedding", "embedding")}), 0.0) AS value
         |FROM (SELECT vec_id, embedding,
         |             unnest(range(len(embedding))) AS pos
         |      FROM embeddings)
         |ORDER BY vec_id, pos""".stripMargin))),
    // — symmetric int8 quantization (the embedding-storage diet at
    //   100 TB: 4× smaller vectors for ANN candidate generation, rerank
    //   on the fp32 originals): q = floor(x · 127/maxabs) per vector.
    //   Narrow scan-speed map like v3 — maxabs is a per-row array_max
    //   (order-free, so no fold caveat), the scale factor is computed
    //   once per vector and the multiply order is pinned identically in
    //   the oracle (IEEE-deterministic). Zero vectors quantize to NULL
    //   (v3's convention), exploded to rows for the checker. —
    // oracle: maxabs is an order-free max (no fold caveat); the quantizer multiply
    // is parenthesized identically to the Spark side — x * (127.0 / m) —
    // so the doubles match bit for bit before the floor
    Query("v4_quantize_int8", ((s, dir) => {
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
    }), Some(Oracle.sql(
      """SELECT vec_id, CAST(pos AS BIGINT) AS pos,
        |       CASE WHEN m = 0.0 THEN NULL
        |            ELSE CAST(FLOOR(CAST(embedding[CAST(pos AS INTEGER) + 1] AS DOUBLE)
        |                   * (127.0 / m)) AS BIGINT) END AS q
        |FROM (SELECT vec_id, embedding,
        |             list_aggregate(list_transform(embedding,
        |               x -> abs(CAST(x AS DOUBLE))), 'max') AS m,
        |             unnest(range(len(embedding))) AS pos
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin))),
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
    // v5 oracle: the pinned codebook replays the broadcast-argmin encode
    // — 128 centroid literals, the same left-fold L2² (duckL2sq mirrors
    // the native kernel's loop), ROW_NUMBER (dist, code) mirroring
    // least(struct(d, code))'s tie-break.
    Query("v5_pq_codes", ((s, dir) => {
      val emb = Tables.table(s, dir, "embeddings").select("vec_id", "embedding")
      ProductQuantizer.encode(emb, PqCodebook.Default)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
        .orderBy("vec_id", "sub")
    }), Some(Oracle.sqlWith(
      pqEncodeCtes,
      """SELECT vec_id, CAST(sub AS BIGINT) AS sub,
        |       CAST(code AS BIGINT) AS code
        |FROM enc ORDER BY vec_id, sub""".stripMargin))),
    // — inter-centroid cosine matrix: the cluster-separation diagnostic
    //   (are two labels' embedding populations distinguishable?) as an
    //   upper-triangle pair list. Everything stays exact-deterministic:
    //   centroids from v1's fold, and the three inner products (x·y,
    //   x·x, y·y) are themselves pos-ordered folds over the 64 paired
    //   components — collect_list buffers exactly dim structs per label
    //   pair, |labels|²/2 pairs total (a handful of rows at ANY corpus
    //   size: this is quadratic in LABELS, linear in data). The final
    //   cosine is one division of correctly-rounded sqrt products. —
    Query("v6_centroid_cosine", ((s, dir) => {
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
    }), Some(Oracle.sqlWith(
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
        |FROM fold6 ORDER BY l1, l2""".stripMargin))),
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
    Query("v7_random_projection", ((s, dir) => {
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
    }), Some({
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
    })),
    // — Matryoshka truncation (MRL serving: keep the first k dims of a
    //   nested-trained embedding, renormalize, serve ANN at k-dim cost
    //   with fp32 rerank on the full vector — the v4 storage diet's
    //   dimensionality twin): v3's normalize over the 16-dim PREFIX.
    //   Same narrow scan-speed shape, same per-row fold norm (no
    //   cross-row float caveat), same zero→NULL convention; exploded
    //   per the v3/v4 row-output convention. —
    // v8 oracle: v3's statement over the 16-dim prefix slice
    Query("v8_matryoshka_truncate", ((s, dir) => {
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
    }), Some(Oracle.sql(
      s"""SELECT vec_id, CAST(pos AS BIGINT) AS pos,
         |       CAST(t[CAST(pos AS INTEGER) + 1] AS DOUBLE)
         |         / NULLIF(sqrt(${duckDot("t", "t")}), 0.0) AS value
         |FROM (SELECT vec_id, embedding[1:16] AS t,
         |             unnest(range(len(embedding[1:16]))) AS pos
         |      FROM embeddings)
         |ORDER BY vec_id, pos""".stripMargin))),
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
    // v9 oracle: the identical pack → popcount → re-rank statement —
    // same base-2 left fold (list_reduce seeded by a prepended 0, the
    // t5/x6 fold device), same (hamming, vec_id) candidate cut, same
    // fold-dot cosine on the survivors.
    Query("v9_binary_hamming_rerank", ((s, dir) =>
      binaryHammingOf(Tables.table(s, dir, "embeddings"), queryId = 0L)), Some(Oracle.sqlWith(
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
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin))),
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
    // v10 oracle: the same global-scale quantization (v4's floor device
    // with ONE per-tensor scale), the same upper-triangle product
    // enumeration, HUGEINT sums, the same pinned de-quantization funnel.
    // The triangle bound derives from the DATA (max vector width — the
    // r15 ADVICE close of the r14 hardcoded-dim hazard on the ORACLE
    // side), exactly as the Spark side derives it from the row's own
    // vector: a fixture width change now moves both engines together.
    Query("v10_gram_int8", ((s, dir) =>
      gramInt8Of(Tables.table(s, dir, "embeddings")
        .select("vec_id", "embedding"))), Some(Oracle.sqlWith(
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
        |FROM g10 g, mx10 m ORDER BY i, j""".stripMargin))),
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
    // v11 oracle: v10's gram chain verbatim, mirrored to the full
    // symmetric matrix, then the SAME 20 power-iteration rounds
    // unrolled as CTEs — HUGEINT throughout, `//` truncating like
    // BigInt `/` on both signs, fixed points invariant so the full
    // unroll equals the early-stopped Spark recurrence. Rayleigh λ_e6
    // on the same integer rail.
    Query("v11_pca_power", ((s, dir) =>
      pcaPowerOf(s, Tables.table(s, dir, "embeddings")
        .select("vec_id", "embedding"))), Some({
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
    })))
}
