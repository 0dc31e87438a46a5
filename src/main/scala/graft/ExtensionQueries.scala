package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{Dedup, DocFixtures, HashCoeffs, TextAnalysis}

/** LLM-training-data pipeline operators (builder north star, BASELINE.json):
  * text analysis (t*), JSON extraction (e*), deduplication (d*), batch
  * sessionization (b*). Dedup/near-dup queries inject deterministic
  * duplicates (the driver testdata is clean — FIXTURES.md §3) so the checks
  * are meaningful: every 10th document is copied (d1) or copied minus its
  * first word (d2).
  */
object ExtensionQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  /** x13's two-sided-geometric (discrete Laplace) CDF thresholds for
    * ε = 1: T_k = floor(P(K ≤ k)·2⁶⁰) with α = e⁻¹, k = −20..19 —
    * P(K=0) = (1−α)/(1+α), P(K=±j) = P(K=0)·α^j, tails past ±20
    * (mass ~2·10⁻⁹) fold into the endpoints. The double-evaluated
    * floors, pinned verbatim for query + oracle + spec (the
    * PoissonCdf60 device): a 60-bit uniform u maps to
    * noise = #{k : u ≥ T_k} − 20 ∈ [−20, 20]. */
  val DpGeomCdf60: Seq[Long] = Seq(
    1737249836L, 4722334662L, 12836636500L, 34893595737L,
    94850627221L, 257830736394L, 700856605558L, 1905125775245L,
    5178668775777L, 14077081228805L, 38265474102003L, 104016342908847L,
    282745734791883L, 768582592959078L, 2089224096110597L,
    5679099896036210L, 15437394049398882L, 41963187723242784L,
    114067770652306528L, 310068348176998784L, 842853156429848192L,
    1038853733954540416L, 1110958316883604224L, 1137484110557448064L,
    1147242404710810752L, 1150832280510736384L, 1152152922013887872L,
    1152638758872055040L, 1152817488263938176L, 1152883239132744960L,
    1152907427525618176L, 1152916325938071168L, 1152919599481071744L,
    1152920803750241408L, 1152921246776110592L, 1152921409756219776L,
    1152921469713251200L, 1152921491770210432L, 1152921499884512256L,
    1152921502869597184L)

  /** m7 core over an arbitrary (doc_id, text) frame — shared with
    * ScaleProbe. See the m7 registry comment for the stub-energy story.
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

  /** t22 core over an arbitrary (doc_id, text) frame — shared with
    * ScaleProbe. See the t22 registry comment for the backoff ladder.
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

  /** x7 core, shared with the scale probe: layout-independent
    * pseudorandom permutation into training shards. Enumeration is
    * two-level — ranks from a window over (shard = 1st md5 hex digit,
    * sub = next `subWidth` hex digits) so every window group is a fixed
    * 1/16^(1+subWidth) corpus slice, plus per-group offsets from a
    * 16^(1+subWidth)-row cumulative count broadcast back; a single
    * per-shard row_number would pull 1/16 of a 100 TB corpus into ONE
    * window partition. Within a shard the hash's 1st char is constant
    * and the next chars ARE the sub-group, so sub-ascending ≡
    * h-ascending (sub is a PREFIX of the post-shard hash) and
    * offset(sub) + rank-within-sub ≡ rank by hash — exactly how the
    * oracle states it (one per-shard ROW_NUMBER), at EVERY width. The
    * "widen until a group fits an executor" rule is executable, not
    * prose: size subWidth with [[subWidthFor]].
    */
  private[graft] def shardShuffle(ids: DataFrame, subWidth: Int = 1): DataFrame = {
    require(subWidth >= 1 && subWidth <= 7, s"subWidth $subWidth out of range")
    val base = ids
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .select(col("doc_id"), col("h"),
        substring(col("h"), 1, 1).as("shard"),
        substring(col("h"), 2, subWidth).as("sub"))
    val rn = row_number()
      .over(Window.partitionBy("shard", "sub").orderBy("h", "doc_id"))
    val off = base.groupBy("shard", "sub").agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum("cnt").over(Window.partitionBy("shard").orderBy("sub")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("shard", "sub", "offset")
    base.withColumn("rn", rn.cast("long"))
      .join(broadcast(off), Seq("shard", "sub"))
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("rn") - lit(1L)).as("pos"))
  }

  /** x7's sub-width sizing rule: the narrowest width whose EXPECTED
    * window-group occupancy corpusRows / 16^(1+w) fits the target (md5
    * spreads uniformly, so observed group sizes track the expectation;
    * ExtensionsSpec bounds the realized max). Default target is
    * executor-comfortable row count for an id+hash projection; the gate
    * corpus resolves to width 1 (today's value), a corpus 16× past the
    * target widens to 2, and so on — the offset table stays a broadcast
    * (16^(1+w) rows: 65k at width 3, still trivial).
    */
  private[graft] def subWidthFor(corpusRows: Long,
      targetGroupRows: Long = 1L << 24): Int = {
    require(corpusRows > 0 && targetGroupRows > 0)
    var w = 1
    var groups = 256L
    while (w < 7 && corpusRows / groups > targetGroupRows) { w += 1; groups *= 16 }
    w
  }

  /** b2b's per-step conversion deadline: 10 days in microseconds. Chosen
    * against the thinned fixture so the bound BINDS without emptying the
    * funnel (88→24→6 at sf0.01 vs unbounded 88→44→10).
    */
  private[graft] val FunnelWindowUs = 240L * 3600L * 1000000L

  /** b2/b2b core: strict-ordered 3-stage funnel via chained window-mins
    * over ONE user_id hash partitioning (no orderBy → no sort), the
    * per-user groupBy reusing the same exchange. `windowUs` bounds each
    * stage's deadline after the previous stage's first qualifying event
    * (None = unbounded, b2's semantics). See the b2 registry comment.
    */
  private def funnelOf(events: DataFrame, windowUs: Option[Long]): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    def within(prev: org.apache.spark.sql.Column) = windowUs match {
      case Some(w) => col("us") >= prev && col("us") <= prev + w
      case None => col("us") >= prev
    }
    val staged = events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("s_us", min(when(col("event_type") === "signup",
        col("us"))).over(byUser))
      .withColumn("c_us", min(when(col("event_type") === "click" &&
        within(col("s_us")), col("us"))).over(byUser))
      .withColumn("p_us", min(when(col("event_type") === "purchase" &&
        within(col("c_us")), col("us"))).over(byUser))
    val perUser = staged.groupBy("user_id")
      .agg(min("s_us").as("s_us"), min("c_us").as("c_us"),
        min("p_us").as("p_us"))
    // count(col) skips nulls: users reaching each stage
    perUser
      .agg(count(col("s_us")).as("n1"), count(col("c_us")).as("n2"),
        count(col("p_us")).as("n3"))
      .select(explode(array(
        struct(lit(1L).as("stage_idx"), lit("signup").as("stage"),
          col("n1").as("n_users")),
        struct(lit(2L).as("stage_idx"), lit("click").as("stage"),
          col("n2").as("n_users")),
        struct(lit(3L).as("stage_idx"), lit("purchase").as("stage"),
          col("n3").as("n_users")))).as("r"), col("n1"))
      .select(col("r.stage_idx").as("stage_idx"), col("r.stage").as("stage"),
        col("r.n_users").as("n_users"),
        // try_divide: an empty funnel (n1 = 0) gives NULL, not an error
        try_divide(col("r.n_users").cast("double"), col("n1").cast("double"))
          .as("pct_of_first"))
      .orderBy("stage_idx")
  }

  /** w11 core over an arbitrary orders frame — shared with ScaleProbe
    * (replicated orders). See the w11 registry comment for the
    * no-sqrt/no-float inequality argument.
    */
  private[graft] def rollingAnomalyOf(orders: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val daily = orders
      .select(to_date(col("o_orderdate")).as("day"), cents.as("c"))
      .groupBy("day").agg(sum("c").as("v"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    val nv = col("n").cast(d38) * col("v").cast(d38)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("v").cast(d38)).over(w))
      .withColumn("q", sum(col("v").cast(d38) * col("v").cast(d38)).over(w))
      .select(col("day"), col("v").as("revenue_cents"),
        col("n").cast("long").as("n_days"),
        (col("n") === 7 &&
          (nv - col("s")) * (nv - col("s")) >
            lit(9).cast(d38) *
              (col("n").cast(d38) * col("q") - col("s") * col("s")))
          .as("is_anomaly"))
      .orderBy("day")
  }

  /** c25 core over an arbitrary (doc_id, text) corpus — shared with
    * ScaleProbe. See the c25 registry comment.
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

  /** x8's SCD2 version table, shared with its point-in-time consumer
    * j10: per-customer order-priority versions with half-open
    * [valid_from, valid_to) validity (NULL valid_to = current). See the
    * x8 registry comment for the one-exchange window-fusion argument.
    */
  private[graft] def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2HistoryOf(Tables.table(s, dir, "orders"))

  /** The same version derivation over an arbitrary orders frame (shared
    * with ScaleProbe, which feeds replicated orders).
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

  /** t16's hot-split production form (t16b): identical result, skew-proof
    * plan. The corpus-frequency equi-join hot-spots on stop-bigrams
    * ("of the") at 100 TB; splitting the count table by frequency fixes
    * the shape at the source — the HOT slice (cf ≥ hotMinCf) is tiny by
    * construction (it IS the repeated mass: ≤ total_occurrences/hotMinCf
    * distinct keys) and broadcasts, so hot occurrences never cross the
    * wire; the COLD slice keeps the equi-join shuffle but its per-key
    * multiplicity is < hotMinCf, so no reducer can melt (AQE skew-split
    * backstops residual partition imbalance — see the ExtensionsSpec
    * skewed-fixture proof). The slices are disjoint, so the union of the
    * two joins is exactly t16's join and the doc-level aggregate is
    * row-identical (shared oracle). The count table is materialized once
    * (localCheckpoint — vocabulary-bounded like t20's word table; on a
    * real cluster prefer checkpoint/persist) for two reasons: both
    * slices read one bigram-count shuffle instead of leaning on
    * ReuseExchange, and the cold join's build side becomes a BARE
    * sort-over-shuffle — the only shape AQE's OptimizeSkewedJoin
    * matches, so the runtime skew backstop is actually reachable (an
    * aggregate left between the shuffle and the join would disable it
    * silently).
    */
  private[graft] def bigramCommonnessHotSplit(d: DataFrame,
      hotMinCf: Long): DataFrame =
    hotSplitCore(d, _.withColumn("thr", lit(hotMinCf)))

  /** t16b's registry form: the hot/cold threshold max(2, nDocs/100)
    * derives from corpus size IN-PLAN (a one-row agg crossed in via
    * broadcast — the x9 device), so merely CONSTRUCTING the query runs
    * no Spark job (PlanDump/PlanSpec walk plans lazily).
    */
  private[graft] def bigramCommonnessHotSplitAuto(d: DataFrame): DataFrame =
    hotSplitCore(d, cf => cf.crossJoin(broadcast(
      d.agg(greatest(lit(2L), (count(lit(1)) / 100L).cast("long"))
        .as("thr")))))

  private def hotSplitCore(d: DataFrame,
      withThr: DataFrame => DataFrame): DataFrame = {
    val bg = d
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
    // lazy checkpoint: lineage still truncates at first ACTION, but
    // construction fires no job (eager was the default — it made every
    // plan-only consumer of the registry pay a count)
    val cf = withThr(bg.groupBy("bigram").agg(count(lit(1)).as("cf")))
      .localCheckpoint(false)
    val hot = bg.join(
      broadcast(cf.filter(col("cf") >= col("thr")).select("bigram", "cf")),
      "bigram")
    val cold = bg.join(
      cf.filter(col("cf") < col("thr")).select("bigram", "cf"), "bigram")
    hot.unionAll(cold)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("cf").cast("long").as("cf_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("cf_sum"),
        (col("cf_sum").cast("double") / col("n_bigrams")).as("commonness"))
      .orderBy("doc_id")
  }

  /** The t21/c8b/c9b shared tokenizer-learning step: 20 merges trained
    * over the corpus word-count table, projected to encode-ready rules.
    * ONE definition so the rule count and tuple shape cannot drift
    * between the encode query and its two curation consumers (BpeSpec's
    * exact replays assume they move in lockstep).
    */
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
  private def learnedMerges(d: DataFrame) = graft.ext.BpeMerges.Default

  /** w9 core on an arbitrary events frame (user_id, event_id, ts, value)
    * — split out so the scale probe can feed replicated volume.
    */
  private[graft] def mergeIntervals(events: DataFrame): DataFrame = {
    val us = unix_micros(col("ts"))
    val e = events.select(col("user_id"), col("event_id"),
      us.as("start_us"),
      (us + round(col("value") * 60000000.0).cast("long")).as("end_us"))
    val byUser = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    val prevMax = max("end_us")
      .over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    e.withColumn("new_island",
        when(prevMax.isNull || col("start_us") > prevMax, 1).otherwise(0))
      .withColumn("island", sum("new_island")
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .groupBy("user_id", "island")
      .agg(min("start_us").as("start_us"), max("end_us").as("end_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy("user_id", "island")
  }

  /** documents ∪ exact copies of every 10th doc (id + 1,000,000). */
  private def docsDup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** c6/c6b/c23's split of a corpus document: c2's md5 bucketing of
    * doc_id.
    */
  private def decontamSplit: Column =
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

  /** documents ∪ near-copies (first word dropped) of every 10th doc, ∪
    * two sub-shingle-width docs (graft.ext.DocFixtures.shortDocs — the
    * input class the whole-doc pseudo-shingle fallback must route
    * correctly, pinned by data since r14).
    */
  private[graft] def docsNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
      .unionAll(graft.ext.DocFixtures.shortDocs(s, dir))
  }

  // The near-dup family's shared lineages, held in graft.Shared per
  // (session, dir) like GraphQueries' adjacency/pairCounts (r19). SEVEN
  // queries re-derived the same candidate machinery per rep:
  // d2/c19/d11/d11b/d12 all score the one df-capped 7-gram candidate-pair
  // table (their thresholds are post-filters on the identical jaccard
  // column), d11/d11b/d12 additionally attach the identical pair texts,
  // and d6/d14 share the uncapped τ=0.5 pair list. A real corpus build
  // materializes the candidate table once and runs every verify/score
  // policy over it. Profiled at sf0.1: the candidate build was ~1.9 s of
  // d12's 2.3 s warm rep.

  /** [[docsNear]], cached — replaces the per-query localCheckpoints of
    * the derived fixture (one materialization either way; the cache is
    * shared across the family instead of rebuilt per query).
    */
  private def docsNearC(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "dnear", dir)(docsNear(s, dir))

  /** The df-capped τ=0 scored candidate pairs (id1, id2, jaccard) —
    * d2/c19 filter it by their thresholds (ngramJaccardPairs applies the
    * threshold as exactly this trailing filter, so the rows are
    * bit-identical), d11/d11b/d12 consume it through [[nearPairTexts]].
    */
  private def nearCands(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "ncands", dir)(
      Dedup.ngramJaccardPairs(docsNearC(s, dir), n = 7, threshold = 0.0,
        dfMax = Some(1000)))

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

  /** d6/d14's shared pair list — τ=0.5, NO df cap (their declared form;
    * the cap stays a d2-family statement).
    */
  private def nearCands05(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, "ncands05", dir)(
      Dedup.ngramJaccardPairs(docsNearC(s, dir), n = 7, threshold = 0.5))

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
  private def docsGopher(s: SparkSession, dir: String): DataFrame =
    gopherInject(docs(s, dir))
  /** The injection over an arbitrary (doc_id, text) frame — exposed so
    * ScaleProbe can replicate-then-inject (docsRep's token suffixes
    * keep 'line_i'/'batch_i' substring-matchable, so every replica
    * carries its own structure).
    */
  private[graft] def gopherInject(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 7 === 0, concat(gopherRep, lit(" # ## ...")))
        .when(col("doc_id") % 3 === 0,
          concat(gopherRep, lit(" and that have with")))
        .otherwise(gopherRep).as("text"))
  private def gopherRep =
    expr("""replace(replace(text, 'line', concat(chr(10), '- line')),
                    'batch', concat(chr(10), 'batch'))""")
  private val docsGopherSql =
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
  private def gopherLines(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
  private val gopherLinesSql =
    "list_filter(list_transform(string_split(text, chr(10)), " +
      "l -> trim(l)), l -> l <> '')"

  /** t27 core over an INJECTED (doc_id, text) frame — shared with
    * ScaleProbe so the probe times the shipped plan. See the t27
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

  /** c33 core over an INJECTED (doc_id, text) frame — shared with
    * ScaleProbe. See the c33 registry comment.
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

  private val docsDupSql =
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

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — text analysis —
    "t1_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("doc_id")),
    "t2_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScores(docs(s, dir)).orderBy("doc_id")),
    "t3_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(docs(s, dir)).orderBy("doc_id")),
    "t4_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("doc_id")),
    "t5_rolling_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("rhash"))
        .orderBy("doc_id")),
    "t9_clean_text" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.cleanText(col("text")).as("clean"))
        .orderBy("doc_id")),
    // winnowing (MOSS) local fingerprints — exploded to rows (the driver
    // checker cannot hash array columns); k=8-byte grams, w=8 windows
    "t10_winnow_fingerprints" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints
          .winnow_fingerprints(col("text"), 8, 8)).as("fp"))
        .orderBy("doc_id", "fp")),

    // Per-language length quantiles — the exact order statistics behind
    // length-filter threshold selection (drop docs below p05 / above p95
    // per language, never one global cutoff). percentile_disc is an
    // order stat: engine-exact, no float-summation caveat. Spark's
    // percentile_disc returns DOUBLE even over BIGINT input, while an
    // order statistic of a BIGINT column IS a BIGINT — cast back
    // (lossless) to keep the discrete-quantile type.
    "t12_length_quantiles" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p05"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p50"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)").cast("long").as("p95"))
        .orderBy("lang")),

    // PII scrub: count + mask emails / intl phone numbers / IPv4s over
    // the injected-PII corpus — narrow codegen'd regex, scan speed
    "t13_pii_redact" -> ((s, dir) =>
      TextAnalysis.piiRedact(docsPii(s, dir)).orderBy("doc_id")),

    // — PII span EXTRACTION (t13's dual): emit every matched span with
    //   its kind and in-document match index instead of masking in
    //   place — the shape an audit/reporting pass needs (t13 answers
    //   "scrub it", t17 answers "show me what leaked where"). Three
    //   scan-speed regexp_extract_all passes (same three patterns as
    //   t13, single definition in TextAnalysis) unioned; posexplode
    //   carries the match index so repeated identical spans in one doc
    //   still have a total (doc_id, kind, span_idx) order. —
    "t17_span_extract" -> ((s, dir) => {
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
    }),

    // Context-window chunking (W=64 tokens, stride 48 → 16-token
    // overlap): the training-sequence construction step; one posexplode,
    // no shuffle — output volume IS the operator's contract
    "c7_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkWindows(docs(s, dir).select("doc_id", "text"),
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")),

    // Gopher-style repetition filters: duplicate-word / top-word /
    // top-bigram fractions per doc — the signals that catch degenerate
    // boilerplate a quality score misses
    "t11_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(docs(s, dir)).orderBy("doc_id")),

    // — out-of-vocabulary rate: per-doc fraction of tokens outside the
    //   top-K corpus vocabulary (K=10 against this fixture's 31-word
    //   vocab so the signal is non-degenerate) — the cheap proxy for
    //   "how far is this doc from the corpus distribution" that catches
    //   boilerplate/garbage t2's shape score misses. Two passes by
    //   nature: vocab = partial-agg + TakeOrdered (tiny: K rows,
    //   broadcast), then per-token membership via a broadcast left join
    //   at scan speed. Counts and an integer-ratio double — no float
    //   caveat. —
    "t14_oov_rate" -> ((s, dir) => {
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
    }),

    // — lexical diversity: per-doc type/token ratio and hapax share —
    //   the repetition-adjacent signal (t11 measures REPEATED grams;
    //   this measures vocabulary breadth) used to drop template/boiler-
    //   plate docs whose quality score looks fine. Two partial-agg
    //   shuffles, (doc_id, token) then doc_id — linear like t8's tf
    //   stage; every emitted ratio is double division of exact counts. —
    "t15_type_token" -> ((s, dir) => {
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
    }),

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
    "t16_bigram_commonness" -> ((s, dir) => {
      val bg = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
      val cf = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
      bg.join(cf, "bigram")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_bigrams"),
          sum("cf").cast("long").as("cf_sum"))
        .select(col("doc_id"), col("n_bigrams"), col("cf_sum"),
          (col("cf_sum").cast("double") / col("n_bigrams")).as("commonness"))
        .orderBy("doc_id")
    }),

    // — t16's production twin for the stop-bigram hot keys its own
    //   comment prices: frequency-split the count table, broadcast the
    //   hot slice (occurrences ≥ 1% of docs — the "of the" mass), keep
    //   only the SKEW-FREE cold slice on the shuffled equi-join, union.
    //   Row-identical by disjointness — hash-proven by the SHARED t16
    //   oracle; hot-slice broadcast + cold-path AQE skew backstop are
    //   plan-asserted in ExtensionsSpec/PlanSpec. See
    //   [[bigramCommonnessHotSplit]]. —
    "t16b_bigram_hotsplit" -> ((s, dir) =>
      bigramCommonnessHotSplitAuto(docs(s, dir))),

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
    "t18_bigram_fluency" -> ((s, dir) => {
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
    }),

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
    "t19_simpson_diversity" -> ((s, dir) => {
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
    }),

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
    "t26_token_entropy" -> ((s, dir) => tokenEntropyOf(s, docs(s, dir))),

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
    "t27_gopher_rules" -> ((s, dir) => gopherRulesOf(docsGopher(s, dir))),

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
    "c33_repetition_signals" -> ((s, dir) =>
      repetitionSignalsOf(docsGopher(s, dir))),

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
    "c34_dsir_reweight" -> ((s, dir) => dsirReweightOf(s, docs(s, dir))),

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
    "t20_bpe_merges" -> ((s, dir) =>
      graft.ext.BpeTrainer.trainMerges(docs(s, dir).select("text"), 20)
        .orderBy("rank")),

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
    "t21_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ext.BpeTrainer.encodeTokenCounts(d.select("doc_id", "text"),
        learnedMerges(d))
    }),

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
    "c8b_token_budget_bpe" -> ((s, dir) => {
      val budget = 2000L
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "quality_score")
      val d = docs(s, dir)
      val bpe = graft.ext.BpeTrainer
        .encodeTokenCounts(d.select("doc_id", "text"), learnedMerges(d))
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
    }),

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
    "c9b_pack_sequences_bpe" -> ((s, dir) => {
      val seqLen = 1024L
      val d = docs(s, dir)
      val counted = graft.ext.BpeTrainer
        .encodeTokenCounts(d.select("doc_id", "text"), learnedMerges(d))
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
    }),

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
    "c9_pack_sequences" -> ((s, dir) => {
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
    }),

    // — curriculum quality binning: per-language quality quartiles
    //   (ntile after a doc_id-tiebroken sort → total order → the same
    //   bins on any engine). Exact-rank form: one window per language.
    //   lang cardinality is small, so at 100 TB the per-lang sort
    //   hot-spots like c8's exact form; the scale path is the same
    //   two-phase trade — approx per-lang quartile cutoffs (one narrow
    //   agg), broadcast, then bin by comparison at scan speed. —
    "c10_quality_bins" -> ((s, dir) => {
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "n_tokens", "quality_score")
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("bin", ntile(4).over(w).cast("long"))
        .orderBy("lang", "bin", "doc_id")
    }),

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
    "c10b_quality_bins_cutoffs" -> ((s, dir) => {
      val scored = TextAnalysis
        .withQuality(docs(s, dir).select("doc_id", "lang", "text"))
        .select("doc_id", "lang", "n_tokens", "quality_score")
      val cuts = scored.groupBy("lang").agg(
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY quality_score)").as("c75"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY quality_score)").as("c50"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY quality_score)").as("c25"))
      scored.join(broadcast(cuts), "lang")
        .withColumn("bin",
          when(col("quality_score") >= col("c75"), 1L)
            .when(col("quality_score") >= col("c50"), 2L)
            .when(col("quality_score") >= col("c25"), 3L)
            .otherwise(4L))
        .select("doc_id", "lang", "n_tokens", "quality_score", "bin")
        .orderBy("lang", "bin", "doc_id")
    }),

    // — domain mixture sampling: deterministic per-domain rates (the
    //   corpus-mixing step of training-data assembly — up/down-weight
    //   sources by language). Hash-gated with the SQL-expressible
    //   universal family, so the decision is partition- and
    //   engine-independent: rerunning anywhere keeps the same docs. —
    "c4_domain_mix" -> ((s, dir) => {
      val (a, b) = HashCoeffs.coeffs(1, MixSeed).head
      val h = ((lit(a) * col("doc_id") + lit(b)) % lit(HashCoeffs.P)) % lit(1000L)
      val keep = when(col("lang") === "en", lit(1000L))
        .when(col("lang") === "zh", lit(250L))
        .otherwise(lit(500L))
      docs(s, dir).filter(h < keep)
        .select(col("doc_id"), col("lang"), col("source"),
          (keep.cast("double") / lit(1000.0)).as("sample_rate"))
        .orderBy("doc_id")
    }),

    // — exact-k stratified sample: EXACTLY k docs per language, chosen
    //   by universal-hash rank (hash order ≡ a seeded uniform permutation,
    //   doc_id tiebreak → total order) — partition- and engine-
    //   independent like c4, but with a hard per-stratum count where c4
    //   has a rate. Exact form is one window per language; at 100 TB the
    //   scale path is a per-stratum k-bounded top-k aggregator (the a10
    //   TopKAggregator shape: shuffle k rows per stratum, never a full
    //   sort) or c4-style rate gating when ±√k error is acceptable. —
    "c11_stratified_sample" -> ((s, dir) => {
      val k = 20
      val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
      val h = (lit(a) * col("doc_id") + lit(b)) % lit(HashCoeffs.P)
      val w = Window.partitionBy("lang").orderBy(h, col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("lang"), col("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .orderBy("lang", "rn")
    }),

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
    "c11b_stratified_sample_topk" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val k = 20
      val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
      val h = (lit(a) * col("doc_id") + lit(b)) % lit(HashCoeffs.P)
      docs(s, dir)
        .select(col("lang"), h.as("h"), col("doc_id"), col("source"))
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
    }),

    // — per-source corpus diagnostics: the curation dashboard that decides
    //   which sources get down-weighted or dropped — dup rate (corpus-wide
    //   md5 collision), token volume, low-quality share. Every ratio is an
    //   integer-count division (doubles enter only at the final divide),
    //   so the profile is bit-exact cross-engine. Run on a dup-injected
    //   corpus (every 10th doc copied, source kept) so dup_frac is
    //   non-trivial. —
    "c5_source_profile" -> ((s, dir) => {
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
    }),

    // — semi-structured extraction —
    "e1_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // — JSON ARRAY parsing + explode: e1/e2 are scalar extracts; this is
    //   the one-row→many-rows semi-structured shape (tag lists, nested
    //   item arrays). The fixture synthesizes a 2-tag JSON array from
    //   props.k (the corpus carries only flat objects — same sanctioned
    //   injection device as docsPii); the operator under test is
    //   from_json(ArrayType) + explode, a narrow Generate at scan speed,
    //   zero shuffles before the presentation sort. The (event_id, tag)
    //   order is total: the two tags per event carry distinct prefixes. —
    "e3_json_explode" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      val tagsJson = concat(lit("[\"t"), pmod(k, lit(3)).cast("string"),
        lit("\",\"u"), pmod(k, lit(5)).cast("string"), lit("\"]"))
      // pre-parse spread (r19): the parse+explode is the per-row cost
      // and the events scan is 1 partition at sf0.1 — and the trailing
      // range sort samples its child, so the serial parse ran TWICE
      // (profiled: two single-task 0.7–1.4 s stages). The explicit
      // exchange moves the raw (event_id, props) rows once; both sort
      // passes re-run the parse 32-way off the materialized exchange.
      graft.PartitionOps.repartitionBeforeFanout(
          Tables.events(s, dir).select(col("event_id"), col("props")),
          col("event_id"))
        .select(col("event_id"), tagsJson.as("tags_json"))
        .select(col("event_id"),
          explode(from_json(col("tags_json"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))).as("tag"))
        .orderBy("event_id", "tag")
    }),

    // — dedup —
    "d1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docsDup(s, dir)).orderBy("doc_id")),
    "d2_ngram_jaccard" -> ((s, dir) =>
      // dfMax guards the shingle self-join against hot shingles; at this
      // corpus's max df (≈5) the cap is provably a no-op — the unchanged
      // oracle verifies that — while exercising the at-scale code path.
      // τ=0.5 as a filter over the shared τ=0 candidate cache is the
      // same trailing filter ngramJaccardPairs(threshold=0.5) plants.
      nearCands(s, dir).filter(col("jaccard") >= 0.5)
        .orderBy("id1", "id2")),
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
    "d11_edit_verify" -> ((s, dir) => {
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
    }),
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
    "d11b_edit_verify_banded" -> ((s, dir) => {
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
    }),
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
    "d12_edit_prefilter" -> ((s, dir) =>
      nearPairTexts(s, dir)
        .filter(levenshtein(col("t1"), col("t2")) <= 30)
        .select(col("id1"), col("id2"), col("jaccard"))
        .orderBy("id1", "id2")),
    // — asymmetric containment dedup (the quote/snippet case): a doc
    //   whose shingles are ⊆ another's has containment 1.0 but Jaccard
    //   ≈ |snippet|/|doc| — d2's symmetric score structurally misses it
    //   however perfect the inclusion. Same df-capped inverted index and
    //   the SAME one pair join as d2 (both directions emitted by one
    //   narrow two-struct explode — no extra shuffle, no subtree
    //   recompute), so the scale
    //   story is d2's probed-linear curve verbatim. τ = 0.8. —
    "d9_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docsSnippet(s, dir), n = 7, threshold = 0.8,
        dfMax = Some(1000))
        .orderBy("inner_id", "outer_id")),
    // — span-level dedup (keep-first): the C4/FineWeb "all but one
    //   occurrence of any repeated aligned span is deleted" rule. On the
    //   dup-injected fixture the copies (id ≥ 1,000,000) empty out while
    //   every original survives intact — the keep-first contrast with
    //   c18's remove-everywhere boilerplate policy (df of a copied span
    //   is 2, below c18's minDf=3: c18 would not touch this corpus). —
    "d10_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(docsDup(s, dir)).orderBy("doc_id")),
    "d6_dedup_clusters" -> ((s, dir) =>
      graft.ext.Clusters.connectedComponents(nearCands05(s, dir))
        .orderBy("id")),
    // — duplicate-cluster census (d14): the decision table a dedup run
    //   is FOR — how much of the corpus is duplicated, at what
    //   multiplicity (C4/FineWeb report exactly this before choosing a
    //   keep policy). d6's components, singletons restored by a left
    //   join (a doc in no near-dup pair is its own cluster of 1), then
    //   two bounded aggregates: cluster → size, size → (n_clusters,
    //   n_docs, share_e6). All corpus-sized work is d2+d6's probed
    //   machinery; the census rows are ≤ max-multiplicity, the share
    //   an exact 10⁶ floor on positives (no w16 sign hazard). —
    "d14_dup_census" -> ((s, dir) => {
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
    }),

    // — vocabulary / n-gram statistics —
    "t6_vocab_topk" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(100)),
    "t7_bigram_topk" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(explode(Dedup.shingles(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(100)),

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
    "t22_trigram_coverage" -> ((s, dir) =>
      trigramCoverageOf(graft.ext.DocFixtures.docsShort(s, dir))),


    // — schema'd JSON parsing (from_json with explicit schema) —
    "e2_json_schema" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .orderBy("event_id")),

    // — corrupt-record JSON handling: the error-taxonomy leg of the
    //   e-family (e1/e2/e3 assume clean JSON; real feeds carry
    //   malformed rows). Every 7th event's props is mangled with a
    //   leading '{' (unparseable in ANY JSON dialect — the injection is
    //   chosen so Spark's Jackson and DuckDB's json_valid cannot
    //   disagree at the margin), and the per-type rollup counts
    //   corrupt rows beside the valid-row field sum — the
    //   ingest-monitoring signal a pipeline alerts on. Detection uses
    //   from_json's columnNameOfCorruptRecord channel (PERMISSIVE mode
    //   does NOT null the struct on malformed input — it nulls the
    //   FIELDS and, when asked, preserves the raw record in the corrupt
    //   column; a bare rec.isNull check silently counts zero). Narrow
    //   parse at scan speed + one small rollup. —
    "e4_json_corrupt" -> ((s, dir) => {
      val mangled = when(col("event_id") % 7 === 0,
        concat(lit("{"), col("props"))).otherwise(col("props"))
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), mangled.as("props"))
        .withColumn("rec", from_json(col("props"),
          org.apache.spark.sql.types.StructType
            .fromDDL("k INT, _corrupt_record STRING"),
          Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("rec").getField("_corrupt_record").isNotNull, 1))
            .as("n_corrupt"),
          sum(col("rec").getField("k").cast("long")).as("sum_k"))
        .orderBy("event_type")
    }),

    // — end-to-end corpus cleaning: score → filter → exact-dedup, the
    //   composed LLM-data pipeline over a dup-injected corpus —
    "c1_corpus_pipeline" -> ((s, dir) => {
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
    }),

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
    "c8_token_budget" -> ((s, dir) => {
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
    }),

    // — incremental-ingestion dedup: a new batch lands against an already
    //   deduped corpus — drop batch docs whose content fingerprint exists
    //   in the corpus (anti-join on the md5 of normalized text), then
    //   exact-dedup within the batch (first doc_id wins). Fixture: docs
    //   with id < 400 are the standing corpus; the batch is the rest plus
    //   re-ingested copies of every 20th corpus doc (the dupes the
    //   anti-join must catch). At scale both sides hash-shuffle on the
    //   fingerprint only — no text moves; the corpus side is a slim
    //   (fingerprint) index you'd keep materialized between ingests. —
    "d7_incremental_dedup" -> ((s, dir) => {
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
    }),

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
    "c13_snapshot_diff" -> ((s, dir) => {
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
    }),

    // — fuzzy-dedup corpus build: quality gate FIRST (cheap narrow filter
    //   shrinks the corpus before any pair generation), then near-dup
    //   clustering over the survivors, keep one representative per
    //   cluster (the min-id, which IS the cluster label) plus every
    //   unclustered doc. The canonical LLM training-corpus pipeline with
    //   fuzzy rather than exact dedup. —
    "c3_fuzzy_corpus" -> ((s, dir) => {
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
    }),

    // — reproducible sampling / splits: content-hash bucketing, the
    //   deterministic (engine- and partitioning-independent) alternative
    //   to rand()-based sampling for corpus curation —
    "c2_train_test_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "28", "train")
          .otherwise(when(substring(md5(col("doc_id").cast("string")), 1, 2) <= "3c", "valid")
            .otherwise("test")).as("split"))
        .orderBy("doc_id")),

    // — benchmark decontamination: test-split documents sharing any 7-gram
    //   shingle with any train-split document (the canonical train/eval
    //   contamination check). Same inverted-shingle-index equi-join shape
    //   as d2 — a semi-join on the shingle key, never all-pairs — over the
    //   dup-injected corpus, where copies straddling the hash split ARE
    //   the leak this operator exists to catch. —
    "c6_decontaminate" -> ((s, dir) => {
      val d = docsDup(s, dir)
      val sided = decontamIndex(d)
      val trainSh = sided.filter(col("split") === "train")
        .select("sh").distinct()
      sided.filter(col("split") === "test")
        .join(trainSh, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy("doc_id")
    }),

    // — graded decontamination: c6 answers WHICH docs are contaminated;
    //   this answers HOW MUCH — the per-doc fraction of distinct shingles
    //   shared with the train split, over ALL test docs (zeros included),
    //   which is what an eval-set curator thresholds on (drop > 10 %
    //   overlap, flag > 1 %). Same inverted-index machinery with the
    //   semi-join widened to a left join + counted hit flag; ratios are
    //   exact-count division. —
    "c6b_contamination_rate" -> ((s, dir) => {
      val d = docsDup(s, dir)
      val sided = decontamIndex(d)
      val trainSh = sided.filter(col("split") === "train")
        .select("sh").distinct().withColumn("hit", lit(1L))
      sided.filter(col("split") === "test")
        .join(trainSh, Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_shingles"))
            .as("contamination"))
        .orderBy("doc_id")
    }),

    // — decontaminated TRAIN split (c6's operational complement): c6
    //   reports which EVAL docs leak; what a corpus build actually
    //   ships is a train split with the leaking docs REMOVED — eval
    //   stays fixed (published benchmarks can't be edited), train pays
    //   the cost. Same inverted shingle index read once for both sides
    //   (localCheckpoint), eval shingle set (test ∪ valid — both held
    //   out), contaminated train ids via the index equi-join, then a
    //   LEFT ANTI on doc_id. Never all-pairs; the anti join is
    //   key-only. —
    "c23_decontaminated_train" -> ((s, dir) => {
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
    }),

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
    "c24_dq_audit" -> ((s, dir) => {
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
    }),

    // — sessionization (batch islands; streaming variant in st*) —
    "b1_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts"))
      val newSess = when(lag(us, 1).over(byUser).isNull ||
        us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1).otherwise(0)
      Tables.events(s, dir)
        .withColumn("sess_id", sum(newSess)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "sess_id")
    }),

    // — b1's NATIVE twin: batch sessionization via Spark's built-in
    //   session_window (the same operator st4 uses on the stream) —
    //   one groupBy, no lag/running-sum window chain; Catalyst plans
    //   the session merge directly (UpdatingSessionsExec + MergingSessionsExec
    //   fuse partial sessions in the same two-exchange shape a manual
    //   gap-islands needs, and the BATCH plan gets partial merging
    //   map-side). Gap semantics differ from b1 at the exact boundary:
    //   session_window closes at last_ts + gap EXCLUSIVE (a new session
    //   starts when diff ≥ 30 min) where b1's lag rule is strict >.
    //   The oracle states the native ≥ rule — correctness does not
    //   lean on the fixture lacking exact-1800s gaps (verified absent,
    //   but semantics are pinned regardless). sess_id is recovered as
    //   the per-user rank of the session start: the session groupBy
    //   leaves ≤ |sessions| rows per user for that window (b3's
    //   already-aggregated-frame argument). —
    "b1b_session_window_native" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
      val w = Window.partitionBy("user_id").orderBy(col("sw.start"))
      g.withColumn("sess_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("sess_id"), col("n_events"),
          col("session_start"), col("session_end"))
        .orderBy("user_id", "sess_id")
    }),

    // — ordered funnel (signup → click → purchase): the canonical
    //   conversion query, with STRICT ordering — each stage's first
    //   qualifying event must be at or after the previous stage's (a
    //   user who clicked before ever signing up has not converted).
    //   Three chained window-mins over ONE user_id hash partitioning
    //   (no orderBy → unbounded frame, no sort), then the per-user
    //   groupBy reuses the same exchange — one shuffle end to end, no
    //   self-joins (the textbook formulation joins events per stage).
    //   Timestamps compare in microseconds on both engines (b1's
    //   unix_micros/epoch_us convention). Counts are exact longs;
    //   pct_of_first is double division of exact longs. —
    "b2_funnel" -> ((s, dir) => funnelOf(eventsThin(s, dir), None)),

    // — b2 with per-step conversion WINDOWS (b2b): each stage's first
    //   qualifying event must land within 10 days of the previous
    //   stage's — the form product funnels actually ship (an unbounded
    //   funnel overcounts: a purchase a month after the click is a
    //   return visit, not a conversion; Amplitude/GA both default to a
    //   bounded window). The deadline rides the SAME chained
    //   window-min CASE predicates over the SAME single user_id
    //   exchange as b2 — the timeout costs zero extra plan. At sf0.01
    //   the bound genuinely binds: 88→24→6 users vs b2's 88→44→10
    //   (pinned in ExtensionsSpec). —
    "b2b_funnel_window" -> ((s, dir) =>
      funnelOf(eventsThin(s, dir), Some(FunnelWindowUs))),

    // — conversion latency: per user, first 'view' → first 'purchase'
    //   at/after it, cohorted by the day of first view — the funnel
    //   companion answering "how long does conversion take", not just
    //   "how many convert". All sums are exact integer micros; the mean
    //   is a pinned division chain ((Σ/n)/1e6 — mirrored verbatim in
    //   the oracle). Two partial-agg shuffles: the per-user rollup
    //   (min-when carries just two longs per user) then the tiny day
    //   rollup; nothing windows over raw events. —
    "b7_conversion_lag" -> ((s, dir) => {
      val perUser = eventsThin(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("us"))).as("v_us"),
          min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
        .filter(col("v_us").isNotNull)
      perUser
        .select(col("v_us"),
          when(col("p_us") >= col("v_us"), col("p_us") - col("v_us"))
            .as("lag_us"))
        .withColumn("cohort_day", to_date(timestamp_micros(col("v_us"))))
        .groupBy("cohort_day")
        .agg(count(lit(1)).as("n_users"),
          count(col("lag_us")).as("n_converted"),
          sum(col("lag_us")).as("lag_sum_us"))
        .select(col("cohort_day"), col("n_users"), col("n_converted"),
          (col("lag_sum_us").cast("double") / col("n_converted").cast("double")
            / lit(1e6)).as("mean_lag_s"))
        .orderBy("cohort_day")
    }),

    // — last-touch attribution: each purchase credits the most recent
    //   PRIOR view/click by the same user (the marketing twin of b7's
    //   latency: WHICH channel converts, not how fast). last(…,
    //   ignoreNulls) over the running frame ending at −1 reads the
    //   latest engagement strictly before the purchase; purchases with
    //   no prior engagement credit 'direct'. The frame reads tied
    //   rows' VALUES, so the order key extends to event_id — total,
    //   SortKeySpec-visible. One user exchange for the window; the
    //   channel rollup is a ≤3-row frame whose share denominator rides
    //   a partition-less window over those 3 rows (never a self-join).
    //   At 100 TB: per-user window state is one string (the running
    //   last engagement) — Spark evaluates the running frame
    //   incrementally, nothing buffers the history. —
    "b8_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val credited = eventsThin(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("channel",
          last(when(col("event_type").isin("view", "click"),
            col("event_type")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
      val rolled = credited
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"))
      rolled
        .withColumn("share", col("n_purchases").cast("double")
          / sum("n_purchases").over(Window.partitionBy()).cast("double"))
        .orderBy("channel")
    }),

    // — cumulative distinct users over time, the scale-safe form: the
    //   naive COUNT(DISTINCT user) OVER (ORDER BY day) re-scans every
    //   prior day's users per frame (quadratic in the spine, unbounded
    //   running state). First-seen day per user — ONE partial-agg
    //   shuffle moving (user_id, date) pairs — turns it into a per-day
    //   count plus a running sum over the day spine, whose
    //   single-partition window is |days| rows at ANY corpus size.
    //   (events_thin: at full fixture density every user's first event
    //   lands on day one and the spine degenerates to a single row.) —
    "w7_new_users" -> ((s, dir) =>
      eventsThin(s, dir)
        .groupBy("user_id").agg(to_date(min(col("ts"))).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum("new_users").over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("day")),

    // — per-user EWMA (α = 1/4) of event value in event-time order —
    //   the recency-weighted feature (fraud scores, engagement decay)
    //   that no associative aggregate computes: EWMA_i = 3/4·EWMA_{i−1}
    //   + 1/4·x_i is a non-commutative fold, so it rides the repo's
    //   pinned-order fold device (t18/v1): per-user collect_list of
    //   (us, event_id, value) structs, array_sort pins the total
    //   order, aggregate() folds seeded with the FIRST value —
    //   exactly DuckDB's list_reduce shape, which is what the oracle
    //   states. α = 1/4 and 3/4 are exact binary fractions and both
    //   engines run the identical mul/add sequence in the same order →
    //   bit-equal doubles, no tolerance needed. One partial-agg
    //   shuffle; per-user state is that user's events (the fold is
    //   in-row) — the t18 boundedness note applies: at 100 TB cap the
    //   history per key (e.g. trailing N events via the w3 frame) or
    //   carry the EWMA as streaming state (st5's shape), both
    //   order-preserving. —
    "w8_ewma" -> ((s, dir) => {
      val vs = transform(array_sort(col("es")), e => e.getField("value"))
      eventsThin(s, dir)
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("us"), col("event_id"),
            col("value")).as("e"))
        .groupBy("user_id")
        .agg(collect_list("e").as("es"))
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          aggregate(slice(vs, lit(2), greatest(size(vs) - 1, lit(0))),
            element_at(vs, 1),
            (a, x) => a * lit(0.75) + x * lit(0.25)).as("ewma"))
        .orderBy("user_id")
    }),

    // — per-user Holt linear smoothing (w12): w8's EWMA tracks LEVEL
    //   only and lags any trending series; Holt's double-exponential
    //   form carries (level, trend) state — lₜ = α·xₜ + (1−α)(l+b),
    //   bₜ = β(lₜ−l) + (1−β)b — and forecasts l+b one step out (the
    //   workhorse short-horizon forecaster). α=1/2, β=1/4: exact binary
    //   fractions, and the non-commutative two-variable recurrence rides
    //   the SAME pinned-order fold device as w8 with a STRUCT
    //   accumulator — an ARRAY [l, b], deliberately not a struct:
    //   DuckDB 1.0's list_reduce evaluates a struct accumulator's
    //   fields sequentially against a mutating slot (field b reads the
    //   ALREADY-UPDATED l — measured: the 3-step fold returns the
    //   slot-mutated 0.390625 where the recurrence says 0.59375), and
    //   list elements don't exhibit the quirk. Seeded [x₁, 0] —
    //   list_reduce's implicit first-element seat on the DuckDB side,
    //   an explicit aggregate() zero on Spark's. lₜ appears twice in
    //   the update (once as the new level, once inside the trend delta)
    //   and is COMPUTED twice on both engines — neither lambda language
    //   binds intermediates, and recomputing the identical IEEE tree
    //   yields the identical double, so the hash still pins
    //   bit-equality. Same bounded-history note as w8 at 100 TB. —
    "w12_holt" -> ((s, dir) => {
      val wrap = (v: org.apache.spark.sql.Column) => array(v, lit(0.0))
      val vs = transform(array_sort(col("es")), e => e.getField("value"))
      val newL = (acc: org.apache.spark.sql.Column,
          x: org.apache.spark.sql.Column) =>
        (lit(0.5) * element_at(x, 1)) +
          (lit(0.5) * (element_at(acc, 1) + element_at(acc, 2)))
      eventsThin(s, dir)
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("us"), col("event_id"),
            col("value")).as("e"))
        .groupBy("user_id")
        .agg(collect_list("e").as("es"))
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          aggregate(
            transform(slice(vs, lit(2), greatest(size(vs) - 1, lit(0))),
              wrap),
            wrap(element_at(vs, 1)),
            (acc, x) => array(newL(acc, x),
              (lit(0.25) * (newL(acc, x) - element_at(acc, 1))) +
                (lit(0.75) * element_at(acc, 2)))).as("st"))
        .select(col("user_id"), col("n_events"),
          element_at(col("st"), 1).as("level"),
          element_at(col("st"), 2).as("trend"),
          (element_at(col("st"), 1) + element_at(col("st"), 2))
            .as("forecast"))
        .orderBy("user_id")
    }),

    // — per-user overlapping-interval merge (gap-islands over RANGES —
    //   the calendar/coverage primitive behind "total engaged time",
    //   maintenance-window coalescing, span unions): each event opens an
    //   interval [ts, ts + value minutes]; overlapping-or-touching
    //   intervals per user merge into islands. The classic device: a
    //   running MAX(end) over PRECEDING rows (not lag(end) — an interval
    //   swallowed by a long predecessor must not restart an island),
    //   island id by cumulative sum of the start > prev_max flag, then
    //   one groupBy per island. Same single user_id exchange as b1's
    //   sessionization (island flag, island sum and the final groupBy
    //   share it); (start_us, event_id) is a total order (event_id
    //   unique). end_us rounds value·6e7 BEFORE the long cast on both
    //   engines — DuckDB's double→BIGINT cast rounds where Spark's
    //   truncates, so the explicit round() is what pins parity. At
    //   100 TB this scales exactly like b1: partition by user, skewed
    //   users split by AQE; no join, no pair blowup. —
    "w9_interval_merge" -> ((s, dir) =>
      mergeIntervals(Tables.events(s, dir))),

    // — top session paths (the "what do users actually do" product
    //   query): b1's gap-islands sessionization, each session collapsed
    //   to its ordered event-type path (the x3 device: sort an array of
    //   (us, event_id, type) structs — total order, engine-identical —
    //   then project and join), then a global path frequency top-20.
    //   The path column is bounded by session length, not corpus size;
    //   the final TakeOrdered(20) sorts the |distinct paths| table with
    //   a total (count desc, path) key. Same single user exchange as b1
    //   up to the path rollup. —
    "b9_top_paths" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val us = unix_micros(col("ts"))
      val newSess = when(lag(us, 1).over(byUser).isNull ||
        us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1).otherwise(0)
      Tables.events(s, dir)
        .withColumn("sess_id", sum(newSess)
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "sess_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type")))),
          e => e.getField("event_type")), ">").as("path"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }),

    // — Kaplan–Meier survival curve, signup→purchase (b10): the
    //   censoring-aware time-to-convert statistic — b7's conversion lag
    //   answers "how fast do converters convert", KM answers "what
    //   fraction SURVIVES unconverted past day t" counting the users
    //   who never converted (right-censored at the study end, the
    //   in-plan global max event time — the g8/x9 one-row scalar
    //   device). Per-user rollup (first event, first purchase) is one
    //   partial-agg shuffle; durations quantize to days, so every
    //   downstream structure is the ≤|study-window-days| day spine (the
    //   w7 discipline — fact volume never reaches a window). At-risk
    //   n_i = N − Σ_{j<i} m_j by prefix sums over the spine; the
    //   product-limit Ŝ(tᵢ) = Π_{j≤i}(1 − dⱼ/nⱼ) is a non-associative
    //   ordered product → the w8 pinned-order fold over the collected
    //   spine array (one struct per day): each factor is ONE IEEE
    //   divide + subtract of exact longs and both engines fold in the
    //   same day order → bit-equal doubles, no tolerance. Zero-death
    //   days contribute an exact 1.0 factor — identity under IEEE
    //   multiply, so keeping censor-only days in the product is safe
    //   and keeps the output one row per observed duration. —
    "b10_kaplan_meier" -> ((s, dir) => kaplanMeierOf(Tables.events(s, dir))),

    // — daily conversion rate with Wilson 95% interval (b11): the
    //   uncertainty-aware product metric — a 3/10 day and a 300/1000 day
    //   share p̂ = 0.3 but not the same evidence, and the Wilson score
    //   interval (the standard small-n-safe binomial CI — never leaves
    //   [0,1], behaves at p̂ ∈ {0,1} where Wald collapses) says so.
    //   Per-day distinct actives and distinct converters are one
    //   partial-agg'able rollup (the w7 spine discipline — output is
    //   |days| rows at any volume); the interval is pure arithmetic on
    //   (conv, n): z pinned at 1.96 with the same left-associated
    //   expression tree in both engines (z²/n folds identically, one
    //   correctly-rounded sqrt — the a25/a26 funnel discipline), so the
    //   doubles hash bit-equal. —
    "b11_conversion_ci" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"),
          col("event_type"))
        .groupBy("day")
        .agg(countDistinct("user_id").as("n"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("conv"))
      val z = lit(1.96)
      val nD = col("n").cast("double")
      val p = col("conv").cast("double") / nD
      val denom = lit(1.0) + z * z / nD
      val center = p + z * z / (lit(2.0) * nD)
      val margin = z * sqrt((p * (lit(1.0) - p) + z * z / (lit(4.0) * nD))
        / nD)
      d.select(col("day"), col("n"), col("conv"), p.as("p_hat"),
        ((center - margin) / denom).as("wilson_lo"),
        ((center + margin) / denom).as("wilson_hi"))
        .orderBy("day")
    }),

    // — cohort LTV triangle (b12): the growth-analytics staple —
    //   cumulative purchase revenue per signup cohort by month age,
    //   normalized per cohort user ("how much has the March cohort
    //   spent by month 2"). Cohort = month of FIRST event (w7's
    //   first-seen device: one user-grain partial agg — fact rows
    //   never sort); revenue rolls up to the cohort×age grain before
    //   the cumulative window, so the running sum runs over a
    //   calendar-bounded spine (|cohorts|·|ages| rows at ANY volume —
    //   the a22/w14 spine discipline). Month arithmetic is integer
    //   (y·12+m), cents exact via the a15 decimal device, and the
    //   per-user LTV is the ×10⁶ fixed-point floor ratio — hash-exact
    //   end to end. —
    "b12_cohort_ltv" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      val first = Tables.events(s, dir)
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
        .select(col("user_id"),
          date_format(col("t0"), "yyyy-MM").as("cohort"),
          (year(col("t0")) * 12 + month(col("t0"))).as("ym0"))
      val sizes = first.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"))
      val rev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (year(col("ts")) * 12 + month(col("ts"))).as("ym"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
        .join(first, Seq("user_id"))
        .groupBy(col("cohort"), (col("ym") - col("ym0")).as("age"))
        .agg(sum("cents").as("rev_cents"))
      val cw = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      rev
        .withColumn("cum_cents", sum("rev_cents").over(cw).cast("long"))
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("age").cast("long").as("age"),
          col("n_users").cast("long").as("n_users"),
          col("rev_cents").cast("long").as("rev_cents"), col("cum_cents"),
          // DECIMAL(38) lift — the a28 overflow class: ×10⁶ over an
          // unbounded cumulative cents sum must not ride a long
          expr("""(1000000 * cast(cum_cents as decimal(38,0))) div
                  cast(n_users as decimal(38,0))""").cast("long")
            .as("ltv_per_user_e6"))
        .orderBy("cohort", "age")
    }),

    // — RFM customer segmentation (b13): the classic lifecycle
    //   segmentation (recency / frequency / monetary quintiles) every
    //   CRM team runs — and a textbook banned-global-window trap:
    //   naive RFM ntiles ALL customers through one partition three
    //   times. The a28/c10b cutoff device instead: one customer-grain
    //   rollup (fact rows stop at the partial agg), ONE 1-row agg
    //   computing 4 exact percentile_disc cutoffs per dimension,
    //   broadcast back, score = 1 + #cutoffs strictly below the value
    //   (monotone, tie-stable, hash-exact — quantile_disc ≡
    //   percentile_disc is the proven c10b parity), recency inverted
    //   so 5 always means "best". The segment taxonomy is a pinned
    //   CASE over the scores. Everything after the rollup is
    //   broadcast + narrow map — no sort of the customer table at any
    //   scale. —
    "b13_rfm_segments" -> ((s, dir) => {
      // customer-grain rollup is referenced twice (cutoff agg + scoring)
      // — checkpoint it so the fact scan runs ONCE (it is |customers|
      // rows, bounded; the s7/g10 shared-lineage discipline)
      val cg = graft.etl.Pipelines.cleanSales(s, dir)
        .groupBy(col("customer_id"))
        .agg(datediff(lit("1998-12-31").cast("date"), max(col("order_date")))
          .cast("long").as("r_days"),
          countDistinct("order_id").as("f_orders"),
          sum((col("total_price") * 100).cast("long")).as("m_cents"))
        .localCheckpoint()
      val qs = Seq("20", "40", "60", "80")
      val cutCols = for (d <- Seq("r_days", "f_orders", "m_cents"); q <- qs)
        yield expr(s"percentile_disc(0.$q) WITHIN GROUP (ORDER BY $d)")
          .as(s"${d.head}$q")
      val cuts = cg.agg(cutCols.head, cutCols.tail: _*)
      val above = (d: String) => qs.map(q =>
        when(col(d) > col(s"${d.head}$q"), 1L).otherwise(0L))
        .reduce(_ + _)
      cg.crossJoin(broadcast(cuts))
        .select(col("customer_id"), col("r_days"), col("f_orders"),
          col("m_cents"),
          (lit(5L) - above("r_days")).as("r_score"),
          (lit(1L) + above("f_orders")).as("f_score"),
          (lit(1L) + above("m_cents")).as("m_score"))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") >= 4, "recent")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .otherwise("regular"))
        .orderBy("customer_id")
    }),

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
    "m7_audio_vad" -> ((s, dir) => vadSegmentsOf(docs(s, dir))),

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
    "c29_water_fill" -> ((s, dir) => {
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
    }),

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
    "c30_group_split" -> ((s, dir) => {
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
    }),

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
    "c31_systematic_sample" -> ((s, dir) => {
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
    }),

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
    "c28_quantile_normalize" -> ((s, dir) => {
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
    }),

    // — time-decay multi-touch attribution (b14): b8's last-touch gives
    //   100% of the credit to one event; the marketing-standard decay
    //   model splits it across EVERY touchpoint in the 14-day window
    //   before each conversion, weighted 2^(−age_days). The weights are
    //   dyadic on purpose: credit = 8192 >> age is an exact INTEGER
    //   (the repo's float-free discipline where an e^(−λt) decay would
    //   be rounding luck), so channel shares are ×10⁶ fixed-point
    //   ratios of exact longs. Join shape is the per-user history join
    //   (b1's family): conversions ⋈ touchpoints on ONE user key, the
    //   window predicate as join filters — per-user event counts bound
    //   the multiplicity, never |events|². Output at the
    //   (channel, age) grain a marketer actually reads. —
    "b14_decay_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t_us"))
      val credited = conv.join(touch, Seq("user_id"))
        .filter(col("t_us") <= col("p_us") &&
          col("p_us") - col("t_us") < lit(14L * 86400000000L))
        .withColumn("age_days",
          ((col("p_us") - col("t_us")) / lit(86400000000L)).cast("long"))
        .withColumn("credit", expr("shiftright(8192, cast(age_days as int))"))
      val byAge = credited.groupBy("event_type", "age_days")
        .agg(count(lit(1)).as("n_touches"),
          sum("credit").as("credit"))
      val total = byAge.agg(sum("credit").as("total_credit"))
      byAge.crossJoin(broadcast(total))
        .select(col("event_type"), col("age_days"), col("n_touches"),
          col("credit").cast("long").as("credit"),
          expr("(1000000 * credit) div total_credit").cast("long")
            .as("share_e6"))
        .orderBy("event_type", "age_days")
    }),

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
    "t24_vocab_growth" -> ((s, dir) => {
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
    }),

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
    "t25_code_detect" -> ((s, dir) =>
      codeDetectOf(DocFixtures.docsCode(s, dir))),

    "t23_bm25_search" -> ((s, dir) => bm25Top20(s, dir)),

    // — pseudonymized entity join (x12): the privacy-preserving join
    //   the GDPR family (x10 generalization, x11 erasure) still
    //   needs: replace the raw customer key on BOTH sides with a
    //   salted one-way hash BEFORE the tables meet, so the analytics
    //   join never carries a raw identifier — the standard
    //   data-clean-room device. Deterministic keyed hashing (md5 with
    //   a pinned salt literal) preserves the join graph EXACTLY
    //   (ExtensionsSpec pins row-equality with the raw-key join);
    //   the pseudonym is computed in-scan on each side, so the only
    //   plan change is a 32-char shuffle key instead of a long — the
    //   price of non-reversibility. Production swaps md5+salt for
    //   HMAC-SHA256 with a managed secret; the plan is identical. —
    "x12_pseudonymized_join" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(12, 2)
      val ev = Tables.events(s, dir)
        .select(md5(concat(lit("graft-pii-v1:"),
          col("user_id").cast("string"))).as("pid"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
      val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
        .select(md5(concat(lit("graft-pii-v1:"),
          col("customer_id").cast("string"))).as("pid"), col("region"))
      ev.join(broadcast(cust), Seq("pid"))
        .groupBy("pid", "region")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("val_cents"))
        .orderBy("pid")
    }),

    // — per-user time-weighted average (TWAP — the metric/finance
    //   aggregate where a value holds UNTIL the next observation):
    //   Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first) over each user's ordered
    //   events, last observation carrying no weight. Numerator is the
    //   w8 pinned-order fold over per-interval products — each product
    //   is ONE IEEE multiply and the fold order is total (us,
    //   event_id), so both engines run the identical rounding sequence
    //   → bit-equal, no decimal needed. Per-user state is one sorted
    //   array (bounded by per-user event count; the w8 bounded-history
    //   note applies at 100 TB). Single-event users have no interval —
    //   filtered. —
    "w10_twap" -> ((s, dir) => {
      val es = array_sort(collect_list(struct(unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))))
      val ts = transform(col("es"), e => e.getField("us"))
      val vs = transform(col("es"), e => e.getField("value"))
      val prods = zip_with(
        slice(vs, lit(1), size(col("es")) - 1),
        zip_with(slice(ts, lit(2), size(col("es")) - 1),
          slice(ts, lit(1), size(col("es")) - 1),
          (b, a) => (b - a).cast("double")),
        (v, d) => v * d)
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(es.as("es"))
        .filter(size(col("es")) >= 2)
        .select(col("user_id"),
          size(col("es")).cast("long").as("n_events"),
          (aggregate(slice(prods, lit(2), greatest(size(prods) - 1, lit(0))),
            element_at(prods, 1), (acc, x) => acc + x)
            / (element_at(ts, -1) - element_at(ts, 1)).cast("double"))
            .as("twap"))
        .orderBy("user_id")
    }),

    // — rolling anomaly flags over the daily revenue series (w11): the
    //   ops/monitoring primitive — flag any day whose revenue leaves the
    //   trailing-7-day 3σ band. No sqrt, no division, no float: with
    //   n, S = Σv, Q = Σv² over the frame, |x−μ| > 3σ is EXACTLY
    //   (n·x − S)² > 9·(n·Q − S²), a pure integer inequality — the a15b
    //   DECIMAL(38) discipline applied to a w-family frame, and the
    //   whole statistic hash-oracles where any float z-score would be
    //   summation-order luck. Flag only emitted for full frames (n = 7:
    //   warm-up days report false). Scale shape: the window input is
    //   the DAY-grain rollup — |days| rows at ANY fact volume (w7's
    //   spine device), so the unpartitioned window is a deliberate
    //   constant-size tail on a partial-agg'able daily shuffle; Q ≤
    //   7·v² keeps DECIMAL(38)-exact through ~10¹⁷ cents/day. —
    "w11_rolling_anomaly" -> ((s, dir) =>
      rollingAnomalyOf(Tables.table(s, dir, "orders"))),

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
    "c25_novelty" -> ((s, dir) => noveltyOf(docsDup(s, dir))),

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
    "c26_negative_sample" -> ((s, dir) =>
      negativeSampleOf(
        graft.etl.Pipelines.cleanSales(s, dir)
          .select("customer_id", "product_id").distinct(),
        Tables.table(s, dir, "part")
          .agg((max("p_partkey") + 1L).as("n_parts")))),

    // — k-anonymity generalization (x10): the privacy gate every
    //   dataset release runs — group records by their quasi-identifier
    //   tuple (region, registration month; missing dates are an
    //   explicit 'unknown' value, itself quasi-identifying) and
    //   SUPPRESS the quasi-ids of any record whose equivalence class
    //   has fewer than k = 10 members (a class that small re-identifies
    //   by linkage). Output is the anonymized per-record table, not
    //   just the audit. Plan shape: one partial-agg'able groupBy over
    //   the quasi-id domain (≤ |regions|·|months| classes — tiny at ANY
    //   corpus size) broadcast back onto the record stream — the
    //   suppression pass never shuffles the records themselves. Exact
    //   counts, deterministic strings → hash-oracled. —
    "x10_k_anonymity" -> ((s, dir) => {
      val k = 10
      val base = graft.etl.Pipelines.cleanCustomers(s, dir)
        .select(col("customer_id"), col("region"),
          coalesce(date_format(col("registration_date"), "yyyy-MM"),
            lit("unknown")).as("reg_month"))
      val classes = base.groupBy("region", "reg_month")
        .agg(count(lit(1)).as("n"))
      base.join(broadcast(classes), Seq("region", "reg_month"))
        .select(col("customer_id"),
          when(col("n") >= k, col("region")).otherwise(lit("*"))
            .as("region_anon"),
          when(col("n") >= k, col("reg_month")).otherwise(lit("*"))
            .as("month_anon"),
          (col("n") < k).as("is_suppressed"))
        .orderBy("customer_id")
    }),

    // — GDPR erasure cascade with audit (x11): the right-to-be-forgotten
    //   batch — an erasure-request table (here a deterministic md5-'f'
    //   1/16 of customers, standing in for arbitrary requested ids)
    //   cascades through every table keyed by the subject: customers by
    //   primary key, sales by the customer foreign key. Each table's
    //   erasure is ONE broadcast LEFT ANTI (the c18b device — requests
    //   are small relative to data at any scale; a non-broadcastable
    //   request set shuffles both sides and AQE splits skew, same
    //   fallback as c18b documents) and the emitted artifact is the
    //   AUDIT: per table, rows before / removed / after — the
    //   compliance evidence a DPO actually files. before = removed +
    //   after is enforced by construction here and re-asserted with the
    //   no-survivor property in the spec. Counts are one conditional
    //   aggregate per table — membership is a computable predicate, so
    //   the count pass never joins; only the (not-emitted-here)
    //   retained-table rewrite pays the anti-join. —
    "x11_gdpr_erasure" -> ((s, dir) => {
      val isForgotten = (c: org.apache.spark.sql.Column) =>
        substring(md5(c.cast("string")), 1, 1) === "f"
      val cust = graft.etl.Pipelines.cleanCustomers(s, dir)
      val sales = graft.etl.Pipelines.cleanSales(s, dir)
      val custAudit = cust.agg(
        count(lit(1)).as("rows_before"),
        sum(when(isForgotten(col("customer_id")), 1L).otherwise(0L))
          .as("rows_removed"))
        .select(lit("customers").as("table_name"), col("rows_before"),
          col("rows_removed"),
          (col("rows_before") - col("rows_removed")).as("rows_after"))
      val salesAudit = sales.agg(
        count(lit(1)).as("rows_before"),
        sum(when(isForgotten(col("customer_id")), 1L).otherwise(0L))
          .as("rows_removed"))
        .select(lit("sales").as("table_name"), col("rows_before"),
          col("rows_removed"),
          (col("rows_before") - col("rows_removed")).as("rows_after"))
      custAudit.unionAll(salesAudit).orderBy("table_name")
    }),

    // — ε-differentially-private group counts (x12's release-side
    //   sibling, x13): the geometric mechanism (Ghosh–Roughgarden–
    //   Sundararajan's discrete Laplace — the utility-optimal integer
    //   mechanism for counting queries), ε = 1, sensitivity 1 (one
    //   customer contributes one row to one region). Noise is the
    //   pinned-threshold inverse-CDF draw (the a31 Poisson device):
    //   a 60-bit md5 uniform per group key maps through DpGeomCdf60
    //   to an integer in [−20, 20]; counts clamp at 0 (post-processing
    //   — DP-safe). Production swaps the seeded md5 for a real RNG;
    //   everything else — the one partial-agg shuffle to the
    //   |regions|-row census, the threshold fan, the clamp — is this
    //   exact plan, and the seed is what makes the release replayable
    //   by the oracle. The TRUE census never leaves the operator. —
    "x13_dp_count" -> ((s, dir) => {
      val noise = DpGeomCdf60.map(t =>
        when(col("u") >= lit(t), 1L).otherwise(lit(0L))).reduce(_ + _) -
        lit(20L)
      graft.etl.Pipelines.cleanCustomers(s, dir)
        .groupBy("region").agg(count(lit(1)).as("n_true"))
        .withColumn("u",
          conv(substring(md5(concat(lit("dp13:"), col("region"))), 1, 15),
            16, 10).cast("long"))
        .select(col("region"),
          greatest(col("n_true") + noise, lit(0L)).as("n_noisy"),
          lit(1000000L).as("epsilon_e6"))
        .orderBy("region")
    }),

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
    "d13_tf_cosine" -> ((s, dir) => {
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
    }),

    // — weekly cohort retention: users grouped by the week of their
    //   first event; n_active = distinct users from that cohort active
    //   k weeks later. Two shuffles by nature (first-event-per-user,
    //   then the (cohort, offset) count-distinct); the cohort_size
    //   denominator rides a window over the ALREADY-aggregated frame
    //   (≤ cohorts × offsets rows — trivial at any scale) instead of a
    //   self-join. week_offset is exact: both weeks are Monday-truncated
    //   so the day diff is a multiple of 7. —
    "b3_retention" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id")
      val cohorted = eventsThin(s, dir)
        .select(col("user_id"), col("ts"))
        .withColumn("cohort_week",
          date_trunc("week", min(col("ts")).over(byUser)).cast("date"))
        .withColumn("week_offset",
          (datediff(date_trunc("week", col("ts")).cast("date"),
            col("cohort_week")) / lit(7)).cast("long"))
      val ret = cohorted.groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
      val byCohort = Window.partitionBy("cohort_week")
      ret
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0L, col("n_active"))).over(byCohort))
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size").cast("double"))
            .as("retention"))
        .orderBy("cohort_week", "week_offset")
    }),

    // — gap-filled daily balance: a dense (user × day) spine with each
    //   user's cumulative purchase total carried across days with no
    //   activity — the time-series resample/forward-fill shape (feature
    //   tables, training snapshots) that a bare groupBy cannot produce
    //   because missing days produce NO row to fill. The spine is
    //   users ⨯ broadcast(day range) — linear in users with a
    //   calendar-bounded constant, never a shuffle; the running sum is
    //   one window per user ordered by the spine's unique day (gap days
    //   contribute coalesce(0) and inherit the balance — forward-fill
    //   as arithmetic, no last(ignoreNulls) ordering subtleties).
    //   Cents stay exact longs until the final double division. —
    "b4_gap_fill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
        .groupBy("user_id", "day")
        .agg(sum("cents").as("cents"))
      val days = ev.agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        .select(explode(expr("sequence(d0, d1)")).as("day"))
      val spine = ev.select("user_id").distinct()
        .crossJoin(broadcast(days))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("bal_cents",
          sum(coalesce(col("cents"), lit(0L))).over(w))
        .select(col("user_id"), col("day"),
          (col("bal_cents").cast("double") / 100.0).as("balance"))
        .orderBy("user_id", "day")
    }),

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
    "c17_dedup_survivor" -> ((s, dir) => {
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
    }),

    // — weighted Bernoulli corpus sampling: keep each doc with
    //   probability min(n_chars, 400)/400 — the "sample long docs at
    //   full rate, short ones proportionally" curation knob (any
    //   per-row weight column drops in). Decision = pure integer
    //   cross-multiply against a 24-bit md5 draw, so the sample is
    //   exact, engine-independent, layout-independent, and re-runnable
    //   (same corpus → same sample). At 100 TB this is a scan-speed
    //   narrow filter: no shuffle, no state, prunes at the parquet
    //   reader once quality/weight is a stored column. —
    "c14_weighted_sample" -> ((s, dir) => {
      val u6 = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("long")
      docs(s, dir)
        .withColumn("u6", u6)
        // accept iff u6/16^6 < min(n_chars,400)/400, cross-multiplied
        .filter(col("u6") * lit(400L) <
          lit(16777216L) * least(col("n_chars"), lit(400L)))
        .select(col("doc_id"), col("n_chars"), col("u6"))
        .orderBy("doc_id")
    }),

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
    "c15_filter_verdict" -> ((s, dir) => {
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
    }),

    // — data-mixing weight derivation: the step that FEEDS c4's rate
    //   application — given a target language distribution (uniform here;
    //   any target vector drops in as a literal map), derive per-language
    //   DOWN-sampling weights w = min(1, target_share / current_share)
    //   from exact token counts. One per-lang partial-agg shuffle + a
    //   one-row totals aggregate broadcast back (PlanSpec-whitelisted
    //   scalar cross join); every emitted double is a pinned-order
    //   division of exact longs, so the weights are engine-exact and the
    //   c4-style gate consuming them stays deterministic. —
    "c16_mixing_weights" -> ((s, dir) => {
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
    }),

    // — C4-style boilerplate stripping (repeated-line rule): design and
    //   the one-shuffle/zero-fact-shuffle story in
    //   [[TextAnalysis.boilerplateStrip]]'s scaladoc. —
    "c18_boilerplate_strip" -> ((s, dir) =>
      TextAnalysis.boilerplateStrip(docs(s, dir)).orderBy("doc_id")),
    // — c18's production twin for a boilerplate set too large to
    //   broadcast (template-farm corpora): LEFT ANTI equi-join on the
    //   segment key instead of the broadcast array_contains scan.
    //   Row-equal by construction — it shares c18's ORACLE verbatim,
    //   so the correctness gate itself pins the equivalence; the plan
    //   shape (anti-join present, no broadcast boiler array) is pinned
    //   in ExtensionsSpec. —
    "c18b_boilerplate_strip_antijoin" -> ((s, dir) =>
      TextAnalysis.boilerplateStripAntiJoin(docs(s, dir)).orderBy("doc_id")),

    // — event-transition matrix (first-order Markov over the event
    //   stream): (from, to) counts from one lag window on the user
    //   exchange, conditional p = n / n_from as exact-count division.
    //   The from-totals come from a partition-only commutative sum
    //   window over the 25-row transition table — no self-join, and the
    //   lint exempts it by construction. At 100 TB: one user-key
    //   exchange (w2's family); the transition table is |types|² rows
    //   regardless of volume. —
    "b5_transition_matrix" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("from_type", lag("event_type", 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("n_from",
          sum("n").over(Window.partitionBy("from_type")).cast("long"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // — stationary distribution of the behavior chain (b15): where does
    //   the b5 Markov chain SETTLE — the long-run share of user
    //   attention per event type, the quantity capacity planning and
    //   "which surface dominates at equilibrium" questions actually
    //   need (b5 measures one step; this iterates it to the fixed
    //   point). g4's integer-PageRank device on the |types|²-row
    //   transition table: probabilities quantize ONCE to
    //   p_e12 = (n·10¹²) div n_from (exact longs) IN-PLAN, then the
    //   power iteration r'_to = (Σ_from r_from·p_e12) div 10¹² runs
    //   DRIVER-SIDE on the collected transition table — ≤ |types|²
    //   rows at ANY corpus volume, the SemDeDup-centroid /
    //   BPE-merge bounded-collect carve-out — with an early stop at
    //   the exact integer fixed point (v'==v persists: same vector in
    //   ⇒ same vector out, so stopping early is provably equal to the
    //   oracle's 20 unrolled rounds). The r14 in-plan unroll spent a
    //   fixed ~4.4 s scheduling 20 sequential 25-row stages at every
    //   scale; the distributed work (the one user-key exchange + agg)
    //   is unchanged. Target-only states get an implicit self-loop
    //   p_e12 = 10¹² (the PageRank dangling-node convention, mirrored
    //   in the oracle's sk15 CTE) instead of silently dropping their
    //   mass after round 1 — empty on the driver fixture, where every
    //   type occurs both ways. Shares as ×10⁶ floors of the total. —
    "b15_markov_stationary" -> ((s, dir) =>
      markovStationaryOf(s, Tables.events(s, dir))),

    // — event-path trigrams (the path-analysis staple: which 3-step
    //   journeys dominate the product): per-user ordered (t1, t2, t3)
    //   event-type triples from two lag taps on the ONE user exchange
    //   (b5's window, one more tap — same single shuffle), then a
    //   partial-agg count and a top-20 with a full-key tiebreak. At
    //   100 TB the trigram space is |types|³ = 125 rows regardless of
    //   volume — like b5's matrix, the agg output is fixture-fixed and
    //   the cost is the one user-key exchange (w2's curve family). —
    "b6_event_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t1", lag("event_type", 2).over(w))
        .withColumn("t2", lag("event_type", 1).over(w))
        .filter(col("t1").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    // — feature hashing (the hashing trick): token → universal-hash
    //   bucket mod 64 over the rolling hash, per-doc sparse counts —
    //   the fixed-width categorical encoding that needs NO vocabulary
    //   build, join, or broadcast at any corpus size (collisions are
    //   the accepted trade; 64 buckets is the demo width, a real
    //   encoder uses 2^18+). One partial-agg shuffle on (doc_id,
    //   bucket); the hash is the seeded SQL-expressible family, so the
    //   oracle replays it exactly. —
    "x6_feature_hash" -> ((s, dir) => {
      val (a, b) = HashCoeffs.coeffs(1, FeatSeed).head
      val h = graft.functions.RollingHash.rolling_hash(col("tok"))
      val bucket = ((lit(a) * h + lit(b)) % lit(HashCoeffs.P)) % lit(64L)
      docs(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), bucket.as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("doc_id", "bucket")
    }),

    // — deterministic corpus shuffle into training shards (the step
    //   between a curated corpus and the shard files a trainer
    //   streams): shard = first md5 hex digit (16 shards), pos =
    //   0-based hash rank within the shard. See [[shardShuffle]] for
    //   the two-level enumeration that keeps window groups at a bounded
    //   corpus slice (1/256 at the gate-scale default width; [[subWidthFor]]
    //   widens sub until a group fits the executor target — ExtensionsSpec
    //   pins that a widened width is row-identical and bound-respecting). —
    "x7_shard_shuffle" -> ((s, dir) =>
      shardShuffle(docs(s, dir)).orderBy("shard", "pos")),

    // — CDC apply (merge a change feed into a snapshot): the batch form
    //   of the streaming upsert sink (st-family `upsertSink`) and the
    //   set-level twin of x8 (which keeps history; this produces the
    //   new CURRENT snapshot). The change feed is synthesized
    //   deterministically from orders (FIXTURES.md §3 sanctions
    //   query-side dirt): every order is an acctbal update for its
    //   customer, orders with o_orderkey % 50 == 0 are DELETEs, and
    //   custkey + max(c_custkey) rows are inserts of unseen keys — the
    //   offset is DERIVED from the snapshot (one 1-row dim agg,
    //   broadcast), so "unseen" holds at every SF: any fixed constant
    //   collides with real custkeys once 150k·SF crosses it (TPC-H
    //   customer = 150k·SF), silently turning claimed inserts into
    //   updates of real rows; o_custkey ≥ 1 puts every derived key
    //   strictly past the snapshot's max. Last
    //   change wins: one row_number window over the feed's total
    //   (seq_d, o_orderkey) order — the ONLY per-key state, bounded by
    //   the delta, not the snapshot. Apply is a single full-outer join
    //   snapshot ⟗ latest-change: DELETE drops, UPDATE overwrites,
    //   INSERT materializes, untouched rows pass through. At 100 TB
    //   the snapshot side never shuffles more than once (both sides
    //   hash on custkey) and a small delta broadcasts — the standard
    //   incremental-warehouse merge plan. —
    "x9_cdc_apply" -> ((s, dir) => {
      val snap = Tables.table(s, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"),
          col("c_acctbal"))
      val maxCk = Tables.table(s, dir, "customer")
        .agg(max(col("c_custkey")).cast("long").as("maxck"))
      val feed = Tables.table(s, dir, "orders")
        .crossJoin(broadcast(maxCk))
        .select(
          when(col("o_orderkey") % 50 === 0, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          when(col("o_custkey") % 7 === 0, col("o_custkey") + col("maxck"))
            .otherwise(col("o_custkey")).as("custkey"),
          col("o_totalprice").as("new_acctbal"),
          to_date(col("o_orderdate")).as("seq_d"), col("o_orderkey"))
      val w = Window.partitionBy("custkey")
        .orderBy(col("seq_d").desc, col("o_orderkey").desc)
      val latest = feed.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("custkey"), col("op"), col("new_acctbal"))
      snap.join(latest, Seq("custkey"), "full_outer")
        .filter(coalesce(col("op"), lit("keep")) =!= "delete")
        .filter(col("c_mktsegment").isNotNull || col("op") === "upsert")
        .select(col("custkey"),
          coalesce(col("c_mktsegment"), lit("NEW")).as("c_mktsegment"),
          coalesce(col("new_acctbal"), col("c_acctbal")).as("acctbal"),
          when(col("op").isNull, "kept")
            .when(col("c_mktsegment").isNull, "inserted")
            .otherwise("updated").as("row_src"))
        .orderBy("custkey")
    }),

    // — order-free table checksum (x14): the migration-verification op
    //   every 100 TB copy/backfill/engine-swap ends with — "does the
    //   destination hold EXACTLY the source's rows" without sorting,
    //   collecting, or trusting row order. Per row: a canonical
    //   pipe-joined serialization of the key + every exact column
    //   (cents for money — never a raw double; ISO date string both
    //   engines render identically), md5'd and truncated to the c14
    //   60-bit integer device; per category: COUNT + SUM of the 60-bit
    //   digests mod 10¹⁸ (sum on DECIMAL(38)/HUGEINT so no wraparound
    //   before the mod; both engines floor-mod positives identically).
    //   SUM is commutative-associative, so the register is order-free
    //   AND mergeable across partitions/shards by construction — two
    //   runs match iff the multisets of serialized rows match (up to
    //   an md5 collision, ~2⁻⁶⁰ per pair). Plan: scan-speed map + one
    //   partial-agg shuffle of ≤|categories| rows; nothing else moves. —
    "x14_table_checksum" -> ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cents = (col("unit_price").cast(Tables.Money) * 100)
        .cast("long")
      val rowStr = concat_ws("|",
        col("order_id").cast("string"), col("line_id").cast("string"),
        col("product_id").cast("string"), col("quantity").cast("string"),
        cents.cast("string"), col("order_date").cast("string"),
        col("customer_id").cast("string"))
      val h60 = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
      graft.etl.Pipelines.cleanSales(s, dir)
        .select(col("category"), h60.as("h"))
        .groupBy("category")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h").cast(d38)).as("sh"))
        .select(col("category"), col("n_rows"),
          expr("cast(sh % 1000000000000000000 as long)").as("checksum"))
        .orderBy("category")
    }),

    // — SCD Type-2 dimension history (the warehouse twin of the
    //   reference's K5 upsert, which keeps only the LATEST row per key:
    //   type 2 keeps every attribute version with its validity
    //   interval). Tracked attribute: each customer's order priority
    //   over their order timeline. Consecutive equal values collapse to
    //   one version row via the lag-change filter; lead() closes each
    //   version's interval half-open [valid_from, valid_to), NULL
    //   valid_to = current. ONE customer-key exchange serves both
    //   windows — the change filter preserves partitioning AND sort
    //   order, so the lead/row_number window reuses the lag window's
    //   exchange and sort (plan-checked: a single Exchange in the
    //   optimized plan). Order key (d, o_orderkey) is total
    //   (o_orderkey unique), so versions are engine-identical; at
    //   100 TB the per-customer window state is that customer's CHANGE
    //   rows only — bounded by attribute churn, not event volume. —
    "x8_scd2_history" -> ((s, dir) =>
      scd2History(s, dir).orderBy("custkey", "version")),

    // — SCD2 point-in-time feature join (j10): for each order, the
    //   customer's priority AS OF the day BEFORE the order — the
    //   leakage-safe temporal join every ML feature store runs (a
    //   feature computed "as of" event time must exclude the event's
    //   own contribution, or training sees the label; hence the d−1
    //   probe date, strictly before the order). Consumes x8's history:
    //   LEFT equi-join on custkey with the half-open interval
    //   [valid_from, valid_to) as join FILTERS — per-order matches are
    //   ≤ 1 by interval disjointness, per-key multiplicity is the
    //   customer's version count (bounded by attribute churn, not
    //   order volume), so the plan is one custkey exchange each side,
    //   never a range-join device (j6's day-bucket trick is for
    //   intervals over ARBITRARY keys; here the equi key already
    //   confines candidates). Orders before their customer's first
    //   change see NULL priority — the honest cold-start answer. —
    "j10_scd2_pit_join" -> ((s, dir) => {
      val hist = scd2History(s, dir)
      val orders = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("d"))
      val probe = date_sub(col("d"), 1)
      orders.join(hist,
          col("o_custkey") === hist("custkey") &&
            hist("valid_from") <= probe &&
            (hist("valid_to").isNull || hist("valid_to") > probe),
          "left")
        .select(col("o_orderkey"), col("o_custkey"), col("d"),
          col("priority").as("prior_priority"), col("version"))
        .orderBy("o_orderkey")
    }),

    // — fuzzy entity-resolution join over product names (j11): the
    //   record-linkage shape (catalog matching, vendor reconciliation)
    //   — which DISTINCT names refer to the same thing? The naive
    //   statement is an all-pairs edit-distance scan; the shipped plan
    //   is blocking-then-verify (d11's discipline on a JOIN): collapse
    //   to the DISTINCT-name table first (the t21 device — the name
    //   domain is vocabulary-bounded, so everything downstream is
    //   corpus-size-independent), block on a shared whitespace token
    //   (one token-index self equi-join, candidates linear in the name
    //   domain), then verify candidates with levenshtein ≤ 4 — a
    //   predicate the injected BandedLevenshteinRule (d12) rewrites to
    //   Spark's O(k·n) banded kernel in-plan. Per-name part counts ride
    //   back on two broadcast joins of the bounded name table. ASCII
    //   names make Spark's byte order ≡ DuckDB's collation for the
    //   a < b pair canonicalization (the BPE code-point caveat does not
    //   bite). MEASURED recall gap (the d13 honesty discipline): shared-
    //   token blocking is full-recall at lev ≤ 3 on these two-word
    //   names — a miss needs edits in BOTH words — and drops exactly
    //   the lev-4 pairs with no common word ("cold ring"/"old rod");
    //   the spec pins that contract against all-pairs brute force. —
    "j11_fuzzy_name_match" -> ((s, dir) =>
      fuzzyNameMatchOf(Tables.table(s, dir, "part"))),

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
    "c19_threshold_sweep" -> ((s, dir) => {
      val pairs = nearCands(s, dir).filter(col("jaccard") >= 0.3)
      pairs
        .select(floor(col("jaccard") * 10).cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).cast("long").as("n_pairs"))
        .withColumn("n_pairs_at_or_above",
          sum("n_pairs").over(Window.orderBy(col("decile").desc))
            .cast("long"))
        .orderBy("decile")
    }),

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
    "c20_domain_shift" -> ((s, dir) =>
      domainShift(docs(s, dir).select("source", "text")).orderBy("source")),

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
    "c27_chi2_drift" -> ((s, dir) =>
      chi2Drift(docs(s, dir).select("source", "text")).orderBy("source")),

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
    "c22_quality_dup_calibration" -> ((s, dir) => {
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
        .withColumn("bin",
          when(col("quality_score") >= col("c75"), 1L)
            .when(col("quality_score") >= col("c50"), 2L)
            .when(col("quality_score") >= col("c25"), 3L)
            .otherwise(4L))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("is_dup").as("n_dup"))
        .select(col("bin"), col("n_docs"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"))
        .orderBy("bin")
    }))

  /** c20 core, shared with the scale probe: per-source total-variation
    * distance from the corpus token distribution — see the registry
    * entry's comment for the exact-arithmetic derivation.
    */
  private[graft] def domainShift(docsWithSource: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val srcCounts = docsWithSource
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("a"))
    val corpusCounts = srcCounts.groupBy("tok").agg(sum("a").as("b"))
    val nSrc = srcCounts.groupBy("source").agg(sum("a").as("n_s"))
    val nTot = nSrc.agg(sum("n_s").as("n_tot"))
    srcCounts.join(corpusCounts, "tok")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot))
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

  /** t25 core over an arbitrary (doc_id, text) corpus — shared with
    * ScaleProbe so the probe times the exact shipped expression tree
    * (the r14 probe re-derived a narrower projection — an ADVICE item).
    * See the t25 registry comment for the two-signal derivation.
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

  /** b15 core: the transition table stays a distributed plan (the one
    * user-key exchange + partial agg — the only part that scales with
    * volume), the power iteration runs driver-side on the collected
    * counts. See the b15 registry comment for why the collect is
    * domain-bounded (≤ |event_type|² rows at any corpus size).
    */
  private[graft] def markovStationaryOf(s: SparkSession,
      events: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum("n").over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"),
        expr("cast(cast(n as decimal(38,0)) * 1000000000000 div n_from as long)")
          .as("p_e12"))
    val edges = counts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val (v, _) = markovStationaryIterate(edges)
    val tot = v.values.foldLeft(BigInt(0))(_ + _)
    val rows = v.toSeq.sortBy(_._1).map { case (st, m) =>
      (st, m.toLong,
        if (tot == 0) 0L else ((BigInt(1000000) * m) / tot).toLong)
    }
    rows.toDF("state", "v", "share_e6").orderBy("state")
  }

  /** The b15 integer recurrence on a collected (from, to, p_e12) edge
    * list: self-loops injected for target-only states, then up to 20
    * rounds of v'_to = (Σ_from v_from·p_e12) div 10¹² on BigInt (floor
    * AFTER the sum, bit-identical to the oracle's HUGEINT CTE chain),
    * stopping early once v'==v exactly. Returns the final mass vector
    * (keyed by TARGET states — the oracle's round-k regroup keeps only
    * to_types) and the number of rounds actually executed, exposed so
    * the spec can pin convergence-before-20 as evidence rather than
    * prose.
    */
  private[graft] def markovStationaryIterate(
      edges: Seq[(String, String, Long)]): (Map[String, BigInt], Int) = {
    val E12 = BigInt(1000000000000L)
    if (edges.isEmpty) return (Map.empty, 0)
    val sinks = edges.map(_._2).toSet -- edges.map(_._1).toSet
    val trans = edges ++ sinks.toSeq.sorted.map(t => (t, t, E12.toLong))
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct
    var v: Map[String, BigInt] = states.map(_ -> E12).toMap
    var rounds = 0
    var stable = false
    while (rounds < 20 && !stable) {
      val acc = scala.collection.mutable.Map.empty[String, BigInt]
      trans.foreach { case (f, t, pe) =>
        v.get(f).foreach(m => acc(t) = acc.getOrElse(t, BigInt(0)) + m * pe)
      }
      val nv = acc.map { case (t, sm) => t -> sm / E12 }.toMap
      stable = nv == v
      v = nv
      rounds += 1
    }
    (v, rounds)
  }

  /** b10 core over an arbitrary events frame — shared with ScaleProbe
    * (replicated users). See the b10 registry comment for the
    * product-limit derivation. Conversion = first BIG-TICKET purchase
    * (value ≥ 180): the fixture converts ~1/3 of users at every scale,
    * so right-censoring — the statistic's whole point — is genuinely
    * exercised (plain "first purchase" converts 100% of users and KM
    * degenerates to b7's lag).
    */
  private[graft] def kaplanMeierOf(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_type"), col("value"))
    val u = ev.groupBy("user_id").agg(min("us").as("first_us"),
      min(when(col("event_type") === "purchase" && col("value") >= 180.0,
        col("us"))).as("conv_us"))
    val endUs = ev.agg(max("us").as("end_us"))
    val day = u.crossJoin(broadcast(endUs))
      .select(
        expr("""(coalesce(conv_us, end_us) - first_us) div 86400000000""")
          .as("dur_day"),
        when(col("conv_us").isNotNull, 1L).otherwise(0L).as("ev"))
      .groupBy("dur_day")
      .agg(sum("ev").as("d"), count(lit(1)).as("m"),
        sum(lit(1L) - col("ev")).as("c"))
    val before = Window.orderBy("dur_day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val spine = day
      .withColumn("n_risk",
        sum("m").over(Window.partitionBy())
          - coalesce(sum("m").over(before), lit(0L)))
      .select("dur_day", "d", "c", "n_risk")
    spine
      .agg(array_sort(collect_list(
        struct(col("dur_day"), col("d"), col("c"), col("n_risk")))).as("a"))
      .select(col("a"), posexplode(col("a")))
      .select(col("col.dur_day").as("dur_day"),
        col("col.n_risk").as("n_risk"),
        col("col.d").as("n_events"),
        col("col.c").as("n_censored"),
        aggregate(transform(sequence(lit(0), col("pos")), j => {
          val e = element_at(col("a"), j + 1)
          lit(1.0) - (e.getField("d").cast("double")
            / e.getField("n_risk").cast("double"))
        }), lit(1.0), (acc, f) => acc * f).as("survival"))
      .orderBy("dur_day")
  }

  /** c26 core over arbitrary positives + one-row part-count frames —
    * shared with ScaleProbe (replicated customers). See the c26 registry
    * comment.
    */
  /** t23's body as a core (r17): the fixed three-term BM25 scorer's
    * top-20, shared with s9's hybrid fusion so both legs rank the SAME
    * sparse scorer. See the t23 registry comment for the plan story.
    */
  private[graft] def bm25Top20(s: SparkSession, dir: String): DataFrame =
    bm25Top20Of(docs(s, dir))

  /** t23/s9 core over an INJECTED (doc_id, text) frame — shared with
    * the ScaleProbe s9 leg (replicated docs).
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

  /** j11 core over an arbitrary part frame — shared with ScaleProbe
    * (replicated parts, fixed name domain). See the j11 registry comment.
    */
  private[graft] def fuzzyNameMatchOf(part: DataFrame): DataFrame = {
    val names = part
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_parts"))
    val tok = names.select(col("name"),
      explode(split(col("name"), " ")).as("t"))
    val cand = tok.as("a").join(tok.as("b"),
        col("a.t") === col("b.t") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
    cand
      .filter(levenshtein(col("name_a"), col("name_b")) <= 4)
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .join(broadcast(names.select(col("name").as("name_a"),
        col("n_parts").as("parts_a"))), "name_a")
      .join(broadcast(names.select(col("name").as("name_b"),
        col("n_parts").as("parts_b"))), "name_b")
      .select(col("name_a"), col("name_b"), col("lev"),
        col("parts_a"), col("parts_b"))
      .orderBy("name_a", "name_b")
  }

  /** c27 core: chi-square drift on ×10⁹ fixed-point token rates — see the
    * registry comment for the exactness/headroom derivation.
    */
  private[graft] def chi2Drift(docsWithSource: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val srcCounts = docsWithSource
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("a"))
    val corpusCounts = srcCounts.groupBy("tok").agg(sum("a").as("b"))
    val nSrc = srcCounts.groupBy("source").agg(sum("a").as("n_s"))
    val nTot = nSrc.agg(sum("n_s").as("n_tot"))
    val rTot = corpusCounts.crossJoin(broadcast(nTot))
      .agg(sum(expr("""(1000000000 * cast(b as decimal(38,0)))
                       div cast(n_tot as decimal(38,0))""")).as("r_tot"))
    srcCounts.join(corpusCounts, "tok")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot))
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

  private val tokensSql = "regexp_split_to_array(lower(trim(text)), '\\s+')"

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
  private def bpeEncodeCtes: String = {
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
  private val stopsIn = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** The quality-score SQL over columns (text, w) — ONE definition
    * interpolated into every oracle that scores (t2, c1, c3, c5, c8), so
    * the formula cannot drift per-site. Mirrors `TextAnalysis.scoreExpr`
    * term for term (sqrt not log: IEEE correctly-rounded both engines).
    */
  private lazy val scoreSql =
    s"sqrt(CAST(len(w) AS DOUBLE)) * (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text)) * (0.5 + 0.5 * (CAST(len(list_filter(w, t -> t IN ($stopsIn))) AS DOUBLE) / len(w)))"

  /** Seed for the c4 domain-mix sampling hash — constants inlined into
    * both the Spark plan and the oracle SQL.
    */
  private val MixSeed = 21L

  /** x6's feature-hashing seed (own stream: buckets must not correlate
    * with the c4 gate or the c11 sample ranks).
    */
  private val FeatSeed = 77L

  /** Seed for the c11 stratified-sample ranking hash — same universal
    * family as c4, different stream.
    */
  private[graft] val SampleSeed = 33L

  /** c34's DSIR feature-hash seed (own stream: importance buckets must
    * not correlate with x6's encoding buckets or any sampling gate).
    */
  private[graft] val DsirSeed = 91L

  /** c34's hashed-ngram model width. 64 is the oracle-demo width (the
    * x6 precedent); a production DSIR run uses 2^18+ — the plan shape
    * is width-independent (the stat table stays a broadcast either way).
    */
  private[graft] val DsirBuckets = 64L

  private val mixRateSql =
    "CASE WHEN lang = 'en' THEN 1000 WHEN lang = 'zh' THEN 250 ELSE 500 END"

  /** 7-gram shingle CTE over docs_near — [[graft.ext.Dedup.shingleIndex]]
    * semantics; shared by d2/d6 here and the d3 MinHash oracle.
    */
  /** The 7-gram shingle derivation as a named CTE over an arbitrary
    * (doc_id, text) source CTE — shared by [[shingleSql]] (docs_near,
    * the d2/d6/d3 pipeline) and c25's docs_dup variant.
    */
  private def shingleSqlOver(cte: String, src: String): String =
    s"""$cte AS (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
       |    THEN list_transform(range(len(w) - 6),
       |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
       |    ELSE [array_to_string(w, ' ')] END) AS sh
       |  FROM (SELECT doc_id, $tokensSql AS w FROM $src)))""".stripMargin

  private[graft] lazy val shingleSql = shingleSqlOver("shing", "docs_near")

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

  private[graft] val LnCap = 1024
  private[graft] val lnE12: Array[Long] =
    (1 to LnCap).map(i => math.round(math.log(i) * 1e12)).toArray

  /** t26 core over an arbitrary (doc_id, text) frame — shared with
    * ScaleProbe. See the t26 registry comment.
    */
  private[graft] def tokenEntropyOf(s: SparkSession, d: DataFrame): DataFrame = {
    import s.implicits._
    def lnDf = (1 to LnCap).map(i => (i.toLong, lnE12(i - 1)))
      .toDF("i", "ln_e12")
    val counts = d
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    // LEFT join (r15 ADVICE fix): the per-token ln lookup must not drop
    // rows BEFORE the doc totals aggregate, or a doc whose residual sum
    // fell back under the cap would survive with silently wrong totals.
    // With raw totals, the final INNER join on n_tokens is the single
    // loud gate: any out-of-cap doc has n_tokens > LnCap (every c ≤ n),
    // so it drops from BOTH engines identically — and for surviving
    // docs every c ≤ n ≤ LnCap, so no ln_e12 is ever null.
    counts.join(broadcast(lnDf), counts("c") === col("i"), "left")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("ln_e12")).as("sum_clnc"))
      .join(broadcast(lnDf), col("n_tokens") === col("i"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("(n_tokens * ln_e12 - sum_clnc) div (n_tokens * 1000000)")
          .as("entropy_e6"))
      .orderBy("doc_id")
  }

  /** The t26 table rendered for the oracle prelude. */
  private def lnValuesSql: String =
    (1 to LnCap).map(i => s"(${i}, ${lnE12(i - 1)})").mkString(", ")

  /** c34 core over an INJECTED documents frame (doc_id, lang, text) —
    * shared with ScaleProbe. See the c34 registry comment for the
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

  private def jaccardCtes(threshold: Double): String =
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


  val oracles: Map[String, String] = Map(
    "t1_token_count" -> Oracle.sql(
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS char_count,
         |       CAST(len($tokensSql) AS BIGINT) AS ws_token_count,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS subword_count
         |FROM documents ORDER BY doc_id""".stripMargin),
    "t2_quality_score" -> Oracle.sql(
      s"""SELECT doc_id,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w) AS avg_token_len,
         |       CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / length(text) AS punct_ratio,
         |       CAST(len(list_filter(w, t -> t IN ($stopsIn))) AS DOUBLE) / len(w) AS stopword_ratio,
         |       $scoreSql AS quality_score
         |FROM (SELECT doc_id, text, $tokensSql AS w FROM documents)
         |ORDER BY doc_id""".stripMargin),
    "t3_lang_id" -> Oracle.sql(
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
         |ORDER BY doc_id""".stripMargin),
    "t4_fingerprint" -> Oracle.sql(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
    "t5_rolling_fingerprint" -> Oracle.sql(
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(length(text)),
        |             i -> CAST(unicode(substring(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
        |         (h, c) -> (h * 131 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin),
    "t12_length_quantiles" -> Oracle.sql(
      """SELECT lang, COUNT(*) AS n_docs,
        |       quantile_disc(n_chars, 0.05) AS p05,
        |       quantile_disc(n_chars, 0.5) AS p50,
        |       quantile_disc(n_chars, 0.95) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    "c8_token_budget" -> Oracle.sql(
      s"""SELECT doc_id, lang, n_tokens, quality_score, cum_tokens
         |FROM (SELECT doc_id, lang, n_tokens, quality_score,
         |        CAST(SUM(n_tokens) OVER (PARTITION BY lang
         |          ORDER BY quality_score DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |              $scoreSql AS quality_score
         |            FROM (SELECT doc_id, lang, text, $tokensSql AS w FROM documents)))
         |WHERE cum_tokens <= 500
         |ORDER BY lang, doc_id""".stripMargin),
    // cum_before is CAST to BIGINT before // and % (windowed SUM is
    // HUGEINT in DuckDB — the c8 drift class); both operands nonneg so
    // DuckDB // matches Spark's div
    "c9_pack_sequences" -> Oracle.sql(
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
         |ORDER BY pack_group, doc_id""".stripMargin),
    // t20 oracle: the TRAINER itself, unrolled — 20 rounds of (adjacent
    // pair-count, argmax with the pinned tie-break, greedy re-segment),
    // each round three MATERIALIZED CTEs (the g5/g10 unrolled-iteration
    // device; the memory-table chain would explode under default CTE
    // inlining). DuckDB's binary VARCHAR collation IS code-point order,
    // the same argument BpeTrainer's scaladoc makes for Spark's
    // UTF8String, so ORDER BY w DESC, l, r replays the pinned argmax;
    // the LEFT JOIN NULL-guard makes exhausted rounds no-ops exactly
    // like the trainer's w >= 2 stop.
    "t20_bpe_merges" -> {
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
    },
    // t21 oracle: the unrolled pinned-merge encode replay (bpeEncodeCtes)
    // — same distinct-vocabulary shape, same greedy fold per rule.
    "t21_bpe_encode" -> Oracle.sqlWith(bpeEncodeCtes,
      """SELECT doc_id, n_tokens, n_bpe_tokens FROM bpe_counts
        |ORDER BY doc_id""".stripMargin),
    // c8b oracle: c8's selection statement re-denominated in the
    // replayed BPE counts (budget 2000)
    "c8b_token_budget_bpe" -> Oracle.sqlWith(bpeEncodeCtes,
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
         |ORDER BY lang, doc_id""".stripMargin),
    // c9b oracle: c9's packing statement on the replayed BPE counts
    // (budget 1024); cum_before CAST before // and % (the c8 HUGEINT
    // drift class), both operands nonneg so // matches div
    "c9b_pack_sequences_bpe" -> Oracle.sqlWith(bpeEncodeCtes,
      """SELECT doc_id, pack_group, n_bpe_tokens,
        |       cum_before // 1024 AS seq_id,
        |       cum_before % 1024 AS seq_offset
        |FROM (SELECT doc_id, doc_id % 8 AS pack_group, n_bpe_tokens,
        |        CAST(COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY doc_id % 8
        |          ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS cum_before
        |      FROM bpe_counts)
        |ORDER BY pack_group, doc_id""".stripMargin),
    "c10_quality_bins" -> Oracle.sql(
      s"""SELECT doc_id, lang, n_tokens, quality_score,
         |       NTILE(4) OVER (PARTITION BY lang
         |         ORDER BY quality_score DESC, doc_id) AS bin
         |FROM (SELECT doc_id, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |        $scoreSql AS quality_score
         |      FROM (SELECT doc_id, lang, text, $tokensSql AS w FROM documents))
         |ORDER BY lang, bin, doc_id""".stripMargin),
    // quantile_disc is DuckDB's exact discrete quantile ≡ Spark
    // percentile_disc (the a8/t12 parity); both sides compare the SAME
    // doubles so the >= binning is engine-exact
    "c10b_quality_bins_cutoffs" -> Oracle.sqlWith(
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
        |ORDER BY lang, bin, doc_id""".stripMargin),
    "d7_incremental_dedup" -> Oracle.sqlWith(
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
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    "t17_span_extract" -> Oracle.sqlWith(docsPiiSql,
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
         |ORDER BY doc_id, kind, span_idx""".stripMargin),
    "t13_pii_redact" -> Oracle.sqlWith(docsPiiSql,
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.ipv4Re}', '<IP>', 'g') AS redacted
         |FROM docs_pii ORDER BY doc_id""".stripMargin),
    "c7_chunk_windows" -> Oracle.sql(
      s"""SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |       CAST(len(w[i*48+1 : i*48+64]) AS BIGINT) AS n_chunk_tokens,
         |       array_to_string(w[i*48+1 : i*48+64], ' ') AS chunk
         |FROM (SELECT doc_id, w, unnest(range((greatest(len(w) - 64, 0) + 47) // 48 + 1)) AS i
         |      FROM (SELECT doc_id, $tokensSql AS w FROM documents))
         |ORDER BY doc_id, chunk_id""".stripMargin),
    "t11_repetition" -> Oracle.sql(
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
         |ORDER BY doc_id""".stripMargin),
    "c5_source_profile" -> Oracle.sqlWith(
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
        |FROM with_dup GROUP BY source ORDER BY source""".stripMargin),
    "c4_domain_mix" -> {
      val (a, b) = HashCoeffs.coeffs(1, MixSeed).head
      Oracle.sql(
        s"""SELECT doc_id, lang, source,
           |       CAST($mixRateSql AS DOUBLE) / 1000.0 AS sample_rate
           |FROM documents
           |WHERE (($a * doc_id + $b) % ${HashCoeffs.P}) % 1000 < $mixRateSql
           |ORDER BY doc_id""".stripMargin)
    },
    "t14_oov_rate" -> Oracle.sqlWith(
      s"""toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
         |vocab AS (SELECT w, 1 AS in_vocab
         |          FROM (SELECT w, COUNT(*) AS n FROM toks GROUP BY w
         |                ORDER BY n DESC, w LIMIT 10))""".stripMargin,
      """SELECT t.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.w = v.w
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin),
    "c11_stratified_sample" -> {
      val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
      Oracle.sql(
        s"""SELECT doc_id, lang, source, rn
           |FROM (SELECT doc_id, lang, source,
           |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
           |          ORDER BY ($a * doc_id + $b) % ${HashCoeffs.P}, doc_id) AS BIGINT) AS rn
           |      FROM documents)
           |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)
    },
    // same selection as c11 by construction (total order ⇒ aggregator ≡
    // rank window), so the oracle is c11's verbatim
    "c11b_stratified_sample_topk" -> {
      val (a, b) = HashCoeffs.coeffs(1, SampleSeed).head
      Oracle.sql(
        s"""SELECT doc_id, lang, source, rn
           |FROM (SELECT doc_id, lang, source,
           |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
           |          ORDER BY ($a * doc_id + $b) % ${HashCoeffs.P}, doc_id) AS BIGINT) AS rn
           |      FROM documents)
           |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)
    },
    "e3_json_explode" -> Oracle.sql(
      """SELECT event_id, unnest(json_transform(tags_json, '["VARCHAR"]')) AS tag
        |FROM (SELECT event_id,
        |             '["t' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 3)
        |               || '","u' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 5)
        |               || '"]' AS tags_json
        |      FROM events)
        |ORDER BY event_id, tag""".stripMargin),
    "e1_json_extract" -> Oracle.sql(
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    "d1_dedup_exact" -> Oracle.sqlWith(docsDupSql,
      """SELECT doc_id
        |FROM (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM docs_dup)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    "d2_ngram_jaccard" -> Oracle.sqlWith(jaccardCtes(0.5),
      """SELECT id1, id2, jaccard FROM jacc_pairs ORDER BY id1, id2""".stripMargin),
    // d11: d2's candidate pipeline at τ=0, re-scored by levenshtein
    // (both engines implement plain character-level Wagner–Fischer)
    "d11_edit_verify" -> Oracle.sqlWith(
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
        |WHERE edit_sim >= 0.8 ORDER BY id1, id2""".stripMargin),
    // d11b: d11's naive un-banded replay VERBATIM — equal rows prove the
    // per-pair band (floor(0.2·maxlen)+1 threshold + exact-distance
    // survivors) is semantics-preserving
    "d11b_edit_verify_banded" -> Oracle.sqlWith(
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
        |WHERE edit_sim >= 0.8 ORDER BY id1, id2""".stripMargin),
    // d12: the same naive 2-arg predicate DuckDB runs un-banded — equal
    // rows prove the banded rewrite preserves semantics
    "d12_edit_prefilter" -> Oracle.sqlWith(
      s"""${jaccardCtes(0.0)}""".stripMargin,
      """SELECT p.id1, p.id2, p.jaccard
        |FROM jacc_pairs p
        |JOIN docs_near a ON p.id1 = a.doc_id
        |JOIN docs_near b ON p.id2 = b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 30
        |ORDER BY p.id1, p.id2""".stripMargin),
    // d10 oracle: keep-first span dedup replayed with a window — the
    // first (doc_id, seg_no) occurrence of every aligned 8-token segment
    // survives, later occurrences are deleted, survivors reassemble in
    // seg_no order (same aligned segmentation as the c18 oracle)
    "d10_span_dedup" -> Oracle.sqlWith(
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
        |ORDER BY t.doc_id""".stripMargin),
    // d9 oracle: the same inverted-index pair pipeline over the snippet
    // fixture, scored per DIRECTION with the inner set as denominator
    "d9_containment" -> Oracle.sqlWith(
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
        |WHERE containment >= 0.8 ORDER BY inner_id, outer_id""".stripMargin),
    "d6_dedup_clusters" -> Oracle.sqlRecursive(
      s"""${jaccardCtes(0.5)},
         |edges AS (SELECT id1 AS a, id2 AS b FROM jacc_pairs
         |          UNION ALL SELECT id2, id1 FROM jacc_pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)""".stripMargin,
      """SELECT id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin),
    // d14 oracle: d6's recursive-CTE cluster map, singletons restored by
    // the same left join, then the two census aggregates; share as the
    // same positive 10⁶ floor division
    "d14_dup_census" -> Oracle.sqlRecursive(
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
        |ORDER BY cluster_size""".stripMargin),
    // c30 oracle: d6's recursive-CTE cluster map left-joined back to the
    // corpus, c2's md5 bucketing applied to the coalesced group key
    "c30_group_split" -> Oracle.sqlRecursive(
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
        |FROM gk30 ORDER BY doc_id""".stripMargin),
    "c3_fuzzy_corpus" -> Oracle.sqlRecursive(
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
        |ORDER BY k.doc_id""".stripMargin),
    "t6_vocab_topk" -> Oracle.sql(
      s"""SELECT word, COUNT(*) AS n
         |FROM (SELECT unnest($tokensSql) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin),
    // t22 oracle: same aligned slices, same tie-broken top-K tier
    // tables, same ladder and fixed-point familiarity
    "t22_trigram_coverage" -> Oracle.sqlWith(
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
        |ORDER BY doc_id""".stripMargin),
    "t7_bigram_topk" -> Oracle.sql(
      s"""SELECT bigram, COUNT(*) AS n
         |FROM (SELECT unnest(CASE WHEN len(w) >= 2
         |        THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
         |        ELSE [array_to_string(w, ' ')] END) AS bigram
         |      FROM (SELECT $tokensSql AS w FROM documents))
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin),
    "c13_snapshot_diff" -> Oracle.sqlWith(
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
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin),
    "t16_bigram_commonness" -> t16OracleSql,
    // t16b computes the SAME result through the hot-split plan — one
    // oracle, two plans; a divergence in either shows as a hash
    // mismatch on its own row
    "t16b_bigram_hotsplit" -> t16OracleSql,
    "e2_json_schema" -> Oracle.sql(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    // e4 oracle: the same '{'-prefix mangle; validity via json_valid,
    // field sum over valid rows only
    "e4_json_corrupt" -> Oracle.sqlWith(
      """ev4 AS (SELECT event_id, event_type,
        |          CASE WHEN event_id % 7 = 0 THEN '{' || props
        |          ELSE props END AS props
        |        FROM events)""".stripMargin,
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CASE WHEN NOT json_valid(props) THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_corrupt,
        |       CAST(SUM(CASE WHEN json_valid(props)
        |                THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
        |                END) AS BIGINT) AS sum_k
        |FROM ev4 GROUP BY event_type ORDER BY event_type""".stripMargin),
    "c1_corpus_pipeline" -> Oracle.sqlWith(
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
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // winnowing restated in SQL: per-k-gram rolling hashes (nested list
    // lambdas), min per w-window, distinct + sort, unnest to rows. The
    // short-doc branch (< k bytes) hashes the whole text, mirroring the
    // kernel's guard.
    "t10_winnow_fingerprints" -> Oracle.sqlWith(
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
        |ORDER BY doc_id, fp""".stripMargin),
    "t9_clean_text" -> Oracle.sql(
      s"""SELECT doc_id,
         |       array_to_string(
         |         list_filter(
         |           regexp_split_to_array(regexp_replace(lower(trim(text)), '[.,!?;:]', '', 'g'), '\\s+'),
         |           t -> NOT t IN ($stopsIn) AND t != ''),
         |         ' ') AS clean
         |FROM documents ORDER BY doc_id""".stripMargin),
    "c2_train_test_split" -> Oracle.sql(
      """SELECT doc_id,
        |       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
        |            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    "c6_decontaminate" -> Oracle.sqlWith(
      s"""$docsDupSql,
         |split6 AS (SELECT doc_id,
         |             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
         |                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
         |                  ELSE 'test' END AS split
         |           FROM docs_dup),
         |shing6 AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
         |    THEN list_transform(range(len(w) - 6),
         |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         |    ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, $tokensSql AS w FROM docs_dup))),
         |tr6 AS (SELECT DISTINCT s.sh FROM shing6 s
         |        JOIN split6 p ON s.doc_id = p.doc_id WHERE p.split = 'train')""".stripMargin,
      """SELECT s.doc_id AS doc_id, COUNT(*) AS n_shared_shingles
        |FROM shing6 s
        |JOIN split6 p ON s.doc_id = p.doc_id
        |JOIN tr6 t ON s.sh = t.sh
        |WHERE p.split = 'test'
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin),
    // c23 oracle: c6's shingle CTEs with the sides swapped (eval
    // shingle set, contaminated-train ids) and a NOT EXISTS anti join
    "c23_decontaminated_train" -> Oracle.sqlWith(
      s"""$docsDupSql,
         |split23 AS (SELECT doc_id,
         |             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
         |                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
         |                  ELSE 'test' END AS split
         |           FROM docs_dup),
         |shing23 AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
         |    THEN list_transform(range(len(w) - 6),
         |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         |    ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, $tokensSql AS w FROM docs_dup))),
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
        |ORDER BY doc_id""".stripMargin),
    "c6b_contamination_rate" -> Oracle.sqlWith(
      s"""$docsDupSql,
         |split6 AS (SELECT doc_id,
         |             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '28' THEN 'train'
         |                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '3c' THEN 'valid'
         |                  ELSE 'test' END AS split
         |           FROM docs_dup),
         |shing6 AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(w) >= 7
         |    THEN list_transform(range(len(w) - 6),
         |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         |    ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, $tokensSql AS w FROM docs_dup))),
         |tr6 AS (SELECT DISTINCT s.sh FROM shing6 s
         |        JOIN split6 p ON s.doc_id = p.doc_id WHERE p.split = 'train')""".stripMargin,
      """SELECT s.doc_id AS doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS contamination
        |FROM shing6 s
        |JOIN split6 p ON s.doc_id = p.doc_id
        |LEFT JOIN tr6 t ON s.sh = t.sh
        |WHERE p.split = 'test'
        |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin),
    "t15_type_token" -> Oracle.sqlWith(
      s"""toks AS (SELECT doc_id, unnest($tokensSql) AS w FROM documents),
         |tf AS (SELECT doc_id, w, COUNT(*) AS f FROM toks GROUP BY doc_id, w)""".stripMargin,
      """SELECT doc_id,
        |       CAST(SUM(f) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_types,
        |       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS BIGINT) AS ttr,
        |       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / COUNT(*) AS hapax_frac
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "b1_sessionize" -> Oracle.sql(
      """SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (SELECT user_id, ts,
        |             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM (SELECT user_id, ts, event_id,
        |                   CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                        THEN 1 ELSE 0 END AS new_sess
        |            FROM events))
        |GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin),
    // b1b oracle: b1's gap-islands form with the native session_window
    // boundary rule (new session when diff >= gap, not strict >)
    "b1b_session_window_native" -> Oracle.sql(
      """SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM (SELECT user_id, ts,
        |             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        |      FROM (SELECT user_id, ts, event_id,
        |                   CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
        |                        THEN 1 ELSE 0 END AS new_sess
        |            FROM events))
        |GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin),
    "b2_funnel" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |w1 AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |           OVER (PARTITION BY user_id) AS s_us
         |       FROM events_thin),
         |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= s_us THEN us END)
         |         OVER (PARTITION BY user_id) AS c_us FROM w1),
         |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= c_us THEN us END)
         |         OVER (PARTITION BY user_id) AS p_us FROM w2),
         |pu AS (SELECT user_id, MIN(s_us) AS s_us, MIN(c_us) AS c_us, MIN(p_us) AS p_us
         |       FROM w3 GROUP BY user_id),
         |n AS (SELECT COUNT(s_us) AS n1, COUNT(c_us) AS n2, COUNT(p_us) AS n3 FROM pu)""".stripMargin,
      """SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) AS pct_of_first
        |FROM (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users, n1 FROM n
        |      UNION ALL SELECT CAST(2 AS BIGINT), 'click', n2, n1 FROM n
        |      UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3, n1 FROM n)
        |ORDER BY stage_idx""".stripMargin),
    // w7 oracle: the same first-seen rollup + day spine running sum
    "w7_new_users" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |fs7 AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS day
         |        FROM events_thin GROUP BY user_id),
         |dd7 AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
         |        FROM fs7 GROUP BY day)""".stripMargin,
      """SELECT day, new_users,
        |       CAST(SUM(new_users) OVER (ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM dd7 ORDER BY day""".stripMargin),
    // b7 oracle: same per-user min-when rollup, same division order
    "b7_conversion_lag" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |pu7 AS (SELECT user_id,
         |          MIN(CASE WHEN event_type = 'view'
         |              THEN epoch_us(ts) END) AS v_us,
         |          MIN(CASE WHEN event_type = 'purchase'
         |              THEN epoch_us(ts) END) AS p_us
         |        FROM events_thin GROUP BY user_id),
         |cv7 AS (SELECT CAST(make_timestamp(v_us) AS DATE) AS cohort_day,
         |               CASE WHEN p_us >= v_us THEN p_us - v_us END AS lag_us
         |        FROM pu7 WHERE v_us IS NOT NULL)""".stripMargin,
      """SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(COUNT(lag_us) AS BIGINT) AS n_converted,
        |       CAST(SUM(lag_us) AS DOUBLE) / CAST(COUNT(lag_us) AS DOUBLE)
        |         / 1000000.0 AS mean_lag_s
        |FROM cv7 GROUP BY cohort_day ORDER BY cohort_day""".stripMargin),
    // b8 oracle: the same running last-engagement frame (IGNORE NULLS,
    // frame ending at 1 PRECEDING) and the same window-sum share
    "b8_attribution" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |att8 AS (SELECT event_type,
         |           last_value(CASE WHEN event_type IN ('view', 'click')
         |                      THEN event_type END IGNORE NULLS) OVER
         |             (PARTITION BY user_id
         |              ORDER BY epoch_us(ts), event_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |             AS channel
         |         FROM events_thin),
         |ch8 AS (SELECT COALESCE(channel, 'direct') AS channel,
         |               CAST(COUNT(*) AS BIGINT) AS n_purchases
         |        FROM att8 WHERE event_type = 'purchase'
         |        GROUP BY 1)""".stripMargin,
      """SELECT channel, n_purchases,
        |       CAST(n_purchases AS DOUBLE)
        |         / CAST(SUM(n_purchases) OVER () AS DOUBLE) AS share
        |FROM ch8 ORDER BY channel""".stripMargin),
    // w12: the same pinned order, LIST-wrapped [v, 0] values so
    // list_reduce's implicit first-element seed IS [x₁, 0] (array, not
    // struct — the slot-mutation quirk the registry comment documents);
    // the lₜ tree written out twice exactly as the Spark lambda
    // recomputes it
    "w12_holt" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |h12 AS (SELECT user_id,
         |          CAST(COUNT(*) AS BIGINT) AS n_events,
         |          list_reduce(
         |            list_transform(list(value ORDER BY epoch_us(ts), event_id),
         |              v -> [v, CAST(0.0 AS DOUBLE)]),
         |            (acc, x) -> [
         |              CAST(0.5 AS DOUBLE) * x[1]
         |                + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |              CAST(0.25 AS DOUBLE)
         |                * ((CAST(0.5 AS DOUBLE) * x[1]
         |                    + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
         |                + CAST(0.75 AS DOUBLE) * acc[2]]) AS st
         |        FROM events_thin GROUP BY user_id)""".stripMargin,
      """SELECT user_id, n_events, st[1] AS level, st[2] AS trend,
        |       st[1] + st[2] AS forecast
        |FROM h12 ORDER BY user_id""".stripMargin),
    // w8 oracle: list_reduce over the identically-pinned value order —
    // the same seed-with-first fold, the same exact binary coefficients
    "w8_ewma" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |ew8 AS (SELECT user_id,
         |          CAST(COUNT(*) AS BIGINT) AS n_events,
         |          list_reduce(list(value ORDER BY epoch_us(ts), event_id),
         |            (a, x) -> a * CAST(0.75 AS DOUBLE)
         |                      + x * CAST(0.25 AS DOUBLE)) AS ewma
         |        FROM events_thin GROUP BY user_id)""".stripMargin,
      """SELECT user_id, n_events, ewma
        |FROM ew8 ORDER BY user_id""".stripMargin),
    // w9: same gap-islands-over-ranges statement; the explicit round()
    // before the BIGINT cast is the parity pin (DuckDB's bare
    // double→BIGINT cast rounds, Spark's truncates)
    "w9_interval_merge" -> Oracle.sqlWith(
      """iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |              epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS end_us
        |       FROM events),
        |flagged AS (SELECT user_id, start_us, end_us, event_id,
        |              CASE WHEN MAX(end_us) OVER w IS NULL
        |                     OR start_us > MAX(end_us) OVER w
        |                   THEN 1 ELSE 0 END AS new_island
        |            FROM iv
        |            WINDOW w AS (PARTITION BY user_id ORDER BY start_us, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |islands AS (SELECT user_id, start_us, end_us,
        |              SUM(new_island) OVER (PARTITION BY user_id
        |                ORDER BY start_us, event_id
        |                ROWS UNBOUNDED PRECEDING) AS island
        |            FROM flagged)""".stripMargin,
      """SELECT user_id, CAST(island AS BIGINT) AS island,
        |       MIN(start_us) AS start_us, MAX(end_us) AS end_us,
        |       COUNT(*) AS n_intervals
        |FROM islands GROUP BY user_id, island
        |ORDER BY user_id, island""".stripMargin),
    // c24: one audit row from the three 1-row sides, stacked to per-rule
    // report rows via UNION ALL (DuckDB's stack())
    "c24_dq_audit" -> Oracle.sqlWith(
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
        |FROM stacked ORDER BY rule""".stripMargin),
    // b9: b1's session statement + ordered string_agg + global top-20
    "b9_top_paths" -> Oracle.sql(
      """SELECT path, COUNT(*) AS n_sessions
        |FROM (SELECT user_id, sess_id,
        |             string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path
        |      FROM (SELECT user_id, event_id, ts, event_type,
        |                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                       ROWS UNBOUNDED PRECEDING) AS sess_id
        |            FROM (SELECT user_id, ts, event_id, event_type,
        |                         CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |                              THEN 1 ELSE 0 END AS new_sess
        |                  FROM events))
        |      GROUP BY user_id, sess_id)
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // b10: the same day-spine prefix arithmetic, the same seeded fold in
    // the same day order — each (1 − d/n) factor is one IEEE divide, so
    // the product-limit doubles are bit-equal, no tolerance
    "b10_kaplan_meier" -> Oracle.sqlWith(
      """u10 AS (SELECT user_id, MIN(epoch_us(ts)) AS first_us,
        |               MIN(CASE WHEN event_type = 'purchase' AND value >= 180.0
        |                        THEN epoch_us(ts) END) AS conv_us
        |        FROM events GROUP BY user_id),
        |mx10 AS (SELECT MAX(epoch_us(ts)) AS end_us FROM events),
        |day10 AS (SELECT (COALESCE(conv_us, end_us) - first_us) // 86400000000
        |                   AS dur_day,
        |                 CAST(SUM(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END)
        |                      AS BIGINT) AS d,
        |                 CAST(COUNT(*) AS BIGINT) AS m,
        |                 CAST(SUM(CASE WHEN conv_us IS NULL THEN 1 ELSE 0 END)
        |                      AS BIGINT) AS c
        |          FROM u10, mx10 GROUP BY 1),
        |spine10 AS (SELECT dur_day, d, c,
        |                   SUM(m) OVER ()
        |                   - COALESCE(SUM(m) OVER (ORDER BY dur_day
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                     0) AS n_risk
        |            FROM day10),
        |arr10 AS (SELECT list(dur_day ORDER BY dur_day) AS days,
        |                 list(d ORDER BY dur_day) AS ds,
        |                 list(c ORDER BY dur_day) AS cs,
        |                 list(n_risk ORDER BY dur_day) AS ns
        |          FROM spine10)""".stripMargin,
      """SELECT days[i] AS dur_day, CAST(ns[i] AS BIGINT) AS n_risk,
        |       ds[i] AS n_events, cs[i] AS n_censored,
        |       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
        |         list_transform(range(i), j ->
        |           CAST(1.0 AS DOUBLE) - CAST(ds[CAST(j + 1 AS INTEGER)] AS DOUBLE)
        |                                 / CAST(ns[CAST(j + 1 AS INTEGER)] AS DOUBLE))),
        |         (a, x) -> a * x) AS survival
        |FROM arr10, unnest(range(1, len(days) + 1)) AS t(i)
        |ORDER BY dur_day""".stripMargin),
    // w10: the w8 pinned-order fold over per-interval products — one
    // IEEE multiply per interval, identical fold order → bit-equal
    "w10_twap" -> Oracle.sql(
      """SELECT user_id, CAST(len(tl) AS BIGINT) AS n_events,
        |       list_reduce(list_transform(range(1, len(tl)),
        |                     i -> vl[i] * CAST(tl[i+1] - tl[i] AS DOUBLE)),
        |                   (a, x) -> a + x)
        |         / CAST(tl[len(tl)] - tl[1] AS DOUBLE) AS twap
        |FROM (SELECT user_id,
        |             list(epoch_us(ts) ORDER BY epoch_us(ts), event_id) AS tl,
        |             list(value ORDER BY epoch_us(ts), event_id) AS vl
        |      FROM events GROUP BY user_id HAVING COUNT(*) >= 2)
        |ORDER BY user_id""".stripMargin),
    // w11: HUGEINT is DuckDB's 128-bit twin of the Spark DECIMAL(38,0)
    // side — both exact for every term, so the inequality is engine-exact
    "w11_rolling_anomaly" -> Oracle.sqlWith(
      """daily11 AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |                                 AS BIGINT)) AS BIGINT) AS v
        |            FROM orders GROUP BY 1),
        |r11 AS (SELECT day, v,
        |               COUNT(*) OVER w AS n,
        |               SUM(CAST(v AS HUGEINT)) OVER w AS s,
        |               SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) OVER w AS q
        |        FROM daily11
        |        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))""".stripMargin,
      """SELECT day, v AS revenue_cents, CAST(n AS BIGINT) AS n_days,
        |       (n = 7 AND
        |        (n * CAST(v AS HUGEINT) - s) * (n * CAST(v AS HUGEINT) - s)
        |          > 9 * (n * q - s * s)) AS is_anomaly
        |FROM r11 ORDER BY day""".stripMargin),
    // x11: the same computable-membership conditional counts
    "x11_gdpr_erasure" -> Oracle.sqlWith(
      """cu11 AS (SELECT 'customers' AS table_name,
        |                CAST(COUNT(*) AS BIGINT) AS rows_before,
        |                CAST(SUM(CASE WHEN substring(md5(CAST(customer_id
        |                    AS VARCHAR)), 1, 1) = 'f' THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS rows_removed
        |         FROM clean_customers),
        |sa11 AS (SELECT 'sales' AS table_name,
        |                CAST(COUNT(*) AS BIGINT) AS rows_before,
        |                CAST(SUM(CASE WHEN substring(md5(CAST(customer_id
        |                    AS VARCHAR)), 1, 1) = 'f' THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS rows_removed
        |         FROM clean_sales)""".stripMargin,
      """SELECT table_name, rows_before, rows_removed,
        |       rows_before - rows_removed AS rows_after
        |FROM (SELECT * FROM cu11 UNION ALL SELECT * FROM sa11)
        |ORDER BY table_name""".stripMargin),
    "x10_k_anonymity" -> Oracle.sqlWith(
      """base10 AS (SELECT customer_id, region,
        |                  COALESCE(strftime(registration_date, '%Y-%m'), 'unknown')
        |                    AS reg_month
        |           FROM clean_customers),
        |cls10 AS (SELECT region, reg_month, COUNT(*) AS n
        |          FROM base10 GROUP BY 1, 2)""".stripMargin,
      """SELECT b.customer_id,
        |       CASE WHEN c.n >= 10 THEN b.region ELSE '*' END AS region_anon,
        |       CASE WHEN c.n >= 10 THEN b.reg_month ELSE '*' END AS month_anon,
        |       c.n < 10 AS is_suppressed
        |FROM base10 b
        |JOIN cls10 c ON b.region = c.region AND b.reg_month = c.reg_month
        |ORDER BY customer_id""".stripMargin),
    // b2b: b2's oracle with the 10-day deadline added to the same CASE
    // predicates (864e9 us = FunnelWindowUs)
    "b2b_funnel_window" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |w1b AS (SELECT user_id, event_type, epoch_us(ts) AS us,
         |          MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
         |            OVER (PARTITION BY user_id) AS s_us
         |        FROM events_thin),
         |w2b AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND us >= s_us
         |                            AND us <= s_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS c_us FROM w1b),
         |w3b AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND us >= c_us
         |                            AND us <= c_us + 864000000000 THEN us END)
         |          OVER (PARTITION BY user_id) AS p_us FROM w2b),
         |pub AS (SELECT user_id, MIN(s_us) AS s_us, MIN(c_us) AS c_us, MIN(p_us) AS p_us
         |        FROM w3b GROUP BY user_id),
         |nb AS (SELECT COUNT(s_us) AS n1, COUNT(c_us) AS n2, COUNT(p_us) AS n3 FROM pub)""".stripMargin,
      """SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE) AS pct_of_first
        |FROM (SELECT CAST(1 AS BIGINT) AS stage_idx, 'signup' AS stage, n1 AS n_users, n1 FROM nb
        |      UNION ALL SELECT CAST(2 AS BIGINT), 'click', n2, n1 FROM nb
        |      UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n3, n1 FROM nb)
        |ORDER BY stage_idx""".stripMargin),
    // d13: candidates are d2's τ=0 shingle pairs; cos re-stated with the
    // identical single-rounding IEEE tree — exact-long dot/norms, one
    // division, two sqrts, one multiply
    "d13_tf_cosine" -> Oracle.sqlWith(
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
        |ORDER BY id1, id2""".stripMargin),
    "c25_novelty" -> Oracle.sqlWith(
      s"""$docsDupSql,
         |${shingleSqlOver("shd", "docs_dup")},
         |dfc AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY sh)""".stripMargin,
      """SELECT s.doc_id, COUNT(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST((1000000 * SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END))
        |            // COUNT(*) AS BIGINT) AS novelty_e6
        |FROM shd s JOIN dfc USING (sh)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),
    // c26: same md5 draw arithmetic ('0x'||hex ≡ conv(hex,16,10)), same
    // keep-min-j collapse, anti-join, and first-3-by-draw-order window
    "c26_negative_sample" -> Oracle.sqlWith(
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
        |ORDER BY customer_id, draw_j""".stripMargin),
    "b3_retention" -> Oracle.sqlWith(
      s"""$eventsThinSql,
         |fw AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
         |       FROM events_thin GROUP BY user_id),
         |ret AS (SELECT f.cohort_week,
         |          CAST(date_diff('day', f.cohort_week,
         |               CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT) AS week_offset,
         |          COUNT(DISTINCT e.user_id) AS n_active
         |        FROM events_thin e JOIN fw f ON e.user_id = f.user_id
         |        GROUP BY 1, 2)""".stripMargin,
      """SELECT r.cohort_week, r.week_offset, r.n_active, z.n0 AS cohort_size,
        |       CAST(r.n_active AS DOUBLE) / CAST(z.n0 AS DOUBLE) AS retention
        |FROM ret r JOIN (SELECT cohort_week, n_active AS n0 FROM ret
        |                 WHERE week_offset = 0) z USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin),
    "b4_gap_fill" -> Oracle.sqlWith(
      """pv AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |              SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |bounds AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        |           FROM events),
        |cal AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM bounds),
        |spine AS (SELECT u.user_id, c.day
        |          FROM (SELECT DISTINCT user_id FROM events) u, cal c)""".stripMargin,
      """SELECT s.user_id, s.day,
        |       CAST(SUM(COALESCE(p.cents, 0)) OVER (
        |         PARTITION BY s.user_id ORDER BY s.day) AS DOUBLE) / 100.0
        |         AS balance
        |FROM spine s LEFT JOIN pv p ON p.user_id = s.user_id AND p.day = s.day
        |ORDER BY s.user_id, s.day""".stripMargin),
    "c17_dedup_survivor" -> Oracle.sqlRecursive(
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
        |WHERE rn = 1 ORDER BY cluster""".stripMargin),
    // c31 oracle: one plain global window prefix sum (the oracle can
    // afford the single-partition form the Spark plan avoids via the
    // t24/w4c bucket device — same values by associativity), same
    // HUGEINT stride floors, same boundary-containment filter
    "c31_systematic_sample" -> Oracle.sqlWith(
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
        |ORDER BY doc_id""".stripMargin),
    "c14_weighted_sample" -> Oracle.sql(
      """SELECT doc_id, n_chars, u6
        |FROM (SELECT doc_id, n_chars,
        |             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS u6
        |      FROM documents)
        |WHERE u6 * 400 < 16777216 * LEAST(n_chars, 400)
        |ORDER BY doc_id""".stripMargin),
    "c15_filter_verdict" -> Oracle.sql(
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
         |ORDER BY doc_id""".stripMargin),
    "c16_mixing_weights" -> Oracle.sqlWith(
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
        |ORDER BY l.lang""".stripMargin),
    // t18 oracle: same add-1 conditional probabilities from the same
    // exact counts; the per-doc sum replays Spark's pinned pos-order
    // fold via list(p ORDER BY pos) + list_reduce — a bare SUM(p) would
    // be engine-order-dependent.
    "t18_bigram_fluency" -> Oracle.sqlWith(
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
        |ORDER BY doc_id""".stripMargin),
    // t19 oracle: identical integer sufficient statistics (n, types,
    // Σc²) finished by the same single IEEE divisions — exact parity by
    // construction, no transcendental involved
    // t26 oracle: the IDENTICAL pinned ln table as a VALUES list (no
    // engine log), the same (doc_id, tok) counts, the same single
    // positive floor; sums CAST to BIGINT per the HUGEINT lint
    "t26_token_entropy" -> Oracle.sqlWith(
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
        |ORDER BY a.doc_id""".stripMargin),
    // t27 oracle: identical integer counts over the same injected
    // fixture, identical cross-multiplied rule comparisons — the keep
    // bit never touches a float on either engine
    "t27_gopher_rules" -> Oracle.sqlWith(
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
        |FROM ct27 ORDER BY doc_id""".stripMargin),
    // c33 oracle: the same (doc, line) multiplicity grain, HUGEINT for
    // the ×10⁶ duplicated-character floor
    "c33_repetition_signals" -> Oracle.sqlWith(
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
        |FROM lm33 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // c34 oracle: t16's bigram CTE + x6's affine-over-byte-fold bucket
    // (ASCII fixture: bytes == code points), integer e2 ratio clamped
    // to [10, 1000], log-ratio from the SAME pinned ln table as t26
    "c34_dsir_reweight" -> {
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
    },
    "t19_simpson_diversity" -> Oracle.sqlWith(
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
        |ORDER BY doc_id""".stripMargin),
    // x7 oracle: the two-level enumeration collapses to one per-shard
    // rank (within a shard the hash's 2nd char IS the sub-group, so
    // offset + within-sub rank ≡ rank by hash) — stating it this way
    // makes the oracle itself the equivalence proof for the split form
    "x7_shard_shuffle" -> Oracle.sqlWith(
      """hx7 AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |        FROM documents)""".stripMargin,
      """SELECT doc_id, substring(h, 1, 1) AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1)
        |                               ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        |FROM hx7 ORDER BY shard, pos""".stripMargin),
    // x9 oracle: the same synthesized feed, last-change-wins window and
    // delete/upsert/insert case analysis over a FULL OUTER merge
    // x14 oracle: same canonical pipe serialization (integer VARCHARs,
    // exact cents, ISO date), the c14 '0x'-prefix 60-bit digest device,
    // same HUGEINT sum-mod register
    "x14_table_checksum" -> Oracle.sqlWith(
      """h14x AS (SELECT category,
        |                CAST(('0x' || substring(md5(concat_ws('|',
        |                  CAST(order_id AS VARCHAR),
        |                  CAST(line_id AS VARCHAR),
        |                  CAST(product_id AS VARCHAR),
        |                  CAST(quantity AS VARCHAR),
        |                  CAST(CAST(CAST(unit_price AS DECIMAL(12,2)) * 100
        |                    AS BIGINT) AS VARCHAR),
        |                  CAST(order_date AS VARCHAR),
        |                  CAST(customer_id AS VARCHAR))), 1, 15))
        |                  AS BIGINT) AS h
        |         FROM clean_sales)""".stripMargin,
      """SELECT category, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(h AS HUGEINT)) % 1000000000000000000
        |         AS BIGINT) AS checksum
        |FROM h14x GROUP BY category ORDER BY category""".stripMargin),
    "x9_cdc_apply" -> Oracle.sqlWith(
      """feed9 AS (SELECT CASE WHEN o_orderkey % 50 = 0 THEN 'delete'
        |                 ELSE 'upsert' END AS op,
        |                 CASE WHEN o_custkey % 7 = 0
        |                 THEN o_custkey + (SELECT MAX(c_custkey) FROM customer)
        |                 ELSE o_custkey END AS custkey,
        |                 o_totalprice AS new_acctbal,
        |                 CAST(o_orderdate AS DATE) AS seq_d, o_orderkey
        |          FROM orders),
        |last9 AS (SELECT custkey, op, new_acctbal
        |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
        |                  ORDER BY seq_d DESC, o_orderkey DESC) AS rn
        |                FROM feed9)
        |          WHERE rn = 1),
        |m9 AS (SELECT COALESCE(s.c_custkey, l.custkey) AS custkey,
        |              s.c_mktsegment, s.c_acctbal, l.op, l.new_acctbal
        |       FROM customer s
        |       FULL OUTER JOIN last9 l ON s.c_custkey = l.custkey)""".stripMargin,
      """SELECT custkey, COALESCE(c_mktsegment, 'NEW') AS c_mktsegment,
        |       COALESCE(new_acctbal, c_acctbal) AS acctbal,
        |       CASE WHEN op IS NULL THEN 'kept'
        |            WHEN c_mktsegment IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS row_src
        |FROM m9
        |WHERE COALESCE(op, 'keep') <> 'delete'
        |  AND (c_mktsegment IS NOT NULL OR op = 'upsert')
        |ORDER BY custkey""".stripMargin),
    // x8 oracle: identical lag-change collapse + lead/row_number close,
    // stated over the same total (d, o_orderkey) order
    "x8_scd2_history" -> Oracle.sqlWith(
      """scd8 AS (SELECT o_custkey, o_orderkey,
        |                CAST(o_orderdate AS DATE) AS d,
        |                o_orderpriority AS priority,
        |                LAG(o_orderpriority) OVER
        |                  (PARTITION BY o_custkey
        |                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |                  AS prev
        |         FROM orders),
        |chg8 AS (SELECT * FROM scd8
        |         WHERE prev IS NULL OR prev <> priority)""".stripMargin,
      """SELECT o_custkey AS custkey,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |       priority, d AS valid_from,
        |       LEAD(d) OVER w AS valid_to,
        |       (LEAD(d) OVER w IS NULL) AS is_current
        |FROM chg8
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
        |ORDER BY custkey, version""".stripMargin),
    // j10 oracle: x8's history CTE verbatim, then the point-in-time
    // probe at d−1 as the plain interval predicate — one version per
    // order by interval disjointness, NULL before the first change
    "j10_scd2_pit_join" -> Oracle.sqlWith(
      """scd10 AS (SELECT o_custkey, o_orderkey,
        |                 CAST(o_orderdate AS DATE) AS d,
        |                 o_orderpriority AS priority,
        |                 LAG(o_orderpriority) OVER
        |                   (PARTITION BY o_custkey
        |                    ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
        |                   AS prev
        |          FROM orders),
        |hist10 AS (SELECT o_custkey AS custkey,
        |                  CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
        |                  priority, d AS valid_from, LEAD(d) OVER w AS valid_to
        |           FROM (SELECT * FROM scd10
        |                 WHERE prev IS NULL OR prev <> priority)
        |           WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey))""".stripMargin,
      """SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS d,
        |       h.priority AS prior_priority, h.version
        |FROM orders o
        |LEFT JOIN hist10 h
        |  ON h.custkey = o.o_custkey
        | AND h.valid_from <= CAST(o.o_orderdate AS DATE) - 1
        | AND (h.valid_to IS NULL OR h.valid_to > CAST(o.o_orderdate AS DATE) - 1)
        |ORDER BY o.o_orderkey""".stripMargin),
    // j11: same block-then-verify statement; DuckDB's levenshtein is the
    // un-banded semantics proof for the rule-rewritten Spark predicate
    "j11_fuzzy_name_match" -> Oracle.sqlWith(
      """n11 AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
        |        FROM part GROUP BY p_name),
        |tok11 AS (SELECT name, unnest(string_split(name, ' ')) AS t FROM n11),
        |cand11 AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |           FROM tok11 a JOIN tok11 b
        |             ON a.t = b.t AND a.name < b.name)""".stripMargin,
      """SELECT name_a, name_b,
        |       CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev,
        |       na.n_parts AS parts_a, nb.n_parts AS parts_b
        |FROM cand11
        |JOIN n11 na ON name_a = na.name
        |JOIN n11 nb ON name_b = nb.name
        |WHERE levenshtein(name_a, name_b) <= 4
        |ORDER BY name_a, name_b""".stripMargin),
    // b11: identical left-associated Wilson tree — z²/n, the /(2n) and
    // /(4n) terms, one sqrt — so the CI doubles are bit-equal. Every
    // literal is CAST to DOUBLE (the w8 discipline): DuckDB parses bare
    // decimal literals as DECIMAL, and DECIMAL 3.8416 → double differs
    // from the folded 1.96·1.96 double by 1 ulp (measured).
    "b11_conversion_ci" -> Oracle.sqlWith(
      """d11c AS (SELECT CAST(ts AS DATE) AS day,
        |                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
        |                CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
        |                     THEN user_id END) AS BIGINT) AS conv
        |         FROM events GROUP BY 1),
        |w11c AS (SELECT day, n, conv,
        |                CAST(conv AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |                CAST(n AS DOUBLE) AS nd,
        |                CAST(1.96 AS DOUBLE) AS z,
        |                CAST(1.0 AS DOUBLE) AS one,
        |                CAST(2.0 AS DOUBLE) AS two,
        |                CAST(4.0 AS DOUBLE) AS four
        |         FROM d11c)""".stripMargin,
      """SELECT day, n, conv, p AS p_hat,
        |       ((p + z * z / (two * nd))
        |        - z * sqrt((p * (one - p) + z * z / (four * nd)) / nd))
        |         / (one + z * z / nd) AS wilson_lo,
        |       ((p + z * z / (two * nd))
        |        + z * sqrt((p * (one - p) + z * z / (four * nd)) / nd))
        |         / (one + z * z / nd) AS wilson_hi
        |FROM w11c ORDER BY day""".stripMargin),
    // b12 oracle: same first-seen cohort, same integer month index,
    // same rolled-up cumulative spine, same fixed-point floor ratio
    "b12_cohort_ltv" -> Oracle.sqlWith(
      """fs12 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
        |co12 AS (SELECT user_id, strftime(t0, '%Y-%m') AS cohort,
        |                year(t0) * 12 + month(t0) AS ym0
        |         FROM fs12),
        |sz12 AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
        |         FROM co12 GROUP BY cohort),
        |rv12 AS (SELECT c.cohort,
        |                CAST(year(e.ts) * 12 + month(e.ts) - c.ym0 AS BIGINT)
        |                  AS age,
        |                CAST(SUM(CAST(CAST(e.value AS DECIMAL(12,2)) * 100
        |                     AS BIGINT)) AS BIGINT) AS rev_cents
        |         FROM events e JOIN co12 c ON e.user_id = c.user_id
        |         WHERE e.event_type = 'purchase'
        |         GROUP BY 1, 2),
        |cm12 AS (SELECT cohort, age, rev_cents,
        |                CAST(SUM(rev_cents) OVER (PARTITION BY cohort
        |                  ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |                  AS cum_cents
        |         FROM rv12)""".stripMargin,
      """SELECT c.cohort, c.age, s.n_users, c.rev_cents, c.cum_cents,
        |       (1000000 * c.cum_cents) // s.n_users AS ltv_per_user_e6
        |FROM cm12 c JOIN sz12 s ON c.cohort = s.cohort
        |ORDER BY c.cohort, c.age""".stripMargin),
    // b13 oracle: same customer-grain rollup, same quantile_disc
    // cutoffs (the c10b parity), same count-above scoring and CASE
    "b13_rfm_segments" -> Oracle.sqlWith(
      """cg13 AS (SELECT customer_id,
        |                CAST(DATE '1998-12-31' - MAX(order_date) AS BIGINT)
        |                  AS r_days,
        |                CAST(COUNT(DISTINCT order_id) AS BIGINT) AS f_orders,
        |                CAST(SUM(CAST(total_price * 100 AS BIGINT)) AS BIGINT)
        |                  AS m_cents
        |         FROM clean_sales GROUP BY customer_id),
        |ct13 AS (SELECT quantile_disc(r_days, 0.20) AS r20,
        |                quantile_disc(r_days, 0.40) AS r40,
        |                quantile_disc(r_days, 0.60) AS r60,
        |                quantile_disc(r_days, 0.80) AS r80,
        |                quantile_disc(f_orders, 0.20) AS f20,
        |                quantile_disc(f_orders, 0.40) AS f40,
        |                quantile_disc(f_orders, 0.60) AS f60,
        |                quantile_disc(f_orders, 0.80) AS f80,
        |                quantile_disc(m_cents, 0.20) AS m20,
        |                quantile_disc(m_cents, 0.40) AS m40,
        |                quantile_disc(m_cents, 0.60) AS m60,
        |                quantile_disc(m_cents, 0.80) AS m80
        |         FROM cg13),
        |sc13 AS (SELECT customer_id, r_days, f_orders, m_cents,
        |                5 - ((r_days > r20)::BIGINT + (r_days > r40)::BIGINT
        |                     + (r_days > r60)::BIGINT + (r_days > r80)::BIGINT)
        |                  AS r_score,
        |                1 + ((f_orders > f20)::BIGINT + (f_orders > f40)::BIGINT
        |                     + (f_orders > f60)::BIGINT + (f_orders > f80)::BIGINT)
        |                  AS f_score,
        |                1 + ((m_cents > m20)::BIGINT + (m_cents > m40)::BIGINT
        |                     + (m_cents > m60)::BIGINT + (m_cents > m80)::BIGINT)
        |                  AS m_score
        |         FROM cg13, ct13)""".stripMargin,
      """SELECT customer_id, r_days, f_orders, m_cents,
        |       r_score, f_score, m_score,
        |       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |            WHEN r_score >= 4 THEN 'recent'
        |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |            ELSE 'regular' END AS segment
        |FROM sc13
        |ORDER BY customer_id""".stripMargin),
    // m7 oracle: same frames, same integer byte-sum energy, same
    // threshold, same gap-islands run-length merge
    "m7_audio_vad" -> Oracle.sqlWith(
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
        |ORDER BY doc_id, seg_start""".stripMargin),
    // c28 oracle: same value-grain doubled midranks, same cross-
    // multiplied quantile lookup, same min-pooled-value resolution
    // c29 oracle: same size-asc prefix test for the capped set, same
    // exact rational level, same pinned (source asc) remainder order —
    // every intermediate an exact integer on both engines
    "c29_water_fill" -> Oracle.sqlWith(
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
        |FROM fn29 ORDER BY source""".stripMargin),
    "c28_quantile_normalize" -> Oracle.sqlWith(
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
        |ORDER BY b.doc_id""".stripMargin),
    // b14 oracle: same window join, same dyadic 8192 >> age credits,
    // same fixed-point shares
    "b14_decay_attribution" -> Oracle.sqlWith(
      """cv14 AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
        |         WHERE event_type = 'purchase'),
        |tp14 AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
        |         FROM events WHERE event_type IN ('click', 'view')),
        |cr14 AS (SELECT t.event_type,
        |                CAST((c.p_us - t.t_us) // 86400000000 AS BIGINT)
        |                  AS age_days,
        |                8192 >> CAST((c.p_us - t.t_us) // 86400000000
        |                  AS INTEGER) AS credit
        |         FROM cv14 c JOIN tp14 t ON c.user_id = t.user_id
        |          AND t.t_us <= c.p_us
        |          AND c.p_us - t.t_us < 1209600000000),
        |ba14 AS (SELECT event_type, age_days,
        |                CAST(COUNT(*) AS BIGINT) AS n_touches,
        |                CAST(SUM(credit) AS BIGINT) AS credit
        |         FROM cr14 GROUP BY 1, 2),
        |tt14 AS (SELECT CAST(SUM(credit) AS BIGINT) AS total_credit
        |         FROM ba14)""".stripMargin,
      """SELECT event_type, age_days, n_touches, credit,
        |       CAST((1000000 * credit) // total_credit AS BIGINT)
        |         AS share_e6
        |FROM ba14, tt14
        |ORDER BY event_type, age_days""".stripMargin),
    // t23 oracle: same surrogate idf, same cross-multiplied length
    // normalization, every literal CAST AS DOUBLE, same pivoted
    // fixed-order sum
    // t24 oracle: same first-doc min per type, same pinned 16-bucket
    // grid, same tiny-table cumsum — all integers
    // t25 oracle: the same fixture union (cd25 replays the three
    // DocFixtures.codeDocsOf templates, cycled by doc_id // 13), the
    // same regexp class, the same exact-token keyword probe
    // (list_filter ≡ TokenSetCount on exact matches), the same ×10⁶
    // floors and AND verdict
    "t25_code_detect" -> Oracle.sqlWith(
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
        |FROM ft25 ORDER BY doc_id""".stripMargin),
    "t24_vocab_growth" -> Oracle.sqlWith(
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
        |ORDER BY bucket""".stripMargin),
    "t23_bm25_search" -> Oracle.sqlWith(
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
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
    // x12 oracle: the same salted-hash pseudonym on both sides — the
    // hash match proves the pseudonymized join carries the same graph
    // x13 oracle: same census, same md5-60-bit uniform, same pinned
    // threshold fan, same clamp — the seeded draw is replayable by
    // construction
    "x13_dp_count" -> Oracle.sqlWith(
      s"""ct13 AS (SELECT region, CAST(COUNT(*) AS BIGINT) AS n_true
         |         FROM clean_customers GROUP BY 1),
         |dr13 AS (SELECT region, n_true,
         |                CAST(('0x' || substring(md5('dp13:' || region),
         |                  1, 15)) AS BIGINT) AS u
         |         FROM ct13)""".stripMargin,
      s"""SELECT region,
         |       GREATEST(n_true + (${DpGeomCdf60.map(t =>
              s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString("\n         + ")})
         |                - 20, 0) AS n_noisy,
         |       CAST(1000000 AS BIGINT) AS epsilon_e6
         |FROM dr13 ORDER BY region""".stripMargin),
    "x12_pseudonymized_join" -> Oracle.sqlWith(
      """pe12 AS (SELECT md5('graft-pii-v1:' || CAST(user_id AS VARCHAR))
        |                  AS pid,
        |                CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |                  AS cents
        |         FROM events),
        |pc12 AS (SELECT md5('graft-pii-v1:' || CAST(customer_id AS VARCHAR))
        |                  AS pid, region
        |         FROM clean_customers)""".stripMargin,
      """SELECT e.pid, c.region, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(e.cents) AS BIGINT) AS val_cents
        |FROM pe12 e JOIN pc12 c ON e.pid = c.pid
        |GROUP BY 1, 2 ORDER BY e.pid""".stripMargin),
    // b5 oracle: same lag + aggregation; from-totals as the plain
    // partition window
    "b5_transition_matrix" -> Oracle.sqlWith(
      """tr5 AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS from_type,
        |               event_type AS to_type
        |        FROM events),
        |cnt5 AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |         FROM tr5 WHERE from_type IS NOT NULL GROUP BY 1, 2)""".stripMargin,
      """SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE)
        |         / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM cnt5 ORDER BY from_type, to_type""".stripMargin),
    // b15 oracle: b5's transition counts quantized to the same e12
    // fixed-point, 20 unrolled power-iteration CTEs (the t20 unroll
    // device), HUGEINT products, floor division after each round's sum.
    // 20 full rounds here vs the query's exact-fixed-point early stop
    // is NOT a divergence: an integer fixed point persists, so rounds
    // past convergence reproduce the same vector bit-for-bit. sk15
    // mirrors the query's self-loop convention for target-only states
    // (empty on the driver fixture).
    "b15_markov_stationary" -> {
      val rounds = (1 to 20).map { k =>
        s"""rr$k AS (SELECT t.to_type AS state,
           |              CAST(SUM(CAST(r.v AS HUGEINT) * t.p_e12)
           |                // 1000000000000 AS BIGINT) AS v
           |         FROM rr${k - 1} r JOIN tp15 t
           |           ON r.state = t.from_type
           |         GROUP BY t.to_type)""".stripMargin
      }.mkString(",\n")
      Oracle.sqlWith(
        s"""tr15 AS (SELECT LAG(event_type) OVER (PARTITION BY user_id
           |                  ORDER BY ts, event_id) AS from_type,
           |                event_type AS to_type
           |         FROM events),
           |cn15 AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
           |         FROM tr15 WHERE from_type IS NOT NULL GROUP BY 1, 2),
           |tp15a AS (SELECT from_type, to_type,
           |                 CAST(CAST(n AS HUGEINT) * 1000000000000
           |                   // SUM(n) OVER (PARTITION BY from_type)
           |                   AS BIGINT) AS p_e12
           |          FROM cn15),
           |sk15 AS (SELECT DISTINCT to_type AS state FROM cn15
           |         EXCEPT SELECT DISTINCT from_type FROM cn15),
           |tp15 AS (SELECT * FROM tp15a
           |         UNION ALL
           |         SELECT state, state,
           |                CAST(1000000000000 AS BIGINT) AS p_e12
           |         FROM sk15),
           |st15b AS (SELECT DISTINCT from_type AS state FROM cn15
           |          UNION SELECT DISTINCT to_type FROM cn15),
           |rr0 AS (SELECT state, CAST(1000000000000 AS BIGINT) AS v
           |        FROM st15b),
           |$rounds""".stripMargin,
        """SELECT state, v,
          |       CAST((1000000 * CAST(v AS HUGEINT))
          |            // (SELECT SUM(CAST(v AS HUGEINT)) FROM rr20)
          |            AS BIGINT) AS share_e6
          |FROM rr20 ORDER BY state""".stripMargin)
    },
    // b6 oracle: the same two lag taps + count + tie-broken top-20
    "b6_event_trigrams" -> Oracle.sqlWith(
      """tr6 AS (SELECT LAG(event_type, 2) OVER w AS t1,
        |               LAG(event_type, 1) OVER w AS t2,
        |               event_type AS t3
        |        FROM events
        |        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        |FROM tr6 WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin),
    // x6 oracle: the same seeded affine-over-rolling-hash bucket, token
    // hash replayed as the t5 fold
    "x6_feature_hash" -> {
      val (a, b) = HashCoeffs.coeffs(1, FeatSeed).head
      Oracle.sqlWith(
        s"""toksx AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
           |hx AS (SELECT doc_id,
           |         (($a * list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(range(length(tok)),
           |               i -> CAST(unicode(substring(tok, CAST(i + 1 AS INTEGER), 1)) AS BIGINT))),
           |             (h, c) -> (h * 131 + c) % ${HashCoeffs.P})
           |           + $b) % ${HashCoeffs.P}) % 64 AS bucket
           |       FROM toksx)""".stripMargin,
        """SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
          |       CAST(COUNT(*) AS BIGINT) AS n
          |FROM hx GROUP BY 1, 2
          |ORDER BY doc_id, bucket""".stripMargin)
    },
    // c19 oracle: same pipeline at τ=0.3, decile histogram + running
    // total stated as a plain window
    "c19_threshold_sweep" -> Oracle.sqlWith(
      s"""${jaccardCtes(0.3)},
         |dec AS (SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS decile,
         |               CAST(COUNT(*) AS BIGINT) AS n_pairs
         |        FROM jacc_pairs GROUP BY 1)""".stripMargin,
      """SELECT decile, n_pairs,
        |       CAST(SUM(n_pairs) OVER (ORDER BY decile DESC) AS BIGINT)
        |         AS n_pairs_at_or_above
        |FROM dec ORDER BY decile""".stripMargin),
    // c22 oracle: t2's score formula, t4's normalized fingerprint, the
    // same quantile_disc cutoffs and bin case analysis
    "c22_quality_dup_calibration" -> Oracle.sqlWith(
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
        |FROM b22 GROUP BY bin ORDER BY bin""".stripMargin),
    // c20 oracle: the same integer numerator Σ|a·N − b·n_s| on HUGEINT
    // + the absent-token remainder, the same pinned division chain
    "c20_domain_shift" -> Oracle.sqlWith(
      s"""sc20 AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
         |         FROM (SELECT source, unnest($tokensSql) AS tok
         |               FROM documents)
         |         GROUP BY source, tok),
         |cc20 AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS b
         |         FROM sc20 GROUP BY tok),
         |ns20 AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s
         |         FROM sc20 GROUP BY source),
         |nt20 AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns20),
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
        |FROM pr20 ORDER BY source""".stripMargin),
    // c27: same per-term floors on the same ×10⁹ rate grid, same exact
    // absent-mass identity — HUGEINT mirrors DECIMAL(38,0)
    "c27_chi2_drift" -> Oracle.sqlWith(
      s"""sc27 AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
         |         FROM (SELECT source, unnest($tokensSql) AS tok
         |               FROM documents)
         |         GROUP BY source, tok),
         |cc27 AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS b
         |         FROM sc27 GROUP BY tok),
         |ns27 AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n_s
         |         FROM sc27 GROUP BY source),
         |nt27 AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns27),
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
        |FROM pr27, rt27 ORDER BY source""".stripMargin),
    // c18 oracle: the strip rule stated relationally — segment table,
    // HAVING df >= 3 boilerplate set, anti join, order-restoring
    // string_agg — where Spark runs the broadcast-set narrow-map rewrite.
    // Same 1-based inclusive slice convention as the c7 oracle.
    "c18_boilerplate_strip" -> c18OracleSql,
    // c18b shares c18's oracle verbatim: same output contract, different
    // physical plan — the gate run IS the row-equality proof
    "c18b_boilerplate_strip_antijoin" -> c18OracleSql)

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
}
