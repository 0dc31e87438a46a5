package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Tables
import graft.ext.{Clusters, Dedup, DocFixtures, MinHashLSH, SimHash, Similarity, TextAnalysis}
import graft.streaming.Streams

/** Scale-curve probe (dev tool, not part of the driver contract): times the
  * heaviest corpus operators at ×1 and ×K replicated data so quadratic
  * creep shows up as a curve, not an opinion — results recorded in
  * BASELINE.md round over round.
  *
  * Replica construction matters: naive duplication would make every doc an
  * exact near-dup of its K−1 copies and blow the pair space up
  * quadratically in K — unrepresentative of a corpus growing with fresh
  * content. Instead every token is suffixed with the replica id (narrow
  * regexp, shingle sets pairwise disjoint across replicas), so pair
  * structure grows linearly like real growth. Embedding replicas stay
  * identical (bucket occupancy genuinely grows with corpus size — that IS
  * the thing the planes-scaling rule must absorb: planes ≈ log2(n / target
  * bucket size), so ×K data takes +log2(K) planes).
  */
object ScaleProbe {

  private def docsRep(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"))
    }.reduce(_ unionAll _)

  private def embRep(base: DataFrame, k: Int): DataFrame =
    (0 until k).map(i => base.select(
      (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)

  /** Events ×k with disjoint event ids — volume grows, per-key/window
    * density per replica stays the fixture's (ids offset, everything else
    * kept, so the window/state shape is k independent copies).
    */
  private def eventsRep(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val ev = Tables.events(spark, dir)
    (0 until k).map(i =>
      ev.withColumn("event_id", col("event_id") + lit(i * 1000000000L)))
      .reduce(_ unionAll _)
  }

  /** Orders ×k with disjoint order AND customer keys — k independent
    * copies of the fixture's per-customer structure: version-chain
    * lengths, per-key join multiplicities and per-month-per-replica
    * customer sets all stay the fixture's, so any super-linear curve is
    * the operator's fault, not the replica construction's.
    */
  private def ordersRep(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val o = Tables.table(spark, dir, "orders")
    (0 until k).map(i => o
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(i * 100000000L)))
      .reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    // optional third arg: comma-separated op prefixes to probe (e.g.
    // "j7,t15,v4") — re-probing one new shape shouldn't cost a full-table
    // run. Empty/absent = probe everything.
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def selected(op: String): Boolean =
      only.forall(s => s.exists(p => op == p || op.startsWith(p + "_")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)

    def time(op: String, scale: Int)(df: => DataFrame): Unit = {
      if (!selected(op)) return
      // drop blocks persisted by the PREVIOUS op (several probes
      // localCheckpoint eagerly) so each measurement is isolated — the
      // same leak the round-9 Bench fix closed
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      // protocol v2 (r15): run the probe plan's own physical plan — a
      // bare count() lets Catalyst eliminate unreferenced windows/
      // joins/generates and time a narrower operator (see Bench.scala)
      val n = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$op","scale":$scale,"rows":$n,"sec":$sec%.2f}""")
    }

    val near = DocFixtures.docsNear(spark, dir)
    val docs = DocFixtures.docs(spark, dir).select("doc_id", "text")
    val dup = DocFixtures.embDup(spark, dir)
    val extraPlanes = (math.log(reps) / math.log(2)).ceil.toInt

    // untimed streaming warmup: engine + RocksDB state store init would
    // otherwise land inside the ×1 measurement and fake a sublinear curve
    Streams.dedupKeys(spark, dir).count()

    for (k <- Seq(1, reps)) {
      time("d2_ngram_jaccard", k)(
        Dedup.ngramJaccardPairs(docsRep(near, k), n = 7, threshold = 0.5,
          dfMax = Some(1000)))
      // x7: deterministic shard shuffle — the 256-group two-level
      // enumeration must stay linear (each window group is a fixed
      // 1/256 slice of the corpus; the offset table is always 256 rows)
      time("x7_shard_shuffle", k)(
        ExtensionQueries.shardShuffle(docsRep(docs, k).select("doc_id")))
      // c20: domain-shift TV distance — replicas get DISJOINT sources
      // (suffixed names) AND disjoint vocabularies (suffixed tokens,
      // the docsRep device), so distinct (source, tok) pairs — the
      // size of every shuffle past the first partial agg — grow
      // exactly linearly; time must track them
      time("c20_domain_shift", k)(
        ExtensionQueries.domainShift(
          (0 until k).map { i =>
            val base = DocFixtures.docs(spark, dir)
              .select("source", "text")
            if (i == 0) base
            else base.select(
              concat(col("source"), lit("_" + i)).as("source"),
              regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"))
          }.reduce(_ unionAll _)))
      // c34: DSIR reweighting — replicas keep their lang labels and get
      // disjoint vocabularies (suffixed tokens), but feature HASHING
      // folds every replica's bigrams into the same B=64 buckets: the
      // model/stat tables stay O(B) at any k (the hashing trick's whole
      // scale claim), so the curve must track the tokenize+explode scan
      // + one (doc_id, bucket) partial agg — t16's family, ~linear
      time("c34_dsir_reweight", k)(
        ExtensionQueries.dsirReweightOf(spark,
          (0 until k).map { i =>
            val base = DocFixtures.docs(spark, dir)
              .select("doc_id", "lang", "text")
            if (i == 0) base
            else base.select(
              (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
              col("lang"),
              regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"))
          }.reduce(_ unionAll _)))
      // a22b: exact sliding distinct — the contribute-forward explode
      // puts 3× the fact rows through ONE distinct-agg exchange; with
      // disjoint replica custkeys the per-month distinct sets grow ×k,
      // so shuffle rows and time must track the corpus linearly
      time("a22b_sliding_distinct", k) {
        val ords = ordersRep(spark, dir, k)
        val present = ords
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .distinct()
        ords.select(explode(array((0 to 2).map(j =>
            date_format(add_months(col("o_orderdate"), j), "yyyy-MM")): _*))
            .as("month"), col("o_custkey"))
          .join(broadcast(present), Seq("month"), "left_semi")
          .groupBy("month")
          .agg(countDistinct("o_custkey").as("n_customers_3mo"))
      }
      // j10: SCD2 point-in-time join — replica custkeys are disjoint,
      // so version chains and per-key join multiplicity stay the
      // fixture's; cost is the two custkey exchanges, linear in orders
      time("j10_scd2_pit_join", k) {
        val ords = ordersRep(spark, dir, k)
        val hist = ExtensionQueries.scd2HistoryOf(ords)
        val probe = date_sub(col("d"), 1)
        ords.select(col("o_orderkey"), col("o_custkey"),
            to_date(col("o_orderdate")).as("d"))
          .join(hist,
            col("o_custkey") === hist("custkey") &&
              hist("valid_from") <= probe &&
              (hist("valid_to").isNull || hist("valid_to") > probe),
            "left")
      }
      // t20: BPE training — the corpus-sized cost is ONE word-count
      // pass; iterations read the distinct-word table (suffixed replica
      // tokens grow it ×10, still vocabulary-bounded). Time must track
      // the scan, not explode with it.
      time("t20_bpe_merges", k)(
        graft.ext.BpeTrainer.trainMerges(
          docsRep(docs, k).select(col("text")), 8))
      // t21: BPE encode — corpus-sized cost is the (doc_id, word)
      // partial agg; the rule replay runs once per DISTINCT word
      // (suffixed replica tokens grow the vocab ×k, still bounded) and
      // broadcasts back. Time must track the scan like t20's.
      if (selected("t21_bpe_encode")) locally {
        val rep = docsRep(docs, k)
        val merges = graft.ext.BpeTrainer.trainOnCounts(
          graft.ext.BpeTrainer.collectWordCounts(rep.select("text")), 8)
          .map(m => (m._2, m._3, m._4))
        time("t21_bpe_encode", k)(
          graft.ext.BpeTrainer.encodeTokenCounts(rep, merges))
      }
      // d10: keep-first span dedup — replica-suffixed tokens keep
      // cross-replica span sets disjoint, so the drop mass (and the
      // hash-keyed shuffles) must grow linearly with the corpus
      time("d10_span_dedup", k)(
        Dedup.spanDedup(docsRep(DocFixtures.docsDup(spark, dir), k)))
      time("d3_minhash_lsh", k)(MinHashLSH.nearDupPairs(docsRep(near, k)))
      // d3 band-occupancy register (r17 verdict task 8: print the
      // governing register by default on every heavy-family leg):
      // banding's scale claim is that bucket groups stay bounded by
      // copy multiplicity as the corpus grows — suffixed replica
      // shingles are disjoint, so buckets must NOT coalesce across
      // replicas (avg ~flat, max tracking the injected dup multiplicity)
      if (selected("d3_minhash_lsh")) locally {
        val o = MinHashLSH.bandKeys(
            MinHashLSH.signatures(docsRep(near, k), 7, 32), 8, 4)
          .groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), max("n").as("mx"),
            avg("n").as("av"))
          .collect().head
        println(f"""{"op":"d3_band_occupancy","scale":$k,"buckets":${o.getLong(0)},"max":${o.getLong(1)},"avg":${o.getDouble(2)}%.1f}""")
      }
      time("d4_simhash", k)(SimHash.nearDupPairs(docsRep(near, k)))
      time("t10_winnow", k)(
        docsRep(docs, k).select(col("doc_id"),
          explode(graft.functions.WinnowFingerprints
            .winnow_fingerprints(col("text"), 8, 8)).as("fp")))
      time("s5_knn_bucketed", k)(
        Similarity.knnJoinBucketed(embRep(dup, k), k = 1,
          numPlanes = 8 + (if (k > 1) extraPlanes else 0), dim = 64))
      // s5 occupancy register (r15 verdict task 3): the planes-scaling
      // rule's whole claim is that +log2(k) planes hold per-bucket
      // occupancy ~flat as the corpus grows ×k — measure it, don't
      // argue it. (Identical-copy groups can never split — the floor
      // max occupancy is the copy multiplicity, the documented axis.)
      if (selected("s5_knn_bucketed")) locally {
        val o = Similarity.signBuckets(embRep(dup, k),
            8 + (if (k > 1) extraPlanes else 0), 64)
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), max("n").as("mx"),
            avg("n").as("av"))
          .collect().head
        println(f"""{"op":"s5_bucket_occupancy","scale":$k,"buckets":${o.getLong(0)},"max":${o.getLong(1)},"avg":${o.getDouble(2)}%.1f}""")
      }
      // s9: hybrid RRF — the fusion stage is two ≤20-row windows + a
      // full-outer on doc id (corpus-size-independent by construction),
      // so the curve must be ≈ the sum of its legs' curves: t23's BM25
      // scan family over ×k docs + s1's brute cosine over ×k vectors.
      // Suffixed replica tokens leave the BM25 query terms matching
      // only replica-0 docs — the top-20 pool stays the fixture's while
      // every corpus-sided aggregate (df/nd/tt, the cosine scan) grows ×k
      time("s9_hybrid_rrf", k)(
        SimilarityQueries.hybridRrfOf(docsRep(docs, k),
          embRep(Tables.table(spark, dir, "embeddings"), k)))
      // s8: composed IVFADC serving under the EXECUTABLE IVF sizing rule
      // (nLists ∝ corpus → constant cell occupancy → probe scan
      // ~nProbe·target rows regardless of corpus size). The quantizer is
      // trained OUTSIDE the timer on the base corpus (the faiss
      // offline-artifact discipline the registry entry ships); the timed
      // plan is assignment + encode + probe-cut ADC + re-rank over the
      // ×k corpus.
      if (selected("s8_ivfadc")) locally {
        val idx = graft.ext.IVFIndex.build(dup, nLists = 16 * k)
        idx.unpersist()
        time("s8_ivfadc", k)(
          graft.ext.ProductQuantizer.ivfAdcTopK(embRep(dup, k),
            idx.centroids, graft.ext.PqCodebook.Default,
            queryId = 0L, k = 10, nProbe = 4, shortlist = 50))
        val o = graft.ext.IVFIndex
          .fromCentroids(embRep(dup, k), idx.centroids).assigned
          .groupBy("cell").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("cells"), max("n").as("mx"),
            avg("n").as("av"))
          .collect().head
        println(f"""{"op":"s8_cell_occupancy","scale":$k,"cells":${o.getLong(0)},"max":${o.getLong(1)},"avg":${o.getDouble(2)}%.1f}""")
      }
      time("t6_vocab_topk", k)(
        docsRep(docs, k)
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word")).limit(100))
      // d6: min-label propagation — the question is the ROUND count
      // (graph diameter), which must stay flat as the corpus grows; edges
      // are materialized outside the timer (pair generation is d3's row)
      if (selected("d6_components")) locally {
        val pairs = MinHashLSH.nearDupPairs(docsRep(near, k))
          .select("id1", "id2").localCheckpoint()
        val t0 = System.nanoTime()
        val (cc, rounds) = Clusters.componentsWithRounds(pairs)
        val n = cc.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"d6_components","scale":$k,"rows":$n,"sec":$sec%.2f,"rounds":$rounds}""")
      }
      // c6: decontamination (shingle-key semi-join) — the newest heavy
      // join shape; replica-suffixed tokens keep cross-replica shingle
      // sets disjoint, so shared-shingle candidates must grow ~linearly
      locally {
        val d = docsRep(near, k)
        time("c6_decontaminate", k) {
          val sided = ExtensionQueries.decontamIndex(d)
          val trainSh = sided.filter(col("split") === "train")
            .select("sh").distinct()
          sided.filter(col("split") === "test")
            .join(trainSh, "sh")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_shared_shingles"))
        }
      }
      // c6b: graded contamination — c6's inverted index with the
      // semi-join widened to a LEFT join + counted hits, so every
      // (test-shingle, hit?) row flows into the per-doc ratio instead of
      // only contaminated docs surviving. Strictly more rows than c6;
      // replica-disjoint shingles mean hits (and time) must grow
      // ~linearly in the corpus like c6's did
      locally {
        val d = docsRep(near, k)
        time("c6b_contamination_rate", k) {
          val sided = ExtensionQueries.decontamIndex(d)
          val trainSh = sided.filter(col("split") === "train")
            .select("sh").distinct().withColumn("hit", lit(1L))
          sided.filter(col("split") === "test")
            .join(trainSh, Seq("sh"), "left")
            .groupBy("doc_id")
            .agg(count(lit(1)).cast("long").as("n_shingles"),
              sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_shared"))
        }
      }
      // c12: key-skew profile — partial-agg count + TakeOrdered(20) +
      // a window over only the 20 survivors. Replicas keep the SAME
      // partkeys (the realistic growth: more rows per key, not more
      // keys), so the map-side partial agg absorbs ×k and the shuffled
      // key space stays fixed — the time curve should be scan-bound
      time("c12_skew_profile", k) {
        val keys = (0 until k)
          .map(_ => Tables.table(spark, dir, "lineitem").select("l_partkey"))
          .reduce(_ unionAll _)
        val counts = keys.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum("n").cast("long").as("total"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("l_partkey"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        counts.orderBy(col("n").desc, col("l_partkey")).limit(20)
          .crossJoin(broadcast(total))
          .withColumn("cum_n", sum("n").over(w).cast("long"))
          .select(col("l_partkey").as("key"), col("n").cast("long").as("n"),
            (col("n").cast("double") / col("total")).as("share"),
            (col("cum_n").cast("double") / col("total")).as("cum_share"))
      }
      // j6: range join via the day-bucket binning rewrite — the newest
      // join shape. Replicas get DISJOINT custkeys (offset like the ids)
      // so promo windows only match their own replica's orders — matches
      // grow linearly like a real corpus, and any superlinear time is the
      // join itself, not the fixture
      time("j6_range_join", k) {
        val base = Tables.table(spark, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_orderdate"))
        def rep(df: DataFrame): DataFrame = (0 until k).map { i =>
          df.select(
            (col("o_orderkey") + lit(i * 1000000000L)).as("o_orderkey"),
            (col("o_custkey") + lit(i * 1000000000L)).as("o_custkey"),
            col("o_orderdate"))
        }.reduce(_ unionAll _)
        val ord = rep(base)
        // promos filter on the PRE-offset key: 1e9 % 97 = 34, so filtering
        // after the offset would select a DIFFERENT promo subset per
        // replica and matches would only grow ~k×, not exactly k×
        val promos = rep(base.filter(col("o_orderkey") % 97 === 0))
          .select(col("o_orderkey").as("promo_id"),
            col("o_custkey").as("cust"), col("o_orderdate").as("promo_start"))
        val buckets = promos.select(col("promo_id"), col("cust"),
          col("promo_start"),
          explode(expr("sequence(promo_start, date_add(promo_start, 6))"))
            .as("day"))
        ord.join(buckets,
          col("o_custkey") === col("cust") && col("o_orderdate") === col("day"))
          .select(col("promo_id"), col("o_orderkey").as("order_id"))
      }
      // c9: sequence packing — per-group cumsum window; the group count
      // is the scale knob, so ×k data over the same 8 groups stresses
      // exactly the per-group sort that a real deployment would widen
      time("c9_pack_sequences", k) {
        val counted = docsRep(docs, k).select(col("doc_id"),
          (col("doc_id") % lit(8L)).as("pack_group"),
          size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("pack_group").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        counted
          .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
          .select(col("doc_id"), col("pack_group"),
            expr("cum_before div 256").as("seq_id"))
      }
      // c10b: production quality binning — phase 1 is a per-language
      // EXACT percentile_disc agg (sort-based inside the agg buffer);
      // phase 2 is a broadcast-cutoff comparison at scan speed. The
      // probe verifies phase 1's exact quantile doesn't go super-linear
      // before the documented approx_percentile flip is needed. Replicas
      // preserve lang and re-suffix tokens (scores shift per replica —
      // irrelevant, the TIME curve is the signal).
      locally {
        val base = Tables.table(spark, dir, "documents")
          .select("doc_id", "lang", "text")
        val d = (0 until k).map { i =>
          if (i == 0) base
          else base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            col("lang"),
            regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"))
        }.reduce(_ unionAll _)
        time("c10b_quality_bins", k) {
          val scored = graft.ext.TextAnalysis.withQuality(d)
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
        }
      }
      // c11: exact-k stratified sample. Output rows stay 20×|langs| at
      // any k BY DESIGN (exact-k!), so the TIME curve alone is the
      // signal. Note: row_number + filter(rn <= 20) triggers Spark's
      // WindowGroupLimit top-k pushdown, so NO full per-stratum sort
      // executes — the probe times that rank-limit path (the same plan
      // the registry query gets), which should still scale ~linearly in
      // rows scanned. Seed matches the registry's SampleSeed for plan
      // fidelity.
      locally {
        val d = (0 until k).map(i =>
          Tables.table(spark, dir, "documents")
            .select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
              col("lang"), col("source")))
          .reduce(_ unionAll _)
        val (a, b) = graft.ext.HashCoeffs.coeffs(1, ExtensionQueries.SampleSeed).head
        val h = (lit(a) * col("doc_id") + lit(b)) % lit(graft.ext.HashCoeffs.P)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(h, col("doc_id"))
        time("c11_stratified_sample", k)(
          d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 20))
      }
      // t15: lexical diversity (type/token + hapax) — two partial-agg
      // shuffles, (doc_id, token) then doc_id; the same shape as t8's tf
      // stage, expected linear in token volume
      time("t15_type_token", k) {
        val tf = docsRep(docs, k)
          .select(col("doc_id"),
            explode(graft.ext.TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("f"))
        tf.groupBy("doc_id")
          .agg(sum("f").cast("long").as("n_tokens"),
            count(lit(1)).cast("long").as("n_types"),
            sum(when(col("f") === 1L, 1L).otherwise(0L)).cast("long")
              .as("n_hapax"))
      }
      // t26: exact Shannon entropy — the shared tokenEntropyOf core
      // (t15/t19's (doc_id, tok) shuffle shape + two 1024-row broadcast
      // joins against the pinned log table); expected t19's linear curve
      time("t26_token_entropy", k)(
        graft.ExtensionQueries.tokenEntropyOf(spark, docsRep(docs, k)))
      // v4: int8 quantization — a narrow per-row map (array_max scale +
      // posexplode); rows grow exactly ×k·dim, time should be scan-bound
      time("v4_quantize_int8", k) {
        embRep(Tables.table(spark, dir, "embeddings")
            .select("vec_id", "embedding"), k)
          .select(col("vec_id"),
            graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
          .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
          .select(col("vec_id"), col("maxabs"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("vec_id"), col("pos"),
            when(col("maxabs") === 0.0, lit(null).cast("long"))
              .otherwise(floor(col("x") * (lit(127.0) / col("maxabs")))
                .cast("long")).as("q"))
      }
      // t16: corpus-frequency commonness — bigram-count join + two
      // partial-agg shuffles. Replica-suffixed tokens keep bigram
      // vocabularies disjoint across replicas, so the count table grows
      // ×k while each doc still joins only its own replica's counts —
      // linear like real corpus growth
      time("t16_bigram_commonness", k) {
        val d = docsRep(docs, k)
        val bg = d
          .select(col("doc_id"),
            graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            explode(graft.ext.Dedup.shingles(col("toks"), 2)).as("bigram"))
        val cf = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
        bg.join(cf, "bigram")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            sum("cf").cast("long").as("cf_sum"))
      }
      // a14: CMS heavy hitters — the sketch build is a shuffle-free
      // tree-aggregate over ×k rows (same keys, the c12 growth model);
      // the probe times the registered shape (r10: build + per-partition
      // local top-m candidates + top-20 — no global key distinct)
      time("a14_heavy_hitters_sketch", k) {
        AnalyticsQueries.heavyHitters((0 until k)
          .map(_ => Tables.table(spark, dir, "lineitem").select("l_partkey"))
          .reduce(_ unionAll _)
          .select(AnalyticsQueries.skewedKey(col("l_partkey")).as("key")))
      }
      // a35: KMV distinct sketch — ×k rows AND ×k distinct users (replica
      // user_ids disjoint): the state stays k longs per group at any
      // cardinality, so time must track the scan; the O(k) insert
      // amortizes because a full buffer rejects the (D−k)/D tail of rows
      // with one comparison
      time("a35_kmv_distinct", k) {
        val sess = spark
        import sess.implicits._
        val kk = 64
        (0 until k).map(i =>
            Tables.events(spark, dir).select(col("event_type"),
              (col("user_id") + lit(i * 100000000L)).as("user_id")))
          .reduce(_ unionAll _)
          .select(col("event_type"),
            graft.functions.KmvSketch.hash60(col("user_id")).as("h"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .agg(new graft.functions.KmvAggregator(kk).toColumn.name("kmin"))
          .toDF("event_type", "kmin")
          .select(col("event_type"), size(col("kmin")).as("n_kept"),
            graft.functions.KmvSketch.estimate(col("kmin"), kk).as("est"))
      }
      // c13: snapshot diff — two narrow fingerprint scans + a full-outer
      // join on doc_id; replica ids are disjoint so the diff row count
      // (and the join) must grow exactly ×k
      time("c13_snapshot_diff", k) {
        val d = docsRep(docs, k)
        val old = d.select(col("doc_id"), md5(col("text")).as("fp"))
        val newSnap = d.filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 11 === 0,
                concat(col("text"), lit(" edited")))
              .otherwise(col("text"))).as("fp"))
          .unionAll(d.filter(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 500000000L).as("doc_id"),
              md5(col("text")).as("fp")))
        old.as("o").join(newSnap.as("n"),
            col("o.doc_id") === col("n.doc_id"), "full_outer")
          .select(coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
            when(col("o.doc_id").isNull, "added")
              .when(col("n.doc_id").isNull, "removed")
              .when(col("o.fp") =!= col("n.fp"), "changed").as("status"))
          .filter(col("status").isNotNull)
      }
      // j7: interval-overlap join via day-bucket explode. Replicas get
      // disjoint orderkeys AND per-replica-shifted dates — without the
      // date shift every replica's promo days would collide with every
      // other replica's restock days and the candidate space would grow
      // ×k² by fixture construction, not by the operator. Promo/restock
      // subsets filter on the PRE-offset key (the j6 lesson) so each
      // replica selects the same membership.
      time("j7_overlap_join", k) {
        val base = Tables.table(spark, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        def rep(df: DataFrame): DataFrame = (0 until k).map(i => df.select(
          (col("o_orderkey") + lit(i * 1000000000L)).as("o_orderkey"),
          date_add(col("d"), i * 40000).as("d"))).reduce(_ unionAll _)
        val promos = rep(base.filter(col("o_orderkey") % 97 === 0))
          .select(col("o_orderkey").as("promo_id"), col("d").as("p_start"),
            date_add(col("d"), 13).as("p_end"))
        val restocks = rep(base.filter(col("o_orderkey") % 89 === 0))
          .select(col("o_orderkey").as("restock_id"), col("d").as("r_start"),
            date_add(col("d"), 9).as("r_end"))
        val pDays = promos.select(col("promo_id"), col("p_start"),
          col("p_end"), explode(expr("sequence(p_start, p_end)")).as("day"))
        val rDays = restocks.select(col("restock_id"), col("r_start"),
          col("r_end"), explode(expr("sequence(r_start, r_end)")).as("rday"))
        pDays.join(rDays, col("day") === col("rday"))
          .filter(col("day") === greatest(col("p_start"), col("r_start")) &&
            col("promo_id") =!= col("restock_id"))
          .select(col("promo_id"), col("restock_id"), col("day"))
      }
      // st1: full streaming replay (stage + AvailableNow run + sink read)
      // over a ×k events table written to a throwaway sf-layout dir
      if (selected("st1_stream_tumbling")) locally {
        val tmp = java.nio.file.Files.createTempDirectory("graft_probe_ev_").toString
        eventsRep(spark, dir, k).write.mode("overwrite")
          .parquet(s"$tmp/events.parquet")
        time("st1_stream_tumbling", k)(Streams.tumblingByType(spark, tmp))
      }
      // b2/b3: funnel + retention. Replicas get DISJOINT users (the
      // realistic growth axis: more users, same per-user density), so
      // window partitions multiply while each stays fixture-sized —
      // time should track the one user-shuffle ~linearly. Thinning
      // hashes the POST-offset event_id: still ~1/16 per replica, and
      // membership per replica differing is irrelevant to the curve.
      def usersRep(k: Int): DataFrame = (0 until k).map(i =>
        Tables.events(spark, dir)
          .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
        .reduce(_ unionAll _)
        .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "0")
      time("b2_funnel", k) {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
        usersRep(k)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("s_us", min(when(col("event_type") === "signup",
            col("us"))).over(byUser))
          .withColumn("c_us", min(when(col("event_type") === "click" &&
            col("us") >= col("s_us"), col("us"))).over(byUser))
          .withColumn("p_us", min(when(col("event_type") === "purchase" &&
            col("us") >= col("c_us"), col("us"))).over(byUser))
          .groupBy("user_id")
          .agg(min("s_us").as("s_us"), min("c_us").as("c_us"),
            min("p_us").as("p_us"))
          .agg(count(col("s_us")).as("n1"), count(col("c_us")).as("n2"),
            count(col("p_us")).as("n3"))
      }
      time("b3_retention", k) {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
        usersRep(k)
          .select(col("user_id"), col("ts"))
          .withColumn("cohort_week",
            date_trunc("week", min(col("ts")).over(byUser)).cast("date"))
          .withColumn("week_offset",
            (datediff(date_trunc("week", col("ts")).cast("date"),
              col("cohort_week")) / lit(7)).cast("long"))
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct("user_id").as("n_active"))
      }
      // c15: fused quality gate — a zero-shuffle narrow pass, but max_tf
      // is O(tokens²) PER DOCUMENT; the probe pins that per-doc cost
      // staying bounded means the corpus curve stays scan-linear
      time("c15_filter_verdict", k) {
        val toks = graft.ext.TextAnalysis.tokens(col("text"))
        val nTok = size(toks).cast("long")
        val sumChars = aggregate(transform(toks, t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x)
        val nStop = graft.functions.TokenSetCount
          .token_set_count(toks, graft.ext.TextAnalysis.stopwords).cast("long")
        val maxTf = graft.ext.TextAnalysis.maxTokenFreq(toks)
        docsRep(docs, k).select(col("doc_id"), nTok.as("n_tokens"),
          (nTok.between(lit(20L), lit(90L)) &&
            (sumChars * lit(5L)).between(nTok * lit(22L), nTok * lit(26L)) &&
            nStop >= lit(2L) && maxTf * lit(8L) <= nTok).as("passes"))
      }
      // c19: threshold sweep — d2's pair pipeline at τ=0.3 (strictly more
      // pairs than the probed τ=0.5 row); replica-disjoint shingles must
      // keep the lower-τ pair space linear too, the sweep agg is ≤8 rows
      time("c19_threshold_sweep", k) {
        Dedup.ngramJaccardPairs(docsRep(near, k), n = 7, threshold = 0.3,
            dfMax = Some(1000))
          .select(floor(col("jaccard") * 10).cast("long").as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("n_pairs"))
      }
      // t27/c33: the Gopher rule battery + repetition signals over the
      // replicate-then-inject corpus (docsRep's suffixed 'line_i'/
      // 'batch_i' tokens still substring-match the injection, so every
      // replica carries its own lines/bullets/symbols). t27 is a
      // zero-shuffle scan family; c33's one (doc, line) partial-agg
      // exchange must track corpus size linearly
      time("t27_gopher_rules", k)(
        ExtensionQueries.gopherRulesOf(
          ExtensionQueries.gopherInject(docsRep(docs, k))))
      time("c33_repetition_signals", k)(
        ExtensionQueries.repetitionSignalsOf(
          ExtensionQueries.gopherInject(docsRep(docs, k))))
      // c18: boilerplate stripping — replica-suffixed tokens keep segment
      // vocabularies disjoint across replicas, so each replica carries its
      // OWN repeats: the df>=3 boilerplate set grows ×k (realistic fresh-
      // content growth) and the broadcast-set strip must stay corpus-
      // linear; the watch item is the per-segment array_contains scan of
      // the ×k-larger set
      time("c18_boilerplate_strip", k)(
        graft.ext.TextAnalysis.boilerplateStrip(docsRep(docs, k)))
      // c18b: the anti-join twin — same ×k boilerplate growth, but the
      // set is never broadcast; cost is the two text shuffles, which
      // must track corpus size linearly
      time("c18b_boilerplate_antijoin", k)(
        graft.ext.TextAnalysis.boilerplateStripAntiJoin(docsRep(docs, k)))
      // d8: semantic dedup — identical-replica growth piles exact copies
      // into the same cells, so holding nLists fixed would grow the
      // within-cell pair space ×k² BY FIXTURE. The documented scale rule
      // is nLists ∝ corpus (cells hold ~constant occupancy — the IVF
      // sizing rule); the probe grows the quantizer with the data and
      // the pair space stays ~linear overall
      time("d8_semantic_dedup", k)(
        graft.ext.SemanticDedup.dedup(embRep(dup, k), nLists = 16 * k,
          tau = 0.97))
      // w4: distribution-position windows. eventsRep keeps the 5 event
      // types and multiplies rows per type — deliberately the WORST
      // growth axis for this shape (each type is one sort partition),
      // so the curve shows the n·log n per-partition sort cost the
      // query's scale caveat documents, not a flattering fixture
      time("w4_ntile", k) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        eventsRep(spark, dir, k)
          .select(col("event_type"), col("event_id"), col("value"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .withColumn("pct_rank", percent_rank().over(w))
      }
      // w4b: the r10 histogram twin on the identical ×k fixture — the
      // growth axis that kills w4 (rows per type ×k, 5 fixed sort
      // partitions) is exactly what the two-pass shape absorbs: the
      // histogram agg is partial-aggregated (distinct (type, value)
      // pairs stay FIXED as rows grow ×k on this fixture, as at 100 TB
      // with a bounded value domain), and the tie-group ranking windows
      // are thousands of small partitions instead of 5 giant ones
      time("w4b_ntile_histogram", k) {
        val ev = eventsRep(spark, dir, k)
          .select(col("event_type"), col("event_id"), col("value"))
        val hist = ev.groupBy("event_type", "value")
          .agg(count(lit(1)).as("n_at"))
        val hw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("value")
          .rowsBetween(Long.MinValue, -1)
        val cum = hist
          .withColumn("cum_before", coalesce(sum("n_at").over(hw), lit(0L)))
          .withColumn("n", sum("n_at").over(org.apache.spark.sql
            .expressions.Window.partitionBy("event_type")).cast("long"))
          .select("event_type", "value", "cum_before", "n")
        val tieW = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "value").orderBy("event_id")
        ev.withColumn("tie_rn", row_number().over(tieW))
          .join(broadcast(cum), Seq("event_type", "value"))
          .withColumn("r", col("cum_before") + col("tie_rn"))
          .withColumn("base", expr("n div 4"))
          .withColumn("rem", col("n") % 4)
          .withColumn("quartile",
            when(col("r") <= col("rem") * (col("base") + 1),
              expr("(r - 1) div (base + 1) + 1"))
              .otherwise(expr("rem + (r - rem * (base + 1) - 1) div base + 1"))
              .cast("long"))
          .withColumn("pct_rank",
            when(col("n") === 1, lit(0.0))
              .otherwise((col("r") - 1).cast("double")
                / (col("n") - 1).cast("double")))
      }
      // w4c: the unbounded-domain composition, probed on a CONTINUOUS
      // value derived from the disjoint-per-replica event ids — distinct
      // values grow ×k here, exactly the axis where w4b's raw-value
      // histogram becomes data-sized; w4c's bucket histogram stays
      // |types|·8 at ANY k and the plan has no per-row window at all, so
      // the curve must be the cutoff agg + bucket-assign scans plus
      // broadcast joins — linear
      time("w4c_bucketed_positions", k) {
        AnalyticsQueries.bucketedPositions(
          eventsRep(spark, dir, k).select(col("event_type"), col("event_id"),
            (hash(col("event_id")).cast("double") / lit(1e9)).as("value")), 8)
      }
      // a37: MAD outlier census — two grouped percentile_disc passes
      // (sort-based agg per group) + the fixed-point rule; ×k rows over
      // the fixture's value domain must cost two linear-ish sorted
      // passes (n log n within groups), never a global sort
      time("a37_mad_outliers", k) {
        val dec = org.apache.spark.sql.types.DecimalType(12, 2)
        val ev = eventsRep(spark, dir, k).select(col("event_type"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
        val med = ev.groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast("long").as("med_cents"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("cents") - col("med_cents")))
        val mad = dev.groupBy("event_type")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
            .cast("long").as("mad_cents"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("adev") * 10000L > col("mad_cents") * 44478L, 1L)
              .otherwise(0L)).as("n_outliers"))
      }
      // w18: Mann-Kendall — the spine replicates with ×k DISJOINT
      // nation keys (suffixed names), so keys grow ×k while the pair
      // space per key stays calendar-bounded; total pairs grow exactly
      // linearly and the nation-equi self-join must track them, never
      // square
      time("w18_mann_kendall", k) {
        val spine = Tables.table(spark, dir, "orders")
          .join(Tables.table(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.table(spark, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            (month(col("o_orderdate")) +
              year(col("o_orderdate")) * 12).cast("long").as("ym"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("x_cents"))
        AnalyticsQueries.mannKendallOf(
          (0 until k).map { i =>
            if (i == 0) spine
            else spine.withColumn("nation",
              concat(col("nation"), lit("_" + i)))
          }.reduce(_ unionAll _))
      }
      // a44: runs test — w18's replication axis (×k disjoint nation
      // keys); the median collect stays calendar-bounded per key, the
      // lag window rides one nation exchange — linear in keys
      time("a44_runs_test", k) {
        val spine = Tables.table(spark, dir, "orders")
          .join(Tables.table(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.table(spark, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            (month(col("o_orderdate")) +
              year(col("o_orderdate")) * 12).cast("long").as("ym"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("x_cents"))
        val rep = (0 until k).map { i =>
          if (i == 0) spine
          else spine.withColumn("nation",
            concat(col("nation"), lit("_" + i)))
        }.reduce(_ unionAll _)
        val med = rep.groupBy("nation")
          .agg(count(lit(1)).as("n_m"),
            sort_array(collect_list("x_cents")).as("xs"))
          .select(col("nation"),
            expr("element_at(xs, cast((n_m + 1) div 2 as int))").as("med"))
        val byYm = org.apache.spark.sql.expressions.Window
          .partitionBy("nation").orderBy("ym")
        rep.join(broadcast(med), Seq("nation"))
          .filter(col("x_cents") =!= col("med"))
          .withColumn("sgn", when(col("x_cents") > col("med"), 1L)
            .otherwise(0L))
          .withColumn("prev", lag("sgn", 1).over(byYm))
          .groupBy("nation")
          .agg(sum("sgn").as("n1"), sum(lit(1L) - col("sgn")).as("n2"),
            (sum(when(col("prev").isNotNull && col("sgn") =!= col("prev"),
              1L).otherwise(0L)) + 1L).as("runs"))
      }
      // w19: seasonal decomposition — w18's replication axis (×k
      // disjoint nation keys); the RANGE-frame windows ride one nation
      // exchange whose per-key frame work is calendar-bounded, so the
      // curve is the spine rollup + a linear window pass
      time("w19_seasonal", k) {
        val spine = Tables.table(spark, dir, "orders")
          .join(Tables.table(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.table(spark, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("x_cents"))
        val rep = (0 until k).map { i =>
          if (i == 0) spine
          else spine.withColumn("nation",
            concat(col("nation"), lit("_" + i)))
        }.reduce(_ unionAll _)
          .withColumn("ym",
            substring(col("month"), 1, 4).cast("long") * 12 +
              substring(col("month"), 6, 2).cast("long"))
          .withColumn("moy", substring(col("month"), 6, 2).cast("long"))
        val w11 = org.apache.spark.sql.expressions.Window
          .partitionBy("nation").orderBy("ym").rangeBetween(-5, 5)
        val wm6 = org.apache.spark.sql.expressions.Window
          .partitionBy("nation").orderBy("ym").rangeBetween(-6, -6)
        val wp6 = org.apache.spark.sql.expressions.Window
          .partitionBy("nation").orderBy("ym").rangeBetween(6, 6)
        rep.withColumn("s11", sum("x_cents").over(w11))
          .withColumn("n11", count(lit(1)).over(w11))
          .withColumn("tm6", sum("x_cents").over(wm6))
          .withColumn("tp6", sum("x_cents").over(wp6))
          .filter(col("n11") === 11 &&
            col("tm6").isNotNull && col("tp6").isNotNull)
          .withColumn("detr24", col("x_cents") * 24L -
            (col("tm6") + col("s11") * 2L + col("tp6")))
          .groupBy("nation", "moy")
          .agg(count(lit(1)).as("n_obs"), sum("detr24").as("num24"))
      }
      // t24: vocab growth — docsRep's suffixed replicas grow the
      // vocabulary ×k (disjoint types per replica), so the first-doc
      // min partial agg — the only corpus-sized shuffle — must track
      // the ×k exploded tokens and ×k distinct types linearly; the
      // bucket grid stays 16 rows at any k
      time("t24_vocab_growth", k) {
        val base = docsRep(docs, k)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        val bounds = base.groupBy().agg(max("doc_id").as("max_id"))
          .select(expr("(max_id div 16) + 1").as("width"))
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
        db.join(tb, Seq("bucket"), "left")
      }
      // c29: water-fill — docs ×k with ×k DISJOINT suffixed sources;
      // the token-count partial agg is the only corpus-sized stage and
      // the level windows run on the ×k-row (still tiny) rollup
      time("c29_water_fill", k) {
        val base = DocFixtures.docs(spark, dir).select("source", "text")
        val rep = (0 until k).map { i =>
          if (i == 0) base
          else base.select(concat(col("source"), lit("_" + i)).as("source"),
            col("text"))
        }.reduce(_ unionAll _)
        val sizes = rep.select(col("source"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("tk"))
          .groupBy("source").agg(sum("tk").as("size_tokens"))
        val tot = sizes.groupBy().agg(count(lit(1)).as("n_src"),
          sum("size_tokens").as("total_tokens"))
          .select(col("n_src"), expr("total_tokens div 2").as("budget"))
        val wAsc = org.apache.spark.sql.expressions.Window
          .orderBy(col("size_tokens").asc, col("source").asc)
        sizes.crossJoin(broadcast(tot))
          .withColumn("k", row_number().over(wAsc).cast("long"))
          .withColumn("pk", sum("size_tokens").over(wAsc.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
          .withColumn("cap_ok",
            col("size_tokens") * (col("n_src") - col("k")) + col("pk") <=
              col("budget"))
      }
      // a41: Theil-Sen — the OTHER scale axis: corpus rows grow ×k but
      // the (category, month) spine is fixture-FIXED (ordersRep's offset
      // keys fold back into the same 23 categories), so the pair space
      // and the bounded collect_list medians are constant-sized and the
      // entire curve must be the one partial-agg rollup scan
      time("a41_theil_sen", k) {
        val monthly = ordersRep(spark, dir, k)
          .groupBy((col("o_custkey") % 23).cast("string").as("category"),
            (month(col("o_orderdate")) +
              year(col("o_orderdate")) * 12).cast("long").as("ym"))
          .agg(sum((col("o_totalprice") * 100).cast("long")).as("y_cents"))
        AnalyticsQueries.theilSenOf(monthly)
      }
      // a42/a43 grid: ×k pair rows over the FIXED 5×5 domain — the
      // grid, marginals and totals are domain-sized at any k, so the
      // entire curve must be the one partial-agg scan
      time("a42_contingency", k) {
        AnalyticsQueries.contingencyOf(
          ordersRep(spark, dir, k).select(
            (col("o_custkey") % 5).cast("string").as("segment"),
            col("o_orderpriority").as("priority")))
      }
      // a20: two-pass exact median — both passes are partial-agg scans
      // (histogram, then the median bin's exact values); ×k rows over
      // the same value domain keep every intermediate fixture-fixed, so
      // the curve must be the two linear scans
      time("a20_exact_median", k) {
        val ev = eventsRep(spark, dir, k).select(col("event_type"), col("value"))
        val bin = floor(col("value") / lit(25.0)).cast("long")
        val hist = ev.groupBy(col("event_type"), bin.as("bin"))
          .agg(count(lit(1)).as("n_bin"))
        val hw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("bin")
          .rowsBetween(Long.MinValue, -1)
        val mb = hist
          .withColumn("cum_before", coalesce(sum("n_bin").over(hw), lit(0L)))
          .withColumn("n", sum("n_bin").over(
            org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
          .withColumn("target", expr("(n + 1) div 2"))
          .filter(col("cum_before") < col("target") &&
            col("cum_before") + col("n_bin") >= col("target"))
          .select(col("event_type"), col("bin").as("mbin"),
            col("cum_before"), col("target"))
        val vw = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("value")
          .rowsBetween(Long.MinValue, 0)
        ev.withColumn("vbin", bin)
          .join(broadcast(mb), Seq("event_type"))
          .filter(col("vbin") === col("mbin"))
          .groupBy(col("event_type"), col("value"), col("cum_before"),
            col("target"))
          .agg(count(lit(1)).as("n_at"))
          .withColumn("run", col("cum_before") + sum("n_at").over(vw))
          .filter(col("run") >= col("target"))
          .groupBy("event_type")
          .agg(min("value").as("p50"))
      }
      // b6: trigram paths — one user exchange into a |types|³-bounded
      // agg. eventsRep keeps user ids (×k DEEPER per-user histories —
      // the harsher axis for the lag window: partitions grow ×k rather
      // than multiplying), so the curve shows the per-partition window
      // cost absorbing volume
      time("b6_event_trigrams", k) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        eventsRep(spark, dir, k)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("t1", lag("event_type", 2).over(w))
          .withColumn("t2", lag("event_type", 1).over(w))
          .filter(col("t1").isNotNull)
          .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
          .agg(count(lit(1)).cast("long").as("n"))
          .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
          .limit(20)
      }
      // b4: gap-fill spine. Disjoint users per replica (the b2/b3
      // growth axis): the user×day spine and the per-user running-sum
      // partitions both multiply ×k while the calendar stays fixed —
      // time should track the spine join ~linearly
      time("b4_gap_fill", k) {
        val evk = (0 until k).map(i =>
          Tables.events(spark, dir)
            .withColumn("event_id", col("event_id") + lit(i * 1000000000L))
            .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
          .reduce(_ unionAll _)
        val daily = evk.filter(col("event_type") === "purchase")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
          .groupBy("user_id", "day").agg(sum("cents").as("cents"))
        val days = evk.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(explode(expr("sequence(d0, d1)")).as("day"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        evk.select("user_id").distinct().crossJoin(broadcast(days))
          .join(daily, Seq("user_id", "day"), "left")
          .withColumn("bal_cents",
            sum(coalesce(col("cents"), lit(0L))).over(w))
      }
      // c17: dedup survivorship — the jaccard pair pipeline (d2's probed
      // cost) plus cluster labels, a quality join, and the per-cluster
      // argmax window. Replica-disjoint shingles keep clusters ×k with
      // fixture-sized members, so the survivor pass must stay linear
      time("c17_dedup_survivor", k) {
        val d = docsRep(near, k)
        val clusters = Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(d, n = 7, threshold = 0.5))
        val scored = graft.ext.TextAnalysis.qualityScores(d)
          .select(col("doc_id"), col("quality_score"))
        val byCluster = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster")
        val rankW = byCluster.orderBy(col("quality_score").desc, col("doc_id"))
        scored.join(clusters, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"),
            col("quality_score"))
          .withColumn("rn", row_number().over(rankW))
          .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
          .filter(col("rn") === 1)
      }
      // g2: triangle counting — lineitem replicas with disjoint order
      // AND part keys are k independent graphs, so edges, wedges
      // (Σ out-deg², the only super-linear term) and triangles all grow
      // ×k; time must track k, not k² — the degree-ordered orientation
      // is what makes that hold even on a skewed graph
      time("g2_triangle_count", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        GraphQueries.triangleCounts(
          GraphQueries.edgesOf(li).select("u", "v"))
      }
      // g2 wedge register (r16 verdict task 4, the s5-occupancy pattern):
      // |E| and Σ out-deg² must grow ×k with max out-degree FLAT —
      // replica graphs are disjoint, so any super-linear wedge growth is
      // an orientation bug the timing could hide behind constant factors
      if (selected("g2_triangle_count")) locally {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        val o = GraphQueries.wedgeStats(
          GraphQueries.edgesOf(li).select("u", "v")).collect().head
        println(s"""{"op":"g2_wedge_register","scale":$k,"edges":${o.getLong(0)},"wedges":${o.getLong(1)},"max_outdeg":${o.getLong(2)}}""")
      }
      // g9: item-item co-purchase recs — replica-disjoint lineitem AND
      // orders (disjoint ok/pk/cust): each replica is an independent
      // purchase universe, so the incidence join, the score rollup and
      // the per-customer windows all grow ×k — time must track k
      time("g9_co_purchase_recs", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        val ord = (0 until k).map(i =>
          Tables.table(spark, dir, "orders").select(
            (col("o_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("o_custkey") + lit(i * 100000000L)).as("cust")))
          .reduce(_ unionAll _)
        val bought = li.join(ord, "ok").select("cust", "pk").distinct()
        GraphQueries.coPurchaseRecsOf(bought, GraphQueries.edgesOf(li))
      }
      // g12: clustering coefficient — g2's replica-disjoint graph:
      // cost = g2's oriented closure + one degree join, same curve
      time("g12_clustering_coeff", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        GraphQueries.clusteringCoeffOf(
          GraphQueries.edgesOf(li).select("u", "v"))
      }
      // g13: label propagation — the same replica-disjoint graph; per
      // round one |E| join + two aggregates, 4 fixed rounds, so the
      // curve must track edges like g4's
      time("g13_label_propagation", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        GraphQueries.labelPropagationOf(GraphQueries.edgesOf(li))
      }
      // g4: integer PageRank — same k-independent-graphs replica device
      // as g2; per iteration one rank join + one in-neighbor sum on the
      // edge list, so time must track edges (×k), 3 fixed rounds
      time("g4_pagerank", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        GraphQueries.pagerank(GraphQueries.edgesOf(li))
      }
      // d11: edit-distance verification — rides d2's candidate curve
      // (replica-disjoint shingles keep candidates ~linear); the added
      // per-candidate levenshtein DP is a constant factor, so the curve
      // must stay d2-family linear
      time("d11_edit_verify", k) {
        val d = docsRep(near, k).select("doc_id", "text")
        val cands = Dedup.ngramJaccardPairs(d, n = 7, threshold = 0.0,
          dfMax = Some(1000))
        Dedup.attachPairTexts(cands, d)
          // registry shape: ONE DP per pair, edit_sim derived from the
          // lev column (see the d11 query comment)
          .select(col("id1"), col("id2"), col("jaccard"),
            levenshtein(col("t1"), col("t2")).cast("long").as("lev"),
            greatest(length(col("t1")), length(col("t2"))).cast("double")
              .as("maxlen"))
          .select(col("id1"), col("id2"), col("jaccard"),
            (lit(1.0) - col("lev").cast("double") / col("maxlen"))
              .as("edit_sim"))
          .filter(col("edit_sim") >= 0.8)
      }
      // w9: interval merge — events ×k keeps the fixture's 150 users, so
      // per-user window partitions grow ×k rows (the honest at-scale
      // question for any per-entity window: volume concentrates, user
      // count doesn't); the sort-based window must stay ~k log k ≈
      // linear at these magnitudes, same family as b1's sessionization
      time("w9_interval_merge", k)(
        ExtensionQueries.mergeIntervals(eventsRep(spark, dir, k)))
      // g5: connected components — k disjoint replica graphs leave the
      // component DIAMETER at the fixture's, so the propagation round
      // count must stay flat (the d6 early-warning signal) while each
      // round's join/agg grows ×k
      time("g5_connected_components", k) {
        val li = (0 until k).map(i =>
          Tables.table(spark, dir, "lineitem").select(
            (col("l_orderkey") + lit(i * 1000000000L)).as("ok"),
            (col("l_partkey") + lit(i * 100000000L)).as("pk")))
          .reduce(_ unionAll _)
        // round register (r16 verdict task 4): disjoint replicas leave
        // the component diameter at the fixture's, so rounds must stay
        // FLAT across the two decades — a rising count means label
        // chains are lengthening (time for the large-star/small-star
        // swap documented in Clusters)
        val (labs, rounds) = Clusters.componentsWithRounds(
          GraphQueries.edgesOf(li)
            .select(col("u").as("id1"), col("v").as("id2")))
        println(s"""{"op":"g5_round_register","scale":$k,"rounds":$rounds}""")
        labs
      }
      // c25: novelty — docsRep's replica-disjoint shingles mean the df
      // table grows ×k with df ≈ 1 everywhere; the op is d2's index
      // WITHOUT the pair join, so its curve must be at least as flat
      time("c25_novelty", k)(
        ExtensionQueries.noveltyOf(docsRep(docs, k)))
      // w11: rolling anomaly — ordersRep keeps the fixture's date span,
      // so the window input (the daily spine) is CONSTANT in k and all
      // growth lands in the partial-agg'able daily rollup
      time("w11_rolling_anomaly", k)(
        ExtensionQueries.rollingAnomalyOf(ordersRep(spark, dir, k)))
      // a27: gini — replicated orders AND customers (disjoint custkeys,
      // same 25 nations): the per-nation sort input grows ×k but stays
      // customer-grain; the fact rows never reach the window
      time("a27_gini", k) {
        val c = (0 until k).map(i =>
          Tables.table(spark, dir, "customer")
            .withColumn("c_custkey", col("c_custkey") + lit(i * 100000000L)))
          .reduce(_ unionAll _)
          .join(Tables.table(spark, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("nation"))
        AnalyticsQueries.giniOf(ordersRep(spark, dir, k), c)
      }
      // a28: Pareto classes — part-grain rev table ×k with disjoint ids:
      // the within-bucket cumsum windows grow ×k/16 each (equal-depth
      // cutoffs re-derived per scale), the bucket table stays ≤16 rows
      time("a28_pareto_abc", k) {
        val li = Tables.table(spark, dir, "lineitem")
        val rev = (0 until k).map(i => li.select(
          (col("l_partkey") + lit(i * 100000000L)).as("product_id"),
          (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
            .as("cents")))
          .reduce(_ unionAll _)
          .groupBy("product_id").agg(sum("cents").as("rev_cents"))
        AnalyticsQueries.paretoOf(rev)
      }
      // a30: weighted median — lineitem ×k under the SAME 7 categories:
      // the histogram stays |cats|·|bins|, the located-bin refine grows
      // with the bin population (≈ ×k), both passes partial-agg'able
      time("a30_weighted_median", k) {
        val li = Tables.table(spark, dir, "lineitem")
        val cs = (0 until k).map(i => li.select(
          concat(lit("cat"), pmod(col("l_partkey"), lit(7))).as("category"),
          col("l_extendedprice").cast(Tables.Money).as("unit_price"),
          col("l_quantity").cast("long").as("qty")))
          .reduce(_ unionAll _)
        AnalyticsQueries.weightedMedianOf(cs)
      }
      // b10: Kaplan–Meier — users ×k (disjoint ids, same per-user event
      // density): the per-user rollup grows ×k, the day spine and the
      // collected fold array stay the fixture's study window
      time("b10_kaplan_meier", k) {
        val ev = Tables.events(spark, dir)
        ExtensionQueries.kaplanMeierOf(
          (0 until k).map(i =>
            ev.withColumn("user_id", col("user_id") + lit(i * 1000000000L))
              .withColumn("event_id", col("event_id") + lit(i * 1000000000L)))
            .reduce(_ unionAll _))
      }
      // c26: negative sampling — positives ×k with disjoint customers:
      // candidate generation is 9 narrow rows per customer, the anti-join
      // and keep-3 windows grow ×k with ≤9-row groups throughout
      time("c26_negative_sample", k) {
        val li = Tables.table(spark, dir, "lineitem")
        val o = Tables.table(spark, dir, "orders")
        val pos = (0 until k).map(i =>
          li.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") + lit(i * 100000000L))
              .as("customer_id"),
              col("l_partkey").as("product_id")))
          .reduce(_ unionAll _).distinct()
        val np = Tables.table(spark, dir, "part")
          .agg((max("p_partkey") + lit(1L)).as("n_parts"))
        ExtensionQueries.negativeSampleOf(pos, np)
      }
      // c27: chi-square drift — docsRep's disjoint sources+vocab (the
      // c20 replica argument): the (source, tok) partial-agg shuffle
      // grows ×k, the rate arithmetic is scan-speed
      time("c27_chi2_drift", k)(
        ExtensionQueries.chi2Drift((0 until k).map { i =>
          val base = DocFixtures.docs(spark, dir).select("source", "text")
          if (i == 0) base
          else base.select(concat(col("source"), lit("_r" + i)).as("source"),
            regexp_replace(col("text"), "(\\S+)", "$1_" + i).as("text"))
        }.reduce(_ unionAll _)))
      // j11: fuzzy name join — parts ×k with the SAME name domain: the
      // name rollup absorbs all growth, candidates/verification stay
      // vocabulary-sized (the t21 distinct-collapse argument made a
      // curve: this leg should be FLAT, not merely linear)
      time("j11_fuzzy_name_match", k) {
        val p = Tables.table(spark, dir, "part")
        ExtensionQueries.fuzzyNameMatchOf(
          (0 until k).map(i =>
            p.withColumn("p_partkey", col("p_partkey") + lit(i * 100000000L)))
            .reduce(_ unionAll _))
      }
      // a31: Poisson bootstrap — rows ×k with replica-disjoint row keys:
      // the 64× explode + md5 draw is scan-speed, the only shuffle is the
      // fixed |cats|·64 partial agg — must track the corpus linearly.
      // The repartition spreads the tiny probe parquet (ONE input split
      // at ×1 — the first probe run measured the file layout, not the
      // operator: 49.6 s ×1 vs 56.2 s ×10, single-task md5) the way any
      // real corpus scan arrives pre-split; the registry query inherits
      // cleanSales' 32 cached partitions and needs no help (warm solo
      // 2.4 s at sf0.1).
      time("a31_poisson_bootstrap", k) {
        val li = Tables.table(spark, dir, "lineitem")
        AnalyticsQueries.poissonBootstrapOf((0 until k).map(i => li.select(
          concat(lit("cat"), pmod(col("l_partkey"), lit(7))).as("category"),
          (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
            .as("cents"),
          concat_ws(":", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), lit(i)).as("rk")))
          .reduce(_ unionAll _).repartition(32 * k))
      }
      // a48: bootstrap mean-diff — a31's replicate curve over events
      // (the ×B explode partial-aggs map-side; everything after the
      // |types|·B rollup is B-bounded), plus the same-rep diff joins
      time("a48_bootstrap_diff", k)(
        AnalyticsQueries.bootstrapDiffOf(eventsRep(spark, dir, k)
          .select(col("event_type"),
            (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
              * 100).cast("long").as("cents"),
            concat_ws(":", col("event_id"), col("user_id")).as("rk"))))
      // a32: Mann–Whitney — events ×k with the SAME value domain: the
      // value-grain table is bounded by the cents domain, so the rank
      // window leg is FLAT; growth lives in the scan + grain partial agg
      time("a32_mann_whitney", k)(
        AnalyticsQueries.mannWhitneyOf(eventsRep(spark, dir, k)
          .select(col("event_type"),
            (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
              * 100).cast("long").as("cents"))))
      // a47: Cliff's delta — the shared cliffsDeltaOf core (a32's
      // value-grain machinery + the margin/delta/effect projection);
      // same flat-window/linear-scan curve as a32
      time("a47_cliffs_delta", k)(
        AnalyticsQueries.cliffsDeltaOf(eventsRep(spark, dir, k)
          .select(col("event_type"),
            (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))
              * 100).cast("long").as("cents"))))
      // w13: rolling median — rows ×k with disjoint customers: partitions
      // grow ×k, every frame stays ≤7 — one exchange + partition sort,
      // w3's curve with an O(7 log 7) per-row constant
      time("w13_rolling_median", k) {
        val li = Tables.table(spark, dir, "lineitem")
        val cs = (0 until k).map(i => li.select(
          (pmod(col("l_orderkey"), lit(10000L)) + lit(i * 100000L))
            .as("customer_id"),
          col("l_orderkey").as("order_id"), col("l_linenumber").as("line_id"),
          (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
            .as("cents")))
          .reduce(_ unionAll _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("customer_id").orderBy("order_id", "line_id", "cents")
          .rowsBetween(-6, 0)
        cs.withColumn("frame", sort_array(collect_list(col("cents")).over(w)))
          .withColumn("nf", size(col("frame")))
          .select(col("customer_id"), col("order_id"),
            (expr("element_at(frame, cast((nf + 1) div 2 as int)) + " +
              "element_at(frame, cast(nf div 2 + 1 as int))")
              .cast("double") / 2.0).as("med_cents"))
      }
      // b13: RFM — orders ×k with disjoint customers: the customer-grain
      // rollup absorbs all fact growth, cutoffs stay ONE 1-row agg, and
      // scoring is a broadcast narrow map over ×k customers
      time("b13_rfm_segments", k) {
        val cg = ordersRep(spark, dir, k)
          .groupBy(col("o_custkey").as("customer_id"))
          .agg(datediff(lit("1998-12-31").cast("date"),
            max(col("o_orderdate"))).cast("long").as("r_days"),
            countDistinct("o_orderkey").as("f_orders"),
            sum((col("o_totalprice").cast(Tables.Money) * 100).cast("long"))
              .as("m_cents"))
        val qs = Seq("20", "40", "60", "80")
        val cutCols = for (d <- Seq("r_days", "f_orders", "m_cents");
            q <- qs)
          yield expr(s"percentile_disc(0.$q) WITHIN GROUP (ORDER BY $d)")
            .as(s"${d.head}$q")
        val cuts = cg.agg(cutCols.head, cutCols.tail: _*)
        val above = (d: String) => qs.map(q =>
          when(col(d) > col(s"${d.head}$q"), 1L).otherwise(0L))
          .reduce(_ + _)
        cg.crossJoin(broadcast(cuts))
          .select(col("customer_id"), (lit(5L) - above("r_days")).as("r"),
            (lit(1L) + above("f_orders")).as("f"),
            (lit(1L) + above("m_cents")).as("m"))
      }
      // v9: binary Hamming — embeddings ×k (identical copies, the embRep
      // convention): pack + popcount is the scan, the top-100 cut and
      // 100-row re-rank are corpus-size-independent
      time("v9_binary_hamming", k)(
        SimilarityQueries.binaryHammingOf(embRep(
          Tables.table(spark, dir, "embeddings"), k), queryId = 0L))
      // t22: trigram coverage — docsRep's disjoint replica vocabularies:
      // n-gram count shuffles grow ×k, the tier tables stay top-K
      // bounded (broadcast), position scoring is in-scan probes
      time("t22_trigram_coverage", k)(
        ExtensionQueries.trigramCoverageOf(docsRep(docs, k)))
      // m7: audio VAD — frames ×k, per-doc islands windows stay
      // clip-bounded; energy is scan-speed integer arithmetic
      time("m7_audio_vad", k)(
        ExtensionQueries.vadSegmentsOf(docsRep(docs, k)))
      // m8: scene cuts — m7's curve family: frames ×k, the lag/island
      // windows stay clip-bounded per doc, the byte-sum fold is
      // scan-speed integer arithmetic
      time("m8_scene_cut", k)(
        graft.ext.Multimodal.sceneCuts(docsRep(docs, k),
          frameLen = 32, stride = 16, maxFrames = 8, threshold = 100L))
      // t25: code detection — docsRep ×k through the SHIPPED plan (the
      // shared codeDetectOf core over the docsCodeOf fixture union,
      // exactly the registry construction — the r14 probe re-derived a
      // narrower projection, an ADVICE item): both features are
      // per-doc narrow expressions (regexp count + TokenSetCount
      // probe), zero shuffles — the t13 scan-map family; time must
      // track the scan
      time("t25_code_detect", k)(
        ExtensionQueries.codeDetectOf(
          graft.ext.DocFixtures.docsCodeOf(docsRep(docs, k))))
      // a45: Spearman — lineitem ×k under the SAME 7 categories and the
      // SAME value domains: both value-grain rank tables are
      // domain-bounded (FLAT in k), so growth is the scan + the two
      // rank-table joins + the moment partial agg — all corpus-linear
      time("a45_spearman", k) {
        val li = Tables.table(spark, dir, "lineitem")
        AnalyticsQueries.spearmanOf((0 until k).map(_ => li.select(
          concat(lit("cat"), pmod(col("l_partkey"), lit(7))).as("category"),
          col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
            .as("y")))
          .reduce(_ unionAll _))
      }
      // v10: int8 Gram — embeddings ×k (identical copies, the embRep
      // convention): the quantize+product explode is the scan, the
      // (i,j) partial agg collapses map-side to the FIXED 2080-cell
      // shuffle at any k — sums grow ×k, shuffle bytes don't
      time("v10_gram_int8", k)(
        SimilarityQueries.gramInt8Of(embRep(
          Tables.table(spark, dir, "embeddings"), k)))
      // v11: PCA power — embeddings ×k through v10's fixed-cell gram;
      // the collect is 2080 rows at ANY k and the driver iteration is
      // corpus-free, so the curve IS v10's scan curve
      time("v11_pca_power", k)(
        SimilarityQueries.pcaPowerOf(spark, embRep(
          Tables.table(spark, dir, "embeddings"), k)))
      // s8: IVFADC — embeddings ×k: both argmin maps (cell + codes) are
      // scan-speed broadcast-literal chains, the ADC runs only on the
      // probed cells' members (bucket occupancy grows ×k — the honest
      // axis; production adds cells via the IVF sizing rule instead),
      // shortlist and re-rank are corpus-size-independent
      time("s8_ivfpq_topk", k)(
        graft.ext.ProductQuantizer.ivfAdcTopK(
          embRep(Tables.table(spark, dir, "embeddings"), k),
          graft.ext.IvfCentroids.Default, graft.ext.PqCodebook.Default,
          queryId = 0L, k = 10, nProbe = 4, shortlist = 50))
      // c30: group split — docsNearRep ×k (replica-disjoint vocab, so
      // near-dup pairs stay within replicas and the CC edge list grows
      // ×k like real corpus growth): cost = d2's candidate index +
      // d6's diameter-bounded propagation + a scan-speed md5 split;
      // the r14 verdict's named ×100 target alongside d2/d3/d11
      time("c30_group_split", k) {
        val d = docsRep(near, k)
        val clusters = Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(d, n = 7, threshold = 0.5))
        val withKey = d.select(col("doc_id"))
          .join(clusters.withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("group_key"))
        val h = substring(md5(col("group_key").cast("string")), 1, 2)
        withKey.withColumn("split",
          when(h <= "28", "train")
            .otherwise(when(h <= "3c", "valid").otherwise("test")))
      }
      // d14: dup census — c30's cluster machinery (replica-disjoint
      // corpus: near-dup pairs stay within replicas) plus two bounded
      // census aggregates and the one-row total cross; curve = d2+d6's
      time("d14_dup_census", k) {
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = docsRep(near, k).select("doc_id")
        val cl = Clusters.connectedComponents(
          Dedup.ngramJaccardPairs(docsRep(near, k), n = 7, threshold = 0.5))
        val sizes = d.join(cl, d("doc_id") === cl("id"), "left")
          .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        sizes.groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"))
          .crossJoin(broadcast(d.agg(count(lit(1)).as("total"))))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"),
            expr("cast((1000000 * cast(cluster_size * n_clusters as " +
              "decimal(38,0))) div total as long)").as("share_e6"))
          .orderBy("cluster_size")
      }
      // a46: Kendall τ-b — lineitem ×k under the SAME domains (the a45
      // replica convention): the 2D ECDF spine is |Dx|·|Dy| (FLAT in
      // k — replicas add rows, not values), so growth is the
      // grain-build partial aggs — corpus-linear. Since r15b the
      // expensive subtree is Knight's mapPartitions pass behind a
      // deserialization barrier — un-prunable even under a bare
      // count() (the first probe leg of the old shape measured a
      // phantom 1.01 s because Catalyst ELIMINATED the then-left join
      // carrying C/D — the lesson that led to protocol v2, recorded
      // in BASELINE.md)
      time("a46_kendall_tau", k) {
        val li = Tables.table(spark, dir, "lineitem")
        AnalyticsQueries.kendallTauOf((0 until k).map(_ => li.select(
          concat(lit("cat"), pmod(col("l_partkey"), lit(7))).as("category"),
          col("l_quantity").cast("long").as("x"),
          (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
            .as("y")))
          .reduce(_ unionAll _))
      }
      // c31: systematic sample — docsRep ×k: the prefix sum is a
      // scan + a ≤16-row offset exchange + a bucket-partitioned
      // window; pick count stays k=100 at any corpus size
      time("c31_systematic_sample", k) {
        val kk = 100L
        // weight from length(text) — same scan-speed weight shape as
        // the registry's stored n_chars column (docsRep carries no
        // metadata columns)
        val d = docsRep(docs, k).select(col("doc_id"),
          least(length(col("text")).cast("long"), lit(400L)).as("w"))
        val width = d.agg((expr("max(doc_id) div 16") + 1L).as("width"))
        val bucketed = d.crossJoin(broadcast(width))
          .withColumn("bucket", expr("doc_id div width"))
        val wOff = org.apache.spark.sql.expressions.Window.orderBy("bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        val offTab = bucketed.groupBy("bucket").agg(sum("w").as("bw"))
          .withColumn("offset", coalesce(sum("bw").over(wOff), lit(0L)))
          .select("bucket", "offset")
        val totW = d.agg(sum("w").as("tw"))
        val inW = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        bucketed.join(broadcast(offTab), Seq("bucket"))
          .withColumn("cum", col("offset") + sum("w").over(inW))
          .crossJoin(broadcast(totW))
          .filter(expr(s"cast(cum as decimal(38,0)) * $kk div tw") >
            expr(s"cast(cum - w as decimal(38,0)) * $kk div tw"))
      }
      // x14: table checksum — orders ×k (disjoint keys): md5 + conv are
      // the scan; the register exchange is ≤|categories| rows forever
      time("x14_table_checksum", k) {
        val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
        val o = ordersRep(spark, dir, k)
        val rowStr = concat_ws("|",
          col("o_orderkey").cast("string"),
          col("o_custkey").cast("string"),
          (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
            .cast("string"),
          col("o_orderdate").cast("string"))
        o.select(col("o_orderpriority").as("category"),
            conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
              .as("h"))
          .groupBy("category")
          .agg(count(lit(1)).as("n_rows"), sum(col("h").cast(d38)).as("sh"))
          .select(col("category"), col("n_rows"),
            expr("cast(sh % 1000000000000000000 as long)").as("checksum"))
      }
      // m10: phash near-dup — CONTENT-decorrelated replicas ∪ noised
      // copies ×k. Two failed constructions taught the probe what the
      // operator actually keys on: docsRep's token-suffix replicas are
      // byte-ALIGNED (same length, differ only at suffix digits) and a
      // short same-length prefix ("1#" vs "2#") differs by ONE byte —
      // both are genuine byte-near-dup CLUSTERS of size k, which m10
      // correctly pairs (k² pairs per cluster: 508 → 112,976 / 239,656
      // at ×10 — the honest semantics; real phash dedup at scale caps
      // cluster size or emits cluster ids, d6-style). For a growth
      // curve the replicas must be byte-DISSIMILAR like real fresh
      // content — and a Caesar rotation is NOT that for a PARITY
      // signature (code+sh preserves parity mod 2 except at wraparound
      // — a third measured lesson): each replica gets a HASHED letter
      // permutation (md5-sorted alphabet — non-linear, so parity is
      // ~coin-flip per letter per replica) via translate. The
      // signature stays a zero-shuffle scan map; candidates come from
      // the 4×15-bit band join (band width is the 100 TB knob).
      locally {
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        def permFor(i: Int): String = alpha.sortBy(c => new String(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"$i:$c".getBytes("UTF-8")), "ISO-8859-1")).mkString
        val base = (0 until k).map { i =>
          if (i == 0) docs
          else docs.select(
            (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            translate(col("text"), alpha, permFor(i)).as("text"))
        }.reduce(_ unionAll _)
        val corpus = base.unionAll(base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            when(length(col("text")) >= 6,
              expr("concat(substring(text, 1, 4), 'x', " +
                "substring(text, 6, length(text)))"))
              .otherwise(col("text")).as("text")))
        val sigs = corpus.filter(length(col("text")) >= 1)
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
        time("m10_phash_dup", k) {
          val l = bands.select(col("doc_id").as("id1"),
            col("sig").as("sig1"), col("band"), col("bv"))
          val r = bands.select(col("doc_id").as("id2"),
            col("sig").as("sig2"), col("band"), col("bv"))
          l.join(r, Seq("band", "bv")).filter(col("id1") < col("id2"))
            .select("id1", "id2", "sig1", "sig2").distinct()
            .select(col("id1"), col("id2"),
              expr("cast(bit_count(sig1 ^ sig2) as bigint)").as("hamming"))
            .filter(col("hamming") <= 3L)
        }
        // m10 band-occupancy register (r17 verdict task 8): the 4×15-bit
        // band join's pair space is Σ n² over these groups — the knob
        // the registry comment prices ("band width is the 100 TB knob").
        // Hash-permuted replicas must spread across the 32k-value band
        // space (avg ~flat), with max tracking the injected dup clusters
        if (selected("m10_phash_dup")) locally {
          val o = bands.groupBy("band", "bv").agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("buckets"), max("n").as("mx"),
              avg("n").as("av"))
            .collect().head
          println(f"""{"op":"m10_band_occupancy","scale":$k,"buckets":${o.getLong(0)},"max":${o.getLong(1)},"avg":${o.getDouble(2)}%.1f}""")
        }
      }
    }
    spark.stop()
  }
}
