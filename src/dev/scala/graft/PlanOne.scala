package graft

/** Dev tool (not part of the driver contract): dump `explain("formatted")`
  * for registry queries to `<outDir>/<query>_<suffix>.txt` — the raw
  * material for PLANS.md's annotated excerpts and the
  * `plans/<round>/<query>_{before,after}.txt` evidence files. Run:
  * `sbt "Test/runMain graft.PlanOne <outDir> <suffix> [query…]"`,
  * e.g. `sbt "Test/runMain graft.PlanOne plans/r18 before d11b_edit_verify_banded"`.
  * With no query names it dumps the [[showcased]] scale-path queries.
  * Uses the Bench session shape (local[cpus], shuffle.partitions=cpus) so
  * the dumped plan is the one the bench actually executes. sfDir via
  * SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is scale-invariant;
  * the fixtures only size AQE estimates).
  */
object PlanOne {

  val showcased: Seq[String] = Seq(
    "q1_sales_summary",   // pushdown + pruning + broadcast + fused distinct
    "j5_bloom_semijoin",  // bloom sketch folded into the scan filter
    "s5_knn_bucketed",    // equi-joins only ANN — nothing quadratic
    "d2_ngram_jaccard",   // inverted shingle index + df cap
    "t11_repetition",     // two (doc_id, gram) shuffles, codegen'd narrow
    "c4_domain_mix",      // zero-shuffle hash-gated sampling
    "c1_corpus_pipeline", // checkpoint barrier stops score-expr pushdown dup
    "t13_pii_redact",     // codegen'd regex scrub — zero shuffles
    "c7_chunk_windows",   // context-window chunking — one generate, no shuffle
    "o2_topk",            // TakeOrderedAndProject, no global sort
    "a14_heavy_hitters_sketch", // CMS probe at scan speed + TakeOrdered
    "t16_bigram_commonness",    // corpus-frequency join, partial-agg shuffles
    "b2_funnel",                // 3 chained windows + groupBy on ONE exchange
    "c15_filter_verdict",       // fused rule gate — zero-shuffle narrow pass
    "a16_zscore_outliers",      // exact integer 3σ filter, broadcast stats
    "b4_gap_fill",              // user×day spine + running-sum forward fill
    "c17_dedup_survivor",       // cluster argmax on one cluster exchange
    "w4b_ntile_histogram",      // two-pass histogram positions, no giant sort
    "w4c_bucketed_positions",   // unbounded domain: NO per-row window at all
    "a20_exact_median",         // bounded-state exact order statistic
    "d9_containment",           // d2's pair join, asymmetric projection
    "d10_span_dedup",           // keep-first span dedup, hash-only shuffles
    "x8_scd2_history",          // 3 window fns, ONE dimension-key exchange
    "x9_cdc_apply",             // delta-bounded window + one full-outer join
    "a21_mad_outliers",         // exact order-stat gate, broadcast stats
    "c20_domain_shift",         // (source,tok)-bounded shuffles, scalar TV
    "a22_sliding_distinct",     // KMV contribute-forward sketch merge (r17)
    "b1b_session_window_native", // native session merge, map-side partials
    "t16b_bigram_hotsplit",     // hot slice broadcast + cold SMJ union
    "a22b_sliding_distinct_exact", // contribute-forward explode, no window
    "j10_scd2_pit_join",        // PIT interval join on custkey equi-exchanges
    "a25_group_ols",            // moment-form OLS, two partial aggs
    "a31_poisson_bootstrap",    // 64 in-scan draws, ONE |cats|·B partial agg
    "v9_binary_hamming_rerank", // pack in scan, TakeOrdered-100, 100-row rerank
    "a32_mann_whitney",         // value-grain ranks, domain-bounded window
    "j13_asof_nearest",         // both asof directions on ONE exchange
    "w18_mann_kendall",         // calendar-bounded pair join off one rollup
    "c29_water_fill",           // corpus-sized token agg, |sources|-row level windows
    "t24_vocab_growth",         // vocab-sized min() partial agg, 16-row cumsum
    "m8_scene_cut",             // one doc exchange: lag + islands + rollup
    "s8_ivfpq_topk",            // cell+codes in ONE scan, probe-cell semi, 50-row rerank
    "v10_gram_int8",            // fixed 2080-cell shuffle — matrix agg as partial agg
    "a45_spearman",             // two domain-bounded rank joins + ONE moment agg
    "b15_markov_stationary",    // r15: ONE lag-window job feeding a driver-side fixed point
    "g11_category_modularity",  // labeled cached edges, union aggs, 1-row scalar
    "c31_systematic_sample",    // bucketed prefix sum — no global single-partition window
    "x14_table_checksum",       // md5 map-side, ≤|categories|-row register exchange
    "m10_phash_dup",            // zero-shuffle signature, band equi-join candidates
    "a46_kendall_tau",          // r15b: bucketed Knight — mapPartitions barrier + grid
    "a47_cliffs_delta",         // a32's spine + margin/effect projection only
    "v11_pca_power",            // v10's gram job feeding a driver-side iteration
    "g13_label_propagation",    // 4 fused LPA rounds on pinned adjacency
    "d14_dup_census",           // d6's clusters + two bounded census aggs
    "c34_dsir_reweight",        // r18: one corpus exchange, O(B) stat broadcasts
    "s9_hybrid_rrf")            // two ≤20-row windows + full-outer fusion

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanOne <outDir> <suffix> [query…]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else showcased
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = Bench.resolvedCpus
    val spark = LocalSession(cpus.toInt)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // GRAFT_PLAN_EXECUTE=1: run the plan first and dump the AQE FINAL
      // executed plan instead of the static one — the static dump shows
      // ENSURE_REQUIREMENTS exchanges over cached relations that AQE
      // elides at runtime once the cache's partitioning is known (the
      // r19 g7 audit), so runtime claims need this mode.
      val executed = sys.env.contains("GRAFT_PLAN_EXECUTE")
      if (executed) df.queryExecution.toRdd.count()
      val txt = (if (executed)
          "== Executed (AQE final) ==\n" +
            df.queryExecution.executedPlan.toString
        else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)) +
        (if (sys.env.contains("GRAFT_PLAN_LOGICAL"))
           "\n== Optimized Logical ==\n" +
             df.queryExecution.optimizedPlan.treeString
         else "")
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
