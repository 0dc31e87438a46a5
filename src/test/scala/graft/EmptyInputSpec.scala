package graft

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.scalatest.BeforeAndAfterAll

/** Queries over schema-identical EMPTY or ONE-ROW tables return their
  * real-data schema: a zero denominator gives a NULL ratio (try_divide),
  * never an ANSI DIVIDE_BY_ZERO, and an operator that reads driver-side
  * stats (a46's per-category bounds, j5's bloom sketch) copes with none.
  */
class EmptyInputSpec extends SparkSpec with BeforeAndAfterAll {

  /** `limit(rows)` of every table of `sf`, in a fresh temp dir. */
  private def truncated(rows: Int) = {
    val d = Files.createTempDirectory(s"graft_${rows}_rows_")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).limit(rows)
        .write.parquet(s"$d/${f.getName}"))
    d.toString
  }

  private lazy val emptyDir = truncated(0)
  private lazy val oneRowDir = truncated(1)

  override def afterAll(): Unit =
    try Seq(emptyDir, oneRowDir).foreach(d => JavaUtils.deleteRecursively(new java.io.File(d)))
    finally super.afterAll()

  private def onTables(q: String, dir: String) = {
    val df = SparkEntry.queries(q)(spark, dir)
    assert(df.schema == SparkEntry.queries(q)(spark, sf).schema, q)
    df.collect().toSeq
  }

  private def onEmpty(q: String) = onTables(q, emptyDir)

  for (q <- Seq("b2_funnel", "b2b_funnel_window")) test(s"$q on empty tables: zero users, NULL shares") {
    val rows = onEmpty(q)
    assert(rows.map(_.getAs[Long]("stage_idx")) == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[Long]("n_users") == 0L))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("pct_of_first"))))
  }

  test("c24_dq_audit on empty tables: every rule over zero rows, NULL rates") {
    val rows = onEmpty("c24_dq_audit")
    assert(rows.size == 7)
    assert(rows.forall(_.getAs[Long]("n_rows") == 0L))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("violation_rate"))))
  }

  test("a46_kendall_tau on empty tables: no categories, no rows") {
    assert(onEmpty("a46_kendall_tau").isEmpty)
  }

  test("j5_bloom_semijoin on empty tables: a sketch over zero keys keeps no rows") {
    assert(onEmpty("j5_bloom_semijoin").isEmpty)
  }

  /** Every query that reads one of the shared query and operator cores
    * (Common's KMV, bootstrap and moment helpers, the family helpers,
    * Stats.valueGrain, the AsOfJoin, ProductQuantizer, SemanticDedup,
    * Similarity, TextAnalysis, Corpus and Streams cores): each must plan and run
    * over no rows with its real-data schema.
    */
  private val sharedCoreQueries = Seq(
    "a15_group_stats", "a15b_group_stats_decimal", "a19_incremental_distinct",
    "a22_sliding_distinct", "a25_group_ols", "a26_group_corr",
    "a31_poisson_bootstrap", "a32_mann_whitney", "a33_welch_ttest", "a34_anova_f",
    "a36_kmv_retention_overlap", "a39_ks_test", "a47_cliffs_delta",
    "a48_bootstrap_diff", "b1_sessionize", "b9_top_paths", "c6_decontaminate",
    "c6b_contamination_rate", "c10b_quality_bins_cutoffs", "c11_stratified_sample",
    "c11b_stratified_sample_topk", "c18_boilerplate_strip",
    "c18b_boilerplate_strip_antijoin", "c20_domain_shift",
    "c22_quality_dup_calibration", "c27_chi2_drift", "d8_semantic_dedup", "d11_edit_verify",
    "d11b_edit_verify_banded", "g5_connected_components", "j4_asof_join",
    "j13_asof_nearest", "s3_knn_join", "s5_knn_bucketed", "s6_pq_adc_topk",
    "s8_ivfpq_topk", "st6_stream_join", "st11_stream_outer_join",
    "t16_bigram_commonness", "t16b_bigram_hotsplit", "v3_l2_normalize",
    "v5_pq_codes", "v8_matryoshka_truncate", "w8_ewma", "w12_holt")

  /** The round-loop queries (connected components, PageRank, label
    * propagation, the k-core peel): a loop over no edges ends with an empty frame of the
    * real-data schema, nullability included.
    */
  private val roundLoopQueries = Seq(
    "d6_dedup_clusters", "d14_dup_census", "c3_fuzzy_corpus", "c17_dedup_survivor",
    "c30_group_split", "g2_triangle_count", "g4_pagerank", "g10_kcore",
    "g12_clustering_coeff", "g13_label_propagation")

  /** Stream replays whose every batch is empty: the sink holds no data
    * files, and the fallback frame has the read-back's nullability.
    */
  private val emptyStreamQueries = Seq("st1_stream_tumbling", "st12_stream_new_users")

  for (q <- emptyStreamQueries) test(s"$q on empty tables: its real-data schema") {
    assert(onEmpty(q).isEmpty)
  }

  /** One row in every table: a statistic over one value, or a test
    * with no base rows, divides by zero; those statistics are NULL.
    */
  private val oneRowStats = Seq(
    "a15_group_stats" -> Seq("var_samp", "stddev"),
    "a15b_group_stats_decimal" -> Seq("var_samp", "stddev"),
    "a32_mann_whitney" -> Seq("z"),
    "a39_ks_test" -> Seq("d_e6", "ks"))

  for ((q, stats) <- oneRowStats) test(s"$q on one-row tables: NULL ${stats.mkString(", ")}") {
    val rows = onTables(q, oneRowDir)
    assert(rows.nonEmpty, s"$q: the one-row tables reach no statistic")
    for (r <- rows; c <- stats) assert(r.isNullAt(r.fieldIndex(c)), s"$q: $c on $r")
  }

  for (q <- roundLoopQueries) test(s"$q on empty tables: its real-data schema") {
    onEmpty(q)
  }

  for (q <- sharedCoreQueries) test(s"$q on empty tables: its real-data schema") {
    onEmpty(q)
  }
}
