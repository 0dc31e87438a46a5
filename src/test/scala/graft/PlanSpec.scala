package graft

/** Whole-registry hygiene: every query must at least reach an optimized
  * plan (catches analysis breakage across all 60+ entries in seconds,
  * without executing them), and the registry must refuse a repeated name.
  */
class PlanSpec extends SparkSpec {

  test("registry builder throws on a repeated query name") {
    val q = Query("z1_once", (s, _) => s.range(1).toDF(), None)
    val err = intercept[IllegalArgumentException](
      Query.byName(Seq(q, q.copy(oracle = Some("SELECT 1")))))
    assert(err.getMessage.contains("z1_once"))
    assert(Query.byName(Seq(q, q.copy(name = "z2_twice"))).keySet == Set("z1_once", "z2_twice"))
  }

  /** Every non-streaming query, CONSTRUCTED ONCE for the whole suite.
    * Construction (which eagerly fires the checkpointing queries' jobs),
    * analysis, and optimization dominate this suite's wall clock, and the
    * registry-walking tests below only READ plans — QueryExecution caches
    * each phase lazily, so one shared build serves the optimize sweep,
    * the physical-join sweep, and the zero-shuffle pin instead of three
    * full rebuilds (streaming queries stay excluded: building them IS
    * running them; their own oracle checks cover them).
    */
  private lazy val built: Map[String, scala.util.Try[org.apache.spark.sql.DataFrame]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val skip = SparkEntry.queries.keySet.filter(_.startsWith("st"))
    // Force the session/dir lazy vals to locals BEFORE spawning: lazy vals
    // on this instance share one monitor, and the futures touching `spark`
    // while this initializer holds it for `built` is a self-deadlock.
    val (s, dir) = (spark, sf)
    // parallel build, same argument as SortKeySpec's sweep: independent
    // driver-side construction; graft.Shared's concurrent registry
    // tolerates the race (worst case a duplicate cache registration)
    Await.result(Future.traverse((SparkEntry.queries -- skip).toSeq) {
      case (name, fn) => Future(name -> scala.util.Try(fn(s, dir)))
    }, Duration.Inf).toMap
  }

  /** No registry query may EMIT a DecimalType column. Decimals are fine
    * internally (exact-cents arithmetic everywhere), but the driver's
    * correctness hasher normalizes a Spark Decimal and a DuckDB DECIMAL
    * into different typed families — r12's only red row (a30) was the
    * registry's only decimal-output column, bit-identical in value on
    * both engines. SURVEY §7.7's convention: double end to end, decimal
    * only at the JDBC sink. (Streaming queries are excluded here as in
    * `built`; their outputs are long/double by construction and the
    * convention is enforced at review via this comment.)
    */
  test("no query emits a DecimalType output column") {
    val offenders = built.toSeq.sortBy(_._1).flatMap { case (name, t) =>
      t.toOption.toSeq.flatMap { df =>
        df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    }
    assert(offenders.isEmpty,
      s"decimal output columns (cast to double per SURVEY §7.7): " +
        offenders.mkString(", "))
  }

  test("every non-streaming query analyzes and optimizes") {
    val failures = built.toSeq.sortBy(_._1).flatMap { case (name, t) =>
      t.flatMap(df => scala.util.Try(df.queryExecution.optimizedPlan)) match {
        case scala.util.Success(_) => None
        case scala.util.Failure(e) => Some(s"$name: ${e.getMessage.take(100)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Queries ALLOWED a nested-loop/cartesian physical join, each with the
    * reason it is not a scale hazard. Everything else in the registry must
    * plan equi-joins only — the repo-wide anti-quadratic invariant.
    */
  private val nestedLoopWhitelist: Map[String, String] = Map(
    "s1_cosine_topk" -> "broadcast of ONE query vector (scalar cross join)",
    "s2_ann_lsh_topk" -> "broadcast of ONE query row against its bucket",
    "s3_knn_join" -> "deliberate exactness anchor; row-cap guard trips past 10k rows, knnJoin auto-routes to the bucketed path",
    "s4_ann_ivf" -> "broadcast of ONE query vector against nLists centroids",
    "t8_tfidf_topterms" -> "broadcast of the ONE-row corpus doc count (idf scalar)",
    "c12_skew_profile" -> "broadcast of the ONE-row total count against 20 survivors (share denominator)",
    "c16_mixing_weights" -> "broadcast of the ONE-row totals against |langs| rows (share/weight denominators)",
    "s6_pq_adc_topk" -> "broadcast of the ONE query row (ADC lookup-table scalar cross join)",
    "c18_boilerplate_strip" -> "broadcast of the ONE-row boilerplate segment set (scalar cross join keeps the strip a narrow map)",
    "t18_bigram_fluency" -> "broadcast of the ONE-row vocabulary size (smoothing denominator scalar)",
    "m6_media_knn" -> "broadcast of the ONE query media's feature vector (s1's scalar cross join)",
    "b4_gap_fill" -> "broadcast of the calendar spine (rows = days in range — bounded by the calendar, not the data)",
    "c20_domain_shift" -> "broadcast of the ONE-row corpus token total (TV denominator scalar)",
    "c22_quality_dup_calibration" -> "broadcast of the ONE-row quartile cutoff table (c10b's device over a single stratum)",
    "x9_cdc_apply" -> "broadcast of the ONE-row snapshot max-key (scale-safe insert-key offset scalar)",
    "c24_dq_audit" -> "cross of three ONE-row audit aggregates (scan rules × dup rule × referential rule) before stack()",
    "g8_association_rules" -> "broadcast of the ONE-row order count (lift's N denominator scalar — the x9/t16b device)",
    "a28_pareto_abc" -> "broadcast of the ONE-row exact percentile cutoff table (w4c's device for the global prefix sum)",
    "b10_kaplan_meier" -> "broadcast of the ONE-row study-end timestamp (right-censoring boundary scalar)",
    "c26_negative_sample" -> "broadcast of the ONE-row part-count (candidate-draw modulus scalar)",
    "c27_chi2_drift" -> "broadcast of the ONE-row corpus token total and rate mass (c20's denominator scalars)",
    "s7_mmr_rerank" -> "s1's ONE-query-vector scalar cross + ≤5-row selected-set crosses (pool-bounded greedy stages)",
    "a32_mann_whitney" -> "cross of ≤|types| rows against the cents-domain-bounded value grain (rank spine construction — both sides bounded by domains, not data volume)",
    "a33_welch_ttest" -> "broadcast of the ONE-row baseline moment tuple (Welch denominator scalars)",
    "b13_rfm_segments" -> "broadcast of the ONE-row quintile cutoff table (a28/c10b's device across 3 dimensions)",
    "v9_binary_hamming_rerank" -> "broadcast of the ONE packed query row (s1's scalar cross join at 1-bit precision)",
    "t23_bm25_search" -> "broadcast of the ONE-row corpus stats (N, total tokens — the BM25 length-normalization scalars)",
    "b14_decay_attribution" -> "broadcast of the ONE-row total credit (share denominator scalar — the c12/c16 device)",
    "a39_ks_test" -> "a32's whitelisted shape: cross of ≤|types| rows against the cents-domain-bounded value grain (the shared ECDF spine — both sides bounded by domains, not data volume)",
    "a40_benford" -> "broadcast of the ONE-row total count (digit-share denominator scalar — the c12/g8 device)",
    "a42_contingency" -> "cross of the ≤5-row segment marginals with the ≤5-row priority marginals (the full r×c grid — DOMAIN-bounded) plus the ONE-row totals scalar",
    "a43_cramers_v" -> "a42's domain-bounded marginal grid + ONE-row totals scalar (shared contingencyCells)",
    "c29_water_fill" -> "two ONE-row scalar crosses (totals/budget, then level k*/P*) onto the ≤|sources|-row rollup",
    "t24_vocab_growth" -> "broadcast of the ONE-row max-doc-id bucket-width scalar onto the doc and type rollups",
    "s8_ivfpq_topk" -> "s4's ONE-query-vector × nLists-centroid probe cut + s6's ONE-query-row ADC scalar cross (the composed IVFADC serving path — every cross side is one row or the bounded centroid table)",
    "v10_gram_int8" -> "broadcast of the ONE-row global max-abs quantization scale (per-tensor symmetric int8 — the c12/g8 scalar device)",
    "g11_category_modularity" -> "broadcast of the ONE-row total edge weight (the modularity null-model denominator — g8's N-scalar device)",
    "c31_systematic_sample" -> "two ONE-row scalar crosses (the t24 max-id bucket-width scalar and the weight total W — stride denominator)",
    "a47_cliffs_delta" -> "a32's whitelisted shape verbatim (the shared mannWhitneyOf value-grain spine; a47 adds only a projection)",
    "v11_pca_power" -> "v10's ONE-row max-abs quantization scalar (the gram subtree is the query's only distributed work)",
    "d14_dup_census" -> "broadcast of the ONE-row corpus doc count (census share denominator — the c12/g8 scalar device)",
    "a48_bootstrap_diff" -> "broadcast of the ONE-row base full-data mean (point-estimate diff scalar — the a33 baseline-tuple device)",
    "s9_hybrid_rrf" -> "composes the two whitelisted legs verbatim: t23's ONE-row corpus-stats crosses + s1's ONE-query-vector scalar cross; the fusion itself is a 40-row full-outer join",
    "c34_dsir_reweight" -> "broadcast of the ONE-row corpus totals (the T_r/T_t smoothing denominators) onto the B=64-row bucket-stat rollup — the c16/c20 scalar device; the per-doc side joins the same 64-row table by equi-key")
  // b15_markov_stationary left the whitelist in r15: the share
  // denominator is computed driver-side with the power iteration, so
  // its plan no longer contains any cross join at all.
  // c28_quantile_normalize left the whitelist in r16: the grain×grain
  // inequality join became the j4 tagged-union as-of (one sort over
  // the bounded union), and the n_pool scalar now rides the same
  // global window as the pooled CDF — no cross join remains.

  test("bench output line is parseable JSON with totals surviving tail retention") {
    val sess = spark
    import sess.implicits._
    val line = Bench.renderJson(
      Seq("q1_agg" -> 1.23456, "q2_rank" -> 0.5, "st1_stream" -> 2.0),
      "/data/sf0.1")
    // parse with Spark's JSON reader — what survives here survives the
    // driver's json.loads
    val parsed = spark.read.json(Seq(line).toDS)
    assert(parsed.columns.toSet ==
      Set("metric", "value", "unit", "n_queries", "n_shown", "q_cut",
        "contended", "sf", "queries"))
    assert(parsed.head().getAs[Long]("contended") == 0)
    val row = parsed.head()
    assert(row.getAs[String]("metric") == "total")
    // totals and n_queries cover EVERY query; the per-query map lists
    // only the ≥ q_cut slow set (0.5 s q2 is cut, the others shown)
    assert(math.abs(row.getAs[Double]("value") - 3.735) < 1e-9)
    assert(row.getAs[Long]("n_queries") == 3)
    assert(row.getAs[Long]("n_shown") == 2)
    assert(line.contains("\"q1\":") && line.contains("\"st1\":")
      && !line.contains("\"q2\":"))
    // the driver stores the TAIL of the line — totals go LAST so even a
    // re-truncation keeps the headline
    assert(line.indexOf("\"queries\"") < line.indexOf("\"n_queries\""))
    assert(line.indexOf("\"n_queries\"") < line.indexOf("\"value\""))
  }

  test("bench contended policy: suspectMedian separates cold-rep spread from window inflation") {
    // rep-1 cold cache rebuild alone must NOT trip — the median sits on
    // the warm side (the builder's clean a31 run)
    assert(!Bench.suspectMedian(Seq(7.2, 2.6, 2.4)))
    // the r15 driver's contended a31 window DOES trip (≥2 of 3 reps
    // degraded under climbing external load)
    assert(Bench.suspectMedian(Seq(27.75, 57.90, 155.52)))
    // sub-second jitter never trips (absolute 1 s floor)
    assert(!Bench.suspectMedian(Seq(0.2, 0.9, 0.8)))
    // the detail artifact carries the per-query flag and the run count
    val d = Bench.renderDetailJson(Seq("a" -> Seq(1.0, 2.0, 3.0)), "/x",
      contended = Set("a"))
    assert(d.contains("\"contended\":true") && d.contains("\"n_contended\":1"))
    val clean = Bench.renderDetailJson(Seq("a" -> Seq(1.0, 2.0, 3.0)), "/x")
    assert(!clean.contains("\"contended\"") &&
      clean.contains("\"n_contended\":0"))
  }

  test("bench contended policy: suspectLoad closes the uniform-inflation blind spot") {
    // the r18 shipped artifact: c26 reps [6.7, 6.5, 6.9] — uniformly
    // inflated, median ≈ min, suspectMedian blind. With every rep's
    // loadavg above the calm threshold, suspectLoad fires instead.
    val threshold = 10.0 // idle 2 + 32/4
    assert(!Bench.suspectMedian(Seq(6.7, 6.5, 6.9)))
    assert(Bench.suspectLoad(Seq(24.1, 22.8, 19.5), threshold))
    // a calm run (self-load ~2–3) never fires — totals stay comparable
    // with the r18 protocol
    assert(!Bench.suspectLoad(Seq(2.1, 2.6, 3.0), threshold))
    // ONE calm rep is enough to clear the query: the min rep is an
    // uncontaminated measurement and the median policy already covers
    // scattered inflation
    assert(!Bench.suspectLoad(Seq(24.1, 2.2, 19.5), threshold))
    // unreadable loadavg stamps (-1) never fire it
    assert(!Bench.suspectLoad(Seq(-1.0, -1.0, -1.0), threshold))
  }

  test("bench line for the REAL registry fits the driver's 2000-char window") {
    // r5 evidence: the driver retains the last 2000 chars of stdout and
    // json.loads what it finds — a full-name 92-query line was ~3.3k chars
    // and could never parse. Short ids must (a) be unique over the real
    // registry and (b) keep the whole line, plus sbt's ~80-char
    // "[success] Total time: …" epilogue and a safety margin, inside the
    // window. Render with worst-case 3-digit seconds per query.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val shortIds = names.map(_.takeWhile(_ != '_'))
    assert(shortIds.distinct.size == shortIds.size,
      s"short-id collision: ${shortIds.diff(shortIds.distinct).distinct}")
    // margin: sbt's "[success] Total time: …" epilogue measures ~80
    // chars; 150 leaves ~70 beyond it. At 187 queries the every-query
    // map outgrew the window, so short mode now lists only the ≥ q_cut
    // slow set (registry-size-independent) — worst case modeled as a
    // slow set of 40 queries at 99.999 s (the real ≥1 s set has never
    // exceeded ~15; 99.999 is 5× the worst per-query time any driver
    // run recorded — 18.3 s, the r10 contended t18) with the rest under
    // the cut. If the SLOW SET itself ever approaches 40, the next
    // lever is raising q_cut.
    val slow = names.take(40).map(_ -> 99.999)
    val fast = names.drop(40).map(_ -> 0.4)
    val line = Bench.renderJson(slow ++ fast, "/root/testdata/sf0.1")
    assert(line.length + 150 < 2000,
      s"bench line ${line.length} chars — too close to the 2000-char retention window")
    // every slow-set query must survive in the line
    for (n <- slow.map(_._1))
      assert(line.contains("\"" + n.takeWhile(_ != '_') + "\":"),
        s"slow query $n missing from the bench line")
    val sess = spark
    import sess.implicits._
    assert(spark.read.json(Seq(line).toDS).head()
      .getAs[Long]("n_queries") == names.size)
  }

  test("bench detail artifact carries every rep in run order beside the median") {
    // the self-diagnosis contract (r10: a 14× t18 phantom cost a manual
    // judge re-run because only the median was recorded): full names, all
    // reps IN RUN ORDER, median derived from those reps — so a reader can
    // tell all-reps-degraded (real regression) from a contended window
    val sess = spark
    import sess.implicits._
    val json = Bench.renderDetailJson(
      Seq("q1_agg" -> Seq(9.0, 1.5, 1.0), "t18_bigram_fluency" -> Seq(2.0, 2.0, 2.0)),
      "/root/testdata/sf0.1")
    val parsed = spark.read.json(Seq(json).toDS)
    val row = parsed.head()
    assert(math.abs(row.getAs[Double]("value") - 3.5) < 1e-9)
    assert(row.getAs[Long]("n_queries") == 2)
    val q1 = row.getAs[org.apache.spark.sql.Row]("queries")
      .getAs[org.apache.spark.sql.Row]("q1_agg")
    // run order preserved (NOT sorted): the 9.0 cold rep stays first
    assert(q1.getAs[scala.collection.Seq[Double]]("reps").toSeq == Seq(9.0, 1.5, 1.0))
    assert(math.abs(q1.getAs[Double]("median") - 1.5) < 1e-9)
    // contention stamps (r13: a contaminated window was reconstructed
    // from shell history — now it's recorded): both fields present,
    // -1 sentinel when unreadable
    assert(row.getAs[Double]("loadavg_start") == -1.0)
    val stamped = spark.read.json(Seq(Bench.renderDetailJson(
      Seq("q1_agg" -> Seq(1.0)), "/x", 2.5, 31.0)).toDS).head()
    assert(stamped.getAs[Double]("loadavg_start") == 2.5 &&
      stamped.getAs[Double]("loadavg_end") == 31.0)
    assert(Bench.loadAvg() > 0.0) // readable on this platform
    // per-rep load series (r14: three rounds of whole-run brackets
    // couldn't localize WHICH queries ran contended): aligned with reps
    // by index, present per query when sampled, absent otherwise (the
    // run-order/median contract above is load-free and stays valid)
    val withLoad = spark.read.json(Seq(Bench.renderDetailJson(
      Seq("q1_agg" -> Seq(9.0, 1.5, 1.0)), "/x", 2.5, 3.0,
      Map("q1_agg" -> Seq(2.5, 7.25, 3.0)))).toDS).head()
    val lq = withLoad.getAs[org.apache.spark.sql.Row]("queries")
      .getAs[org.apache.spark.sql.Row]("q1_agg")
    assert(lq.getAs[scala.collection.Seq[Double]]("load").toSeq ==
      Seq(2.5, 7.25, 3.0))
    assert(lq.getAs[scala.collection.Seq[Double]]("reps").toSeq ==
      Seq(9.0, 1.5, 1.0))
    // resolved master + physical core count (r14 ADVICE: an env-less
    // Bench on a <32-core box silently oversubscribes — the record
    // itself must show the mismatch)
    val stampedM = spark.read.json(Seq(Bench.renderDetailJson(
      Seq("q1_agg" -> Seq(1.0)), "/x", 2.5, 31.0, Map.empty,
      "local[32]", 8)).toDS).head()
    assert(stampedM.getAs[String]("master") == "local[32]" &&
      stampedM.getAs[Long]("box_cores") == 8)
    assert(Bench.resolvedCpus == sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Bench.DefaultCpus))
  }

  test("anti-quadratic invariant: equi-joins only outside the whitelist") {
    val offenders = (built -- nestedLoopWhitelist.keys)
      .flatMap { case (name, t) =>
        val plan = t.get.queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")) Some(name)
        else None
      }
    assert(offenders.isEmpty,
      s"quadratic join shape outside the whitelist: $offenders")
  }

  /** Scan-speed queries whose PLANS.md story is "narrow, zero shuffles":
    * the only Exchange their physical plan may contain is the single
    * range partitioning of the presentation ORDER BY. Pinning it here
    * turns the claim into a regression test — a future edit that sneaks
    * a join or aggregation into these paths fails the suite, not a
    * review.
    */
  private val zeroShuffleQueries = Seq(
    "t1_token_count", "t2_quality_score", "t3_lang_id", "t4_fingerprint",
    "t5_rolling_fingerprint", "t9_clean_text", "t13_pii_redact",
    "c2_train_test_split", "c4_domain_mix", "c7_chunk_windows",
    "m4_patch_grid", "v3_l2_normalize", "v4_quantize_int8")

  /** The a46 count()-phantom lesson (r15), pinned: a bare count() over a
    * LEFT join to a unique-keyed aggregate lets Catalyst ELIMINATE the
    * joined subtree — the first a46 probe leg timed 1.01 s for an
    * operator that did not terminate at sf0.1, because the entire C/D
    * computation was planned away. A registry-wide scan then found ~50
    * queries whose counted plan dropped SOME expensive node (w-family
    * windows, g11/g12 joins, aggregate-input window columns), which is
    * why Bench and the dev timing mains (BenchOne, ProfileOne,
    * ScaleProbe) execute queryExecution.toRdd (protocol v2 — the
    * query's own plan, nothing prunable). This test keeps the lesson executable: a46's INNER C/D
    * join must keep at least the cumulative spine in even a counted
    * plan, so any future count-based measurement path degrades loudly
    * here instead of silently re-growing phantoms.
    */
  test("a46 under count() retains the C/D spine (no join-elimination phantom)") {
    // r15b: the spine is now Knight's sequential pass — a typed
    // mapPartitions behind a deserialization barrier that Catalyst
    // cannot see through or prune, so the expensive subtree survives
    // even a counted plan (stronger than the r15 INNER-join device,
    // whose window COLUMNS a count could still drop). The assert pins
    // the barrier + its bucket exchange staying in the counted plan.
    val counted = built("a46_kendall_tau").get.groupBy().count()
    val plan = counted.queryExecution.optimizedPlan.toString
    val barriers = "(?i)mappartitions|deserializetoobject".r
      .findAllIn(plan).size
    assert(barriers >= 1,
      s"counted a46 plan lost the sequential-pass barrier ($barriers " +
        "found) — the C/D subtree was planned away and any count-based " +
        "timing of this query is a phantom")
    assert("(?i)repartitionbyexpression|repartition".r
      .findAllIn(plan).nonEmpty,
      "counted a46 plan lost the bucket exchange feeding the pass")
  }

  /** Inputs a high-fan-out generator may legitimately read from one
    * partition: spine-/domain-bounded frames where the post-fan-out row
    * count is still tiny, so parallelism is irrelevant by construction.
    * Every entry carries the bound that makes one partition fine.
    */
  private val preFanoutWhitelist: Map[String, String] = Map(
    "d4_simhash" -> ("×4 block split fed directly by the documents scan: " +
      "input splits scale with the corpus (files.maxPartitionBytes), and " +
      "shuffling the TEXT payload to parallelize a per-row O(len) hash " +
      "costs more than the fan-out it feeds"),
    "s5_knn_bucketed" -> ("×planes dot-product explode fed by the " +
      "embeddings scan: same wide-payload argument — the embedding " +
      "array is the expensive thing to move; scan splits give the " +
      "parallelism at scale (×100 probe holds 27× wall at 100× data)"),
    "v7_random_projection" -> ("×16 projection explode fed by the " +
      "embeddings scan: the d4/s5 wide-payload argument verbatim"),
    "w17_acf" -> ("×6 lag explode over the per-nation moment AGGREGATE " +
      "(≤|nations| rows) — post-fan-out ≤ 150 rows, parallelism " +
      "irrelevant by domain bound"))

  /** The pre-fan-out sizing lint (r16 verdict task 2), after three
    * production sightings of the same trap (a48 r15b, a31's ancestry,
    * a14 r16 — each cost a profiling session): AQE sizes every
    * exchange — including a bare repartition(col) — from PRE-fan-out
    * bytes, so a narrow single-file scan feeding a ×B literal generator
    * serializes the whole operator onto ONE core. The rule
    * (PartitionOps.repartitionBeforeFanout): an explicit-count exchange
    * or a multi-partition pinned layout must sit below the generator.
    * This test makes a fourth sighting a suite failure instead of a
    * bench adjudication: every ≥4× literal-array explode/posexplode in
    * the registry must be fed by (a) a Repartition with an explicit
    * count > 1, (b) a localCheckpoint'd LogicalRDD with > 1 partitions,
    * or (c) a cached relation whose build exchange left > 1 partitions.
    * Data-dependent generators (shingles, token arrays) are outside the
    * lint's class — their fan-out isn't a plan literal.
    */
  test("pre-fan-out sizing lint: every >=4x literal generator reads a multi-partition source") {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Explode, Expression, Literal, PosExplode}
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.catalyst.util.ArrayData
    def fanOut(gen: Expression): Int = gen match {
      case Explode(CreateArray(cs, _)) => cs.size
      case PosExplode(CreateArray(cs, _)) => cs.size
      case Explode(Literal(a: ArrayData, _)) => a.numElements()
      case PosExplode(Literal(a: ArrayData, _)) => a.numElements()
      case _ => 1
    }
    def fed(p: logical.LogicalPlan): Boolean = p.exists {
      case r: logical.Repartition => r.numPartitions > 1
      case r: logical.RepartitionByExpression =>
        r.optNumPartitions.exists(_ > 1)
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getNumPartitions > 1
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cachedPlan.outputPartitioning.numPartitions > 1
      case _ => false
    }
    val offenders = (built -- preFanoutWhitelist.keys).toSeq.sortBy(_._1)
      .flatMap { case (name, t) =>
        t.toOption.toSeq.flatMap { df =>
          df.queryExecution.optimizedPlan.collect {
            case g: logical.Generate
                if fanOut(g.generator) >= 4 && !fed(g.child) =>
              s"$name (x${fanOut(g.generator)} generator over a " +
                "1-partition-capable source)"
          }
        }
      }
    assert(offenders.isEmpty,
      "pre-fan-out trap (the a48/a31/a14 class): route the generator " +
        "input through PartitionOps.repartitionBeforeFanout or pin a " +
        s"multi-partition layout first — ${offenders.mkString(", ")}")
  }

  /** r17 verdict task 4: the d11-family's pair→text attachment must
    * touch the text relation exactly ONCE per query
    * (Dedup.attachPairTexts — unpivot sides, one equi-join, pivot
    * back). The old two-per-side-join shape built two separate text
    * exchanges (reuse never fired — inferred-constraint order broke
    * canonical equality), and at 100 TB it would scan + shuffle the
    * corpus twice. A join "touches text" when either input side still
    * carries the `text` column.
    */
  test("d11-family: the text relation is joined exactly once") {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // r19: the attachment lives in the family's shared pair-text cache,
    // so the query's own plan shows an InMemoryRelation carrying t1/t2.
    // The invariant is unchanged — text is joined exactly once, now per
    // CORPUS rather than per query — but the lint must look through the
    // cached relation's child plan (and any AQE wrapper / nested cache
    // scan inside it) to count the join.
    def physTextJoins(p: SparkPlan): Int = {
      val here = p.collect {
        case j: BaseJoinExec if Seq(j.left, j.right).exists(
            _.output.exists(_.name == "text")) => j
      }.size
      val aqe = p.collect { case a: AdaptiveSparkPlanExec => a }
        .map(a => physTextJoins(a.inputPlan)).sum
      val nested = p.collect { case s: InMemoryTableScanExec => s }
        .map(s => physTextJoins(s.relation.cachedPlan)).sum
      here + aqe + nested
    }
    for (q <- Seq("d11_edit_verify", "d11b_edit_verify_banded",
        "d12_edit_prefilter")) {
      val plan = built(q).get.queryExecution.optimizedPlan
      val logicalJoins = plan.collect {
        case j: logical.Join if Seq(j.left, j.right).exists(
            _.output.exists(_.name == "text")) => j
      }.size
      val cachedJoins = plan.collect { case r: InMemoryRelation => r }
        .map(r => physTextJoins(r.cachedPlan)).sum
      assert(logicalJoins + cachedJoins == 1,
        s"$q: ${logicalJoins + cachedJoins} joins touch the text " +
          "relation — the pair→text attachment must go through " +
          "Dedup.attachPairTexts (directly or via the shared cache)")
    }
  }

  /** Global windows a query may legitimately run: each entry carries
    * the size argument that makes the single partition fine at 100 TB.
    * (The r18 verdict's window inventory: most global windows sit above
    * a LIMIT/top-k or an aggregate, which the lint proves structurally —
    * only the exceptions live here.)
    */
  private val globalWindowWhitelist: Map[String, String] = Map.empty

  test("unpartitioned-window lint: a global window sits above an aggregate/limit-bounded child") {
    // r18 verdict task 9: the test tail is wall-to-wall "No Partition
    // Defined for Window" warnings. A global window over an
    // already-aggregated or LIMITed child is bounded (group-domain /
    // top-k rows move to the one partition); a global window over a
    // corpus-sized child is a serializer at 100 TB. The lint walks
    // every optimized plan and proves the bound structurally; anything
    // else must be whitelisted with an explicit size argument — the
    // pre-fan-out lint's pattern.
    import org.apache.spark.sql.catalyst.plans.logical
    def bounded(p: logical.LogicalPlan): Boolean = p.exists {
      case _: logical.Aggregate => true
      case _: logical.GlobalLimit => true
      case _: logical.LocalLimit => true
      // a rank-filtered window (rn <= k) bounds rows per group; the
      // group domain itself is the partitionSpec's concern upstream
      case w: logical.Window if w.partitionSpec.nonEmpty => true
      case _ => false
    }
    val offenders = (built -- globalWindowWhitelist.keys).toSeq.sortBy(_._1)
      .flatMap { case (name, t) =>
        t.toOption.toSeq.flatMap { df =>
          df.queryExecution.optimizedPlan.collect {
            case w: logical.Window
                if w.partitionSpec.isEmpty && !bounded(w.child) =>
              s"$name (global window over an unbounded child)"
          }
        }
      }
    assert(offenders.isEmpty,
      "global window over a corpus-sized child (the 100 TB " +
        "serializer class): bound the child with an aggregate/top-k " +
        s"or whitelist with a size argument — ${offenders.mkString(", ")}")
  }

  test("zero-shuffle invariant: narrow ops exchange only for the final sort") {
    val offenders = zeroShuffleQueries.flatMap { name =>
      val plan = built(name).get.queryExecution.executedPlan.toString
      val exchanges = "(?m)^(?:\\s|:|\\+|-)*(?:\\*\\(\\d+\\) )?Exchange ".r
        .findAllIn(plan).size
      val range = plan.contains("Exchange rangepartitioning")
      if (exchanges > 1 || (exchanges == 1 && !range))
        Some(s"$name: $exchanges exchange(s)")
      else None
    }
    assert(offenders.isEmpty,
      s"unexpected shuffle in a scan-speed path: $offenders")
  }

  test("b2b: the per-step deadline adds ZERO exchanges over b2's plan") {
    // the b2b registry comment's claim, pinned: the deadline rides the
    // same chained window-min CASE predicates, so the physical plan has
    // exactly b2's exchange structure — a rewrite that sneaks a
    // self-join or extra shuffle into the bounded form fails here
    def exchanges(name: String): Int =
      "Exchange ".r.findAllIn(
        built(name).get.queryExecution.executedPlan.toString).size
    assert(exchanges("b2b_funnel_window") == exchanges("b2_funnel"),
      "bounded funnel changed the exchange structure")
  }

  test("x8 SCD2: all three window functions share ONE hash exchange") {
    // the x8 registry comment's claim, pinned: the change filter between
    // the lag pass and the lead/row_number pass preserves both the hash
    // partitioning and the sort order, so the optimized plan carries one
    // customer-key exchange (plus only the presentation sort's range
    // partitioning)
    val plan = built("x8_scd2_history").get.queryExecution
      .executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hash == 1,
      s"expected exactly 1 hash exchange, got $hash:\n${plan.take(1500)}")
  }

  /** Production default demonstrated, not just documented: AQE's runtime
    * skew-join splitting (on by default) carves an oversized shuffle
    * partition into advisory-sized reads, so a hot join key does not melt
    * one reducer. The manual salted join (`etl/Skew.scala`, exercised by
    * j3) is the fallback for the shapes AQE can't fix — broadcast-
    * ineligible dims where deterministic replay matters — not the first
    * line of defense. Thresholds are tuned down so the fixture-sized hot
    * key trips the same machinery a 100 TB hot key trips at defaults;
    * `newSession()` isolates that tuning from the suite-shared session.
    */
  test("AQE skew-join: runtime split engages on a skewed sort-merge join") {
    import org.apache.spark.sql.functions._
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    // 90% of fact rows share one key — the "unknown product" shape. The
    // payload must be per-row (md5, incompressible): a literal pad would
    // constant-fold past the shuffle and the hot partition's compressed
    // map-output size — what AQE actually measures — would stay under any
    // threshold.
    val fact = s.range(0, 100000L).select(
      when(col("id") % 10 < 9, lit(0L)).otherwise(col("id")).as("k"),
      md5(col("id").cast("string")).as("pad"))
    val dim = s.range(0, 1000L).select(col("id").as("k"), (col("id") * 2).as("attr"))
    val joined = fact.join(dim, "k")
    // collect() runs THIS Dataset's queryExecution (count() would plan a
    // fresh aggregate), so the adaptive plan below is the executed one
    val rows = joined.collect().length
    // hot: 90,000 k=0 rows × the one dim k=0 row; cold: ids 9,19,…,999
    assert(rows == 90100, s"join result changed under skew split: $rows")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "adaptive plan never finalized")
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join — plan:\n${plan.take(2000)}")
  }
}
