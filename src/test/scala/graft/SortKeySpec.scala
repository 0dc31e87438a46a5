package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.etl.{Pipelines, Tables}

/** Sort-key-totality lint — the mechanical gate for the determinism bug
  * class that shipped three times (r2 tiebreaks, r4 t12 type drift, r6 w3
  * frame drift): a window/rank/dedup whose ORDER BY is not a total order
  * over rows that can differ in an emitted column produces engine-dependent
  * results that no amount of float discipline fixes.
  *
  * Coverage is DERIVED FROM THE REGISTRY, not hand-kept (the r7 verdict's
  * ask): every registered query's optimized plan is walked for `Window`
  * nodes and for `Sort`-under-`Limit` (top-k) shapes, and each one's
  * (partition ++ order) key set is linted for totality over that node's
  * actual INPUT subplan — so a new windowed query is covered the moment it
  * is registered, with no test to remember.
  *
  * The rule: group the node's input by its resolved key expressions and
  * assert tied rows are identical in EVERY output column — then the tie
  * order cannot matter. (Grouping by the key expressions and counting
  * distinct full rows subsumes the old "non-key columns" formulation: rows
  * that agree on all keys and on all columns are genuinely interchangeable.)
  *
  * Runs at sf0.01 (the correctness-gate scale) by default; set
  * GRAFT_SORTKEY_SF=/root/testdata/sf0.1 (or any dir) to add scales —
  * the end-of-round sweep runs it with the flag. The registry walk
  * builds every query per scale dir (eagerly firing the checkpointing
  * queries' jobs), so each extra dir costs real wall clock — the r9
  * gate-runtime finding.
  * Streaming (st*) queries are skipped: building them replays the stream
  * and their returned plan is a sink read with no Window — their orderings
  * live in the state machinery, covered by the events-key fact below.
  */
class SortKeySpec extends SparkSpec {

  private val dirs: Seq[String] =
    Seq("/root/testdata/sf0.01") ++ sys.env.get("GRAFT_SORTKEY_SF")

  /** The lint query: key-groups containing rows that DIFFER in any column —
    * exactly the groups where sort-tie order would leak into results.
    */
  private def tiesDf(input: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    input.groupBy(keys: _*)
      .agg(countDistinct(struct(input.columns.map(col).toSeq: _*)).as("nd"))
      .filter(col("nd") > 1)

  private def ambiguousTies(input: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): Long =
    tiesDf(input, keys).count()

  /** Windows whose tie order provably cannot leak into results:
    *
    *  - NO orderSpec + every function a commutative aggregate (b2's
    *    chained funnel mins, b3's cohort-size max): the frame is the
    *    whole partition and min/max/sum/count cannot see tie order.
    *  - RANGE (value-based) frames + commutative aggregates (w6's
    *    interval trailing sum): every peer row — same partition, same
    *    order VALUE — gets the IDENTICAL frame by the RANGE semantics,
    *    so there is no per-row choice for tie order to influence. (ROWS
    *    frames stay linted: peers there get different frames — the w3
    *    bug class.)
    *
    * Everything else stays linted, and the check fails CLOSED: any
    * unrecognized window function (first/last, collect_*, the rank
    * family) keeps its node in the sweep. Caveat shared by both arms:
    * Sum is tie-order-free only for exact types (long/decimal — the
    * repo's window-sum discipline); a float window sum would still be
    * accumulation-order-dependent.
    */
  private def orderInsensitive(w: logical.Window): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{RangeFrame, SpecifiedWindowFrame, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    def commutative(fn: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = fn match {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Min | _: Max | _: Count => true
        // Sum is reorder-free only for EXACT types: a float/double sum is
        // accumulation-order-dependent even over a fixed row set, so only
        // integral/decimal sums (the repo's window-sum discipline) earn
        // the exemption — a float window sum stays in the sweep
        case s: Sum => s.dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _: org.apache.spark.sql.types.DecimalType => true
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }
    def rangeFramed(we: WindowExpression): Boolean =
      we.windowSpec.frameSpecification match {
        case f: SpecifiedWindowFrame => f.frameType == RangeFrame
        case _ => false
      }
    w.windowExpressions.forall { ne =>
      val wes = ne.collect { case we: WindowExpression => we }
      wes.nonEmpty && wes.forall { we =>
        commutative(we.windowFunction) &&
          (w.orderSpec.isEmpty || rangeFramed(we))
      }
    }
  }

  /** (queryName, kind, key expressions, input subplan) for every ordered
    * node in every registered non-streaming query's optimized plan.
    */
  private def orderedNodes(dir: String)
      : Seq[(String, String, Seq[org.apache.spark.sql.Column], DataFrame)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // Per-query construction + optimization are independent driver-side
    // work (plus the checkpointing queries' eager jobs), so the sweep
    // builds from a thread pool. The shared pipelines behind the queries
    // live in graft.Shared's concurrent registry; a construction race at
    // worst double-registers a cache entry (CacheManager dedupes by
    // canonical plan and logs "already cached"). The streaming skip
    // stays: building st* IS running them.
    // spark forced to a local first: a caller that reaches this while
    // holding this instance's lazy-val monitor must not let the futures
    // race it (the PlanSpec `built` self-deadlock class)
    val sess = spark
    Await.result(Future.traverse(
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(_._1.startsWith("st"))) { case (name, fn) =>
      Future {
        val plan = fn(sess, dir).queryExecution.optimizedPlan
        val windows = plan.collect {
          case w: logical.Window if !orderInsensitive(w) =>
            val keys = (w.partitionSpec ++ w.orderSpec.map(_.child))
              .map(ColumnBridge.column)
            (name, "window", keys, ColumnBridge.ofRows(sess, w.child))
        }
        // top-k (Sort under Limit, possibly through pruning Projects):
        // WHICH rows survive the limit depends on tie order even though
        // the driver's compare is order-insensitive
        def sortUnder(p: logical.LogicalPlan): Option[logical.Sort] = p match {
          case s: logical.Sort => Some(s)
          case pr: logical.Project => sortUnder(pr.child)
          case _ => None
        }
        val topks = plan.collect {
          case logical.GlobalLimit(_, logical.LocalLimit(_, inner)) =>
            sortUnder(inner)
        }.flatten.map { s =>
          val keys = s.order.map(o => ColumnBridge.column(o.child))
          (name, "limit-sort", keys, ColumnBridge.ofRows(sess, s.child))
        }
        windows ++ topks
      }
    }, Duration.Inf).flatten
  }

  test("registry-wide: every window / top-k key is total over its input") {
    for (dir <- dirs) {
      val nodes = orderedNodes(dir)
      // the walker must actually see the known windowed queries — an empty
      // or shrunken sweep means the lint silently stopped linting
      val windowed = nodes.filter(_._2 == "window").map(_._1).toSet
      for (expected <- Seq("f1_dedup_first", "w1_rank_window",
          "w2_lag_delta", "w3_moving_avg", "b1_sessionize",
          "c8_token_budget", "c9_pack_sequences", "c10_quality_bins",
          "c11_stratified_sample"))
        assert(windowed.contains(expected),
          s"walker lost $expected's Window at $dir — lint coverage shrank")
      val limited = nodes.filter(_._2 == "limit-sort").map(_._1).toSet
      for (expected <- Seq("o2_topk", "t6_vocab_topk"))
        assert(limited.contains(expected),
          s"walker lost $expected's Sort-under-Limit at $dir — lint coverage shrank")
      // Many registry queries share a window (f1's dedup appears in q4,
      // the rank window in w1/q2, …) — running the identical lint query
      // once per occurrence re-executed the heaviest inputs for nothing
      // (the r8 advice finding). The lint RESULT depends only on the
      // groupBy-over-input plan, so dedupe by the canonicalized optimized
      // plan of the lint query itself (canonicalization normalizes exprIds,
      // which differ across plan builds even for identical queries) and
      // count each distinct plan once; a failure names every query that
      // shares the node.
      val grouped = nodes
        .map { case n @ (_, _, keys, input) => (tiesDf(input, keys), n) }
        .groupBy(_._1.queryExecution.optimizedPlan.canonicalized)
      // The ~40 deduped lint counts are independent Spark actions; running
      // them from a thread pool lets their jobs share the session's
      // parallelism instead of paying ~40 sequential schedule-execute
      // round-trips — the dominant suite cost after the r10 env-gating.
      // Only the COUNTS run concurrently (construction above stays
      // sequential); Spark actions on one session are thread-safe.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val checks = grouped.toSeq.sortBy(_._2.head._2._1).map { case (_, group) =>
        val lint = group.head._1
        val sharers = group.map { case (_, (name, kind, _, _)) =>
          s"$name/$kind" }.distinct.sorted.mkString(", ")
        Future(sharers -> lint.count())
      }
      for ((sharers, amb) <- Await.result(Future.sequence(checks), Duration.Inf)) {
        assert(amb === 0L,
          s"$sharers: key not total over its input at $dir " +
            s"($amb ambiguous tie groups) — add a unique tiebreak column")
      }
      // the walker builds every registered query, and several checkpoint
      // eagerly at construction — drop those blocks so the suite doesn't
      // carry them across scale dirs (the same leak the bench fixed)
      CacheScope.dropAll(spark)
    }
  }

  test("order-insensitive exemption fails closed: first() stays linted, min() not") {
    import org.apache.spark.sql.expressions.{Window => W}
    val base = Tables.events(spark, "/root/testdata/sf0.001")
    def windowOf(df: DataFrame): logical.Window =
      df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }.head
    // first() over a partition-only window is order-DEPENDENT (whichever
    // row a partition scan yields first) — the exemption must not cover it
    val firstW = windowOf(base.withColumn("x",
      first(col("value")).over(W.partitionBy("user_id"))))
    assert(!orderInsensitive(firstW), "first() must stay in the lint sweep")
    // min() over the same window shape is what b2/b3 ship — exempt
    val minW = windowOf(base.withColumn("x",
      min(col("value")).over(W.partitionBy("user_id"))))
    assert(orderInsensitive(minW), "commutative aggregate windows are exempt")
    // an orderSpec with a ROWS frame re-enters the sweep: peers get
    // DIFFERENT frames there (the w3 bug class), so tie order leaks
    val rowsW = windowOf(base.withColumn("x",
      min(col("value")).over(W.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Long.MinValue, 0))))
    assert(!orderInsensitive(rowsW), "ROWS-framed windows re-enter the sweep")
    // while a RANGE frame + commutative aggregate stays exempt (the w6
    // shape): every peer row shares the identical value-based frame
    val rangeW = windowOf(base.withColumn("x",
      min(col("value")).over(W.partitionBy("user_id").orderBy("ts")
        .rangeBetween(Long.MinValue, 0))))
    assert(orderInsensitive(rangeW), "RANGE-framed commutative windows are exempt")
    // a DOUBLE sum is accumulation-order-dependent even over the fixed
    // RANGE frame (peer ties reorder the fold), so the Sum exemption must
    // be gated on exact result types — while the same sum in exact cents
    // (long) stays exempt
    val floatSumW = windowOf(base.withColumn("x",
      sum(col("value")).over(W.partitionBy("user_id").orderBy("ts")
        .rangeBetween(Long.MinValue, 0))))
    assert(!orderInsensitive(floatSumW), "float window sums must stay linted")
    val longSumW = windowOf(base.withColumn("x",
      sum((col("value") * 100).cast("long"))
        .over(W.partitionBy("user_id").orderBy("ts")
          .rangeBetween(Long.MinValue, 0))))
    assert(orderInsensitive(longSumW), "exact-cents RANGE sums stay exempt")
  }

  test("w3 regression: the pre-fix key (order_date, order_id, line_id) is NOT total") {
    // Documents WHY the key had to grow: lineitem (l_orderkey, l_linenumber)
    // is non-unique in the generated testdata (TESTDATA.md), so the r6 key
    // left ambiguous ties with differing total_price. This lint would have
    // failed pre-ship.
    val oldKey = Seq("customer_id", "order_date", "order_id", "line_id")
    val df = Pipelines.cleanSales(spark, "/root/testdata/sf0.01")
    val amb = ambiguousTies(df, oldKey.map(col))
    assert(amb > 0L, "expected ambiguous ties under the r6 w3 key — " +
      "if the testdata became (orderkey, linenumber)-unique this check " +
      "and TESTDATA.md need updating")
  }

  test("events: (user_id, ts, event_id) is total for streaming st* orderings") {
    // The one ordering family the registry walker cannot see: streaming
    // state (window assignment, session merge, dedup) orders by event
    // fields inside the state machinery, not in a static plan.
    val key = Seq("user_id", "ts", "event_id").map(col)
    for (dir <- dirs)
      assert(ambiguousTies(Tables.events(spark, dir), key) === 0L,
        s"events window key not total at $dir")
  }
}
