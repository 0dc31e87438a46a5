package graft

import org.apache.spark.sql.{Column, DataFrame}

/** The pre-fan-out sizing rule, codified after three production
  * sightings (a48 in r15b, a31's ancestry, a14 in r16 — each cost a
  * profiling session): a narrow single-file scan feeding a ×B
  * generator serializes the operator onto ONE core, because AQE sizes
  * every exchange — including a bare `repartition(col)` — from
  * PRE-fan-out bytes (~5 MB of events → 1 coalesced partition), blind
  * to the ×B work each row seeds. The fix is always the same: ONE
  * explicit-count repartition before the generator, sized to the
  * session's shuffle parallelism, which AQE is not allowed to coalesce.
  * At 100 TB the rule reads: size the exchange for the POST-fan-out
  * cost, not the input bytes (PLANS.md a48_bootstrap_diff carries the
  * annotated plan).
  *
  * PlanSpec's "pre-fan-out sizing lint" enforces the rule registry-wide:
  * any ≥4× literal-array generator, in a query's plan or in a plan its
  * construction executed (an eager checkpoint), must sit above an
  * explicit-count exchange or a multi-partition pinned layout, so a
  * fourth sighting fails the suite instead of a bench adjudication.
  */
object PartitionOps {

  /** Repartition to the session's shuffle parallelism with an EXPLICIT
    * count (optionally hash-keyed by `cols`) — the one exchange shape
    * AQE never coalesces. Call immediately before a high-fan-out
    * explode/posexplode; callers that feed multiple consumers should
    * `localCheckpoint()` the result (the a31/a48 device).
    */
  def repartitionBeforeFanout(df: DataFrame, cols: Column*): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (cols.isEmpty) df.repartition(n) else df.repartition(n, cols: _*)
  }
}
