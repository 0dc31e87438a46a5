package graft

import org.apache.spark.sql.SparkSession

/** Scoped lifecycle for the engine's internal caches — the loan pattern
  * complement to the "caller owns the block" contract documented at the
  * 54 `persist`/`cache`/`localCheckpoint` call sites in `src/main` (the
  * shingle indexes, k-means assignments, label-propagation frontiers,
  * …). Those sites cannot
  * unpersist eagerly — their blocks back the DataFrames they return —
  * so a caller COMPOSING operators in one session (clean → fuzzy-dedup →
  * survivorship → …) accumulates every intermediate block unless it
  * drops them itself. `Bench` and the dev timing mains do that with a
  * blanket sweep between measurements; this helper is the targeted version for
  * library users and [[graft.etl.Pipeline]]:
  *
  * {{{
  * val result = CacheScope.scoped(spark) {
  *   pipeline.run(...)   // materialize INSIDE the scope
  * }
  * // every block persisted inside the scope is dropped here
  * }}}
  *
  * Implementation: diff the SparkContext's persistent-RDD registry
  * around `body` and unpersist exactly the new entries — blocks the
  * caller persisted BEFORE the scope survive untouched (a blanket
  * `clearCache()` would drop those too). Two caveats, both inherent to
  * the pattern:
  *
  *  - '''The scope's result must be fully materialized (or written out)
  *    INSIDE the scope.''' For a plain `persist` block, a lazy DataFrame
  *    escaping the scope merely recomputes the dropped block (correct
  *    but slow). For a `localCheckpoint` block — which MOST of those
  *    engine sites use — the lineage is TRUNCATED at the checkpoint:
  *    after the sweep an escaped lazy DataFrame cannot recompute and
  *    fails with `SparkException: Checkpoint block ... not found`. So
  *    the contract is materialize-inside, not merely
  *    prefer-materialize-inside. ([[graft.etl.Pipeline]] complies: it
  *    returns collected counts, not frames.)
  *  - The diff is not concurrency-safe (a sibling thread persisting
  *    during the scope gets its blocks swept; same single-writer
  *    assumption as any session-wide resource).
  */
object CacheScope {

  def scoped[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
