package graft

import org.apache.spark.sql.SparkSession

/** Lifecycle for the engine's internal caches — the complement to the
  * "caller owns the block" contract documented at the
  * `persist`/`cache`/`localCheckpoint` call sites in `src/main` (the
  * shingle indexes, k-means assignments, component-round labels, …;
  * `SourceLayoutSpec`'s ratchet counts them and fails if they grow).
  * Those sites cannot unpersist eagerly — their blocks back the
  * DataFrames they return — so a caller COMPOSING operators in one
  * session (clean → fuzzy-dedup → survivorship → …) accumulates every
  * intermediate block unless it drops them itself. `Bench` and the dev
  * timing mains do that with the blanket sweep [[dropAll]] between
  * measurements.
  *
  * A DataFrame built before the sweep must not be read after it: a
  * plain `persist` block merely recomputes, but a `localCheckpoint`
  * block — which MOST of those engine sites use — has its lineage
  * TRUNCATED at the checkpoint, so the read fails with
  * `SparkException: Checkpoint block ... not found`. Materialize (or
  * write out) before dropping.
  */
object CacheScope {

  /** Drop every CacheManager entry and every persisted RDD block, blocking
    * until the blocks are gone — `localCheckpoint` blocks included, which
    * no CacheManager entry tracks.
    */
  def dropAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
