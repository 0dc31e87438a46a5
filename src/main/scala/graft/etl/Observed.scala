package graft.etl

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBusDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects `df.observe(...)` metrics — the engine's data-quality
  * observability channel (SURVEY §7.9): per-step affected-row counts ride
  * the job itself instead of issuing extra `count()` actions like the
  * reference does per cleaning step (`etl/transform.py:21-48`).
  */
object Observed {

  /** Run `action`, return its result plus all observation-point metrics
    * seen on this session during it. Throws IllegalStateException naming
    * any `expected` observation that never arrived.
    *
    * Listener delivery is async, so the bus is drained once `action`
    * returns. A name reported more than once keeps its last-delivered
    * value: concurrent readers of one cached plan each report that plan's
    * accumulator, and a reader that ends early may report it before
    * another reader's task has filled the last partition. The last
    * delivery comes after every reader has ended, so its value is
    * complete: the listener reads the accumulators when the bus delivers
    * the event, not when the action posted it (Spark 4.1's
    * `QueryExecution.observedMetrics` is a `def` that re-evaluates
    * `CollectMetricsExec.collect(executedPlan)` on each call, and
    * `ExecutionListenerBus.doPostEvent` calls `onSuccess` on delivery of
    * the `SparkListenerSQLExecutionEnd`). PipelineSpec checks a concurrent
    * `Pipeline.run`'s values against direct counts.
    */
  def capture[T](spark: SparkSession, expected: Set[String])(
      action: => T): (T, Map[String, Map[String, Any]]) = {
    val acc = TrieMap.empty[String, Map[String, Any]]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          acc.put(name, row.getValuesMap[Any](row.schema.fieldNames.toSeq))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = action
      ListenerBusDrain(spark.sparkContext)
      val missing = (expected -- acc.keySet).toSeq.sorted
      if (missing.nonEmpty)
        throw new IllegalStateException(s"observations never delivered: ${missing.mkString(", ")}")
      (result, acc.toMap)
    } finally spark.listenerManager.unregister(listener)
  }
}
