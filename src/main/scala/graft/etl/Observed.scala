package graft.etl

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects `df.observe(...)` metrics — the engine's data-quality
  * observability channel (SURVEY §7.9): per-step affected-row counts ride
  * the job itself instead of issuing extra `count()` actions like the
  * reference does per cleaning step (`etl/transform.py:21-48`).
  */
object Observed {

  /** Run `action`, return its result plus all observation-point metrics
    * seen on this session during it. Listener delivery is async, so we
    * wait (bounded) for the named observations to arrive.
    */
  def capture[T](spark: SparkSession, expected: Set[String],
      timeoutMs: Long = 10000)(action: => T): (T, Map[String, Map[String, Any]]) = {
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
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!expected.subsetOf(acc.keySet) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      (result, acc.toMap)
    } finally spark.listenerManager.unregister(listener)
  }
}
