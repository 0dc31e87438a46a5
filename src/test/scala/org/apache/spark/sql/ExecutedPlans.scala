package org.apache.spark.sql

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Test access to the optimized plan of every SQL execution that ends
  * while this listener is registered (the end event's QueryExecution is
  * `private[sql]`), keyed by the job group of the thread that started it.
  * Executions started outside a job group are not kept.
  */
class ExecutedPlans extends SparkListener {
  private val groups = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentLinkedQueue[(String, LogicalPlan)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(groups.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd =>
      for (g <- Option(groups.remove(s.executionId)); qe <- Option(s.qe);
           p <- Try(qe.optimizedPlan).toOption) plans.add(g -> p)
    case _ =>
  }

  def byGroup: Map[String, Seq[LogicalPlan]] = plans.asScala.toSeq.groupMap(_._1)(_._2)
}
