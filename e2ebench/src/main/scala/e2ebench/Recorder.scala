package e2ebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** One timed interval of a traced run. `phase` is `call` for the span
  * around one library call, and `construct` (inside the call that returns
  * the DataFrame) or `exec` (the action that materializes it) for its two
  * children.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    phase: String, startNs: Long, endNs: Long)

/** Everything counted for one layer over a traced run. */
final class LayerStats {
  var constructNs = 0L
  var execNs = 0L
  var planMs = 0L
  var constructJobs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var retries = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val persistedByRdd = mutable.HashMap.empty[Int, Long]
  val taskShuffleRead = mutable.ArrayBuffer.empty[Long]
  val plans = mutable.ArrayBuffer.empty[SparkPlan]
}

/** The workflow's view of the system under test: every library call and
  * every action goes through here. Untraced, it only counts calls; the
  * traced subclass opens a span per call and attributes the listener
  * counters to the layer that was running.
  */
class Recorder(val spark: SparkSession) extends SparkListener {
  var attempted = 0
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var heldBytes = 0L
  private var peakHeld = 0L

  /** A call into a layer that returns its (possibly lazy) result. */
  def call[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    body
  }

  /** An action the workflow performs anyway (a write, a collect). */
  def action[T](layer: String, name: String)(body: => T): T = {
    attempted += 1
    body
  }

  /** A layer boundary: the traced run materializes `df` here so the next
    * layer's span does not re-run this one; the untraced run passes it on.
    */
  def boundary(layer: String, name: String, df: DataFrame): DataFrame = df

  /** Peak bytes of cached and checkpointed blocks held at once. */
  def peakStorageBytes: Long = synchronized(peakHeld)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val prev = blockBytes.getOrElse(id, 0L)
        heldBytes += size - prev
        if (size == 0) blockBytes -= id else blockBytes(id) = size
        peakHeld = math.max(peakHeld, heldBytes)
        if (size > prev) blockAdded(id.rddId, size - prev)
      case _ =>
    }
  }

  protected def blockAdded(rddId: Int, bytes: Long): Unit = ()
}

object Recorder {
  val Layers: Seq[String] = Seq("etl.Extract", "etl.Transform", "etl.Aggregates",
    "etl.Sink", "ext.TextAnalysis", "ext.Dedup", "ext.Clusters", "GraphQueries")

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Every node of an executed plan, including the plans that built
      * the cached relations it scans.
      */
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
  }

  /** Rows out of the final aggregate that produces `column`, as the
    * executed plans' SQL metrics counted them (max over repeated scans of
    * one cached plan).
    */
  def aggregateRows(plans: Seq[SparkPlan], column: String): Long =
    plans.flatMap(Plans.nodes).collect {
      case a: BaseAggregateExec if a.output.exists(_.name == column) &&
          a.aggregateExpressions.exists(_.mode == Final) =>
        a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)
}

/** The traced run: spans around every call, counters attributed by layer.
  * Jobs and stages carry the open span in their local properties; block
  * and query events are attributed to the span open when they arrive,
  * which is exact because each span drains the listener bus before it
  * closes.
  */
final class TracingRecorder(spark: SparkSession) extends Recorder(spark)
    with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  val stats: Map[String, LayerStats] = Recorder.Layers.map(_ -> new LayerStats).toMap
  val counts = mutable.LinkedHashMap.empty[String, Long]
  /** RDDs the benchmark itself persisted at layer boundaries. */
  private val boundaryRdds = mutable.Set.empty[Int]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  @volatile private var openLayer: String = null
  private var nextId = 1
  private val sc = spark.sparkContext

  private def phase[T](layer: String, name: String, kind: String, parent: Int)(
      body: => T): T = {
    val id = nextId
    nextId += 1
    openLayer = layer
    sc.setLocalProperty("e2e.layer", layer)
    sc.setLocalProperty("e2e.phase", kind)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      org.apache.spark.ListenerDrain(sc)
      sc.setLocalProperty("e2e.layer", null)
      sc.setLocalProperty("e2e.phase", null)
      openLayer = null
      spans += Span(id, parent, layer, name, kind, t0, t1)
      val s = stats(layer)
      if (kind == "construct") s.constructNs += t1 - t0 else s.execNs += t1 - t0
    }
  }

  private def withCall[T](layer: String, name: String)(body: Int => T): T = {
    attempted += 1
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    try body(id)
    finally spans += Span(id, 0, layer, name, "call", t0, System.nanoTime())
  }

  override def call[T](layer: String, name: String)(body: => T): T =
    withCall(layer, name)(id => phase(layer, name, "construct", id)(body))

  override def action[T](layer: String, name: String)(body: => T): T =
    withCall(layer, name)(id => phase(layer, name, "exec", id)(body))

  override def boundary(layer: String, name: String, df: DataFrame): DataFrame =
    withCall(layer, name) { id =>
      phase(layer, name, "exec", id) {
        val kept = df.persist(StorageLevel.MEMORY_AND_DISK)
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sharedState.cacheManager
          .lookupCachedData(kept.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .foreach(c => boundaryRdds += c.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
        counts(name) = kept.count()
        kept
      }
    }

  private def layerOf(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p =>
      Option(p.getProperty("e2e.layer")).map(_ -> p.getProperty("e2e.phase")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    layerOf(e.properties).foreach { case (layer, kind) =>
      val s = stats(layer)
      s.jobs += 1
      if (kind == "construct") s.constructJobs += 1
      e.stageIds.foreach(stageLayer(_) = layer)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageLayer.get(info.stageId).foreach { layer =>
      val s = stats(layer)
      s.stages += 1
      s.tasks += info.numTasks
      if (info.attemptNumber() > 0) s.retries += 1
      Option(info.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { layer =>
      val s = stats(layer)
      if (!e.taskInfo.successful) s.retries += 1
      Option(e.taskMetrics).map(_.shuffleReadMetrics.totalBytesRead)
        .filter(_ > 0).foreach(s.taskShuffleRead += _)
    }
  }

  override protected def blockAdded(rddId: Int, bytes: Long): Unit =
    Option(openLayer).foreach { layer =>
      val m = stats(layer).persistedByRdd
      m(rddId) = m.getOrElse(rddId, 0L) + bytes
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      Option(openLayer).foreach { layer =>
        val s = stats(layer)
        s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
        s.plans += qe.executedPlan
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Per-layer metrics: `<layer>.<kind>` for every layer (0 for layers
    * this workflow does not call), plus the ratio counters.
    */
  def layerMetrics(cores: Int): Seq[(String, Double, String)] = synchronized {
    val mb = 1024.0 * 1024.0
    def skew(s: LayerStats): Double = {
      val xs = s.taskShuffleRead.sorted
      if (xs.isEmpty) 0.0 else xs.last.toDouble / xs(xs.size / 2).max(1L)
    }
    val perLayer = Recorder.Layers.flatMap { layer =>
      val s = stats(layer)
      val wallS = (s.constructNs + s.execNs) / 1e9
      val persisted = s.persistedByRdd.collect {
        case (rdd, b) if !boundaryRdds(rdd) => b
      }.sum
      Seq(
        ("construct_s", s.constructNs / 1e9, "s"),
        ("construct_jobs", s.constructJobs.toDouble, "count"),
        ("plan_s", s.planMs / 1e3, "s"),
        ("exec_s", s.execNs / 1e9, "s"),
        ("jobs", s.jobs.toDouble, "count"),
        ("stages", s.stages.toDouble, "count"),
        ("tasks_per_stage", if (s.stages == 0) 0.0 else s.tasks.toDouble / s.stages, "count"),
        ("cpu_s", s.cpuNs / 1e9, "s"),
        ("cores_busy", if (wallS == 0) 0.0 else s.runMs / 1e3 / (wallS * cores), "ratio"),
        ("shuffle_mb", s.shuffleBytes / mb, "MB"),
        ("spill_mb", s.spillBytes / mb, "MB"),
        ("persisted_mb", persisted / mb, "MB"),
        ("retries", s.retries.toDouble, "count"),
      ).map { case (k, v, u) => (s"$layer.$k", v, u) }
    }
    def ratio(a: String, b: String): Double =
      (counts.get(a), counts.get(b)) match {
        case (Some(x), Some(y)) if y > 0 => x.toDouble / y
        case _ => 0.0
      }
    val candidates = Recorder.aggregateRows(stats("ext.Dedup").plans.toSeq, "inter")
    perLayer ++ Seq(
      ("etl.Transform.rows_kept_ratio", ratio("clean_sales", "sales"), "ratio"),
      ("etl.Transform.skew", skew(stats("etl.Transform")), "ratio"),
      ("ext.Dedup.skew", skew(stats("ext.Dedup")), "ratio"),
      ("ext.Dedup.pairs_kept_ratio",
        if (candidates == 0) 0.0 else counts.getOrElse("pairs", 0L).toDouble / candidates,
        "ratio"),
      ("GraphQueries.skew", skew(stats("GraphQueries")), "ratio"))
  }
}
