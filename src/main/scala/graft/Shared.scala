package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one session-scoped registry of shared intermediates, keyed by
  * (session, name, dir) — the reference's "clean sales once, feed three
  * aggregates" (`main.py:71-75`) as one device (ARCHITECTURE "Shared
  * intermediates"). A dropped frame is rebuilt from its builder, never
  * re-cached: its `localCheckpoint` blocks may be gone. Every entry of a
  * SparkContext is released when it stops. The map is concurrent because
  * the suites build the registry from a thread pool; a lost race costs a
  * duplicate `.cache()` the CacheManager dedupes.
  */
object Shared {

  private final case class Entry(value: Any, release: () => Unit)

  private val entries = TrieMap.empty[(SparkSession, String, String), Entry]

  /** `build`, cached once per (session, name, dir); rebuilt after a drop. */
  def frame(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val df = value(s, name, dir)(build.cache())
    if (df.storageLevel != StorageLevel.NONE) df
    else { entries.remove((s, name, dir)); frame(s, name, dir)(build) }
  }

  /** `build`, evaluated once per (session, name, dir); `release` runs on
    * it when the session's SparkContext stops.
    */
  def value[T](s: SparkSession, name: String, dir: String)(
      build: => T, release: T => Unit = (_: T) => ()): T =
    entries.getOrElseUpdate((s, name, dir), {
      releaseOnStop(s)
      val v = build
      Entry(v, () => release(v))
    }).value.asInstanceOf[T]

  // onApplicationEnd is delivered before SparkContext.stop() returns
  private def releaseOnStop(s: SparkSession): Unit =
    entries.getOrElseUpdate((s, "shared.listener", ""), {
      val sc = s.sparkContext
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          release(sc)
      })
      Entry((), () => ())
    })

  private def release(sc: SparkContext): Unit =
    entries.keys.filter(_._1.sparkContext eq sc).toList
      .flatMap(entries.remove).foreach(_.release())

  /** Test view: the value held under (session, name, dir), if any. */
  private[graft] def get(s: SparkSession, name: String, dir: String): Option[Any] =
    entries.get((s, name, dir)).map(_.value)

  private[graft] def isEmpty: Boolean = entries.isEmpty
}
