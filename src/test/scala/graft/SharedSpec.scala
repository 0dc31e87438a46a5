package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.streaming.Streams

/** [[Shared]]: every registry entry rebuilds after a cache drop, a stopped
  * session leaves nothing behind, and no other session-keyed map exists.
  */
class SharedSpec extends SparkSpec {

  private def level(name: String): StorageLevel =
    Shared.get(spark, name, sf) match {
      case Some(df: DataFrame) => df.storageLevel
      case other => fail(s"$name: no frame entry ($other)")
    }

  test("every shared frame rebuilds after a drop: same rows, cached again") {
    // (consuming query, entries it reads)
    val cases = Seq(
      "q1_sales_summary" -> Seq("sales"),
      "q5_clean_customers" -> Seq("customers"),
      "d2_ngram_jaccard" -> Seq("dnear", "ncands"),
      "d11_edit_verify" -> Seq("nptexts"),
      "d6_dedup_clusters" -> Seq("ncands05"),
      "g2_triangle_count" -> Seq("edges", "tri"),
      "g3_common_neighbors" -> Seq("pairs"),
      "g4_pagerank" -> Seq("adj"))
    for ((q, names) <- cases) {
      def run() = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
      val before = run()
      names.foreach(n => assert(level(n) != StorageLevel.NONE, s"$q: $n"))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      names.foreach(n => assert(level(n) == StorageLevel.NONE, s"$q: $n"))
      assert(run() == before, s"$q: rows changed after the rebuild")
      names.foreach(n => assert(level(n) != StorageLevel.NONE, s"$q: $n not cached again"))
    }
  }

  test("a stopped session leaves no entries and no stream root (child JVM)") {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(ProcessHandle.current().info().command().get) ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.SharedStopCheck", sf)
    val log = Files.createTempFile("graft_shared_stop_", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      if (!p.waitFor(300, TimeUnit.SECONDS)) p.destroyForcibly()
      val out = new String(Files.readAllBytes(log))
      assert(p.exitValue() == 0, s"child exited ${p.exitValue()}:\n${out.takeRight(4000)}")
      assert(out.contains("shared-stop-check: ok"), out.takeRight(4000))
    } finally Files.deleteIfExists(log)
  }

  private val sessionKeyedMap = """\w*Map(?:\.empty)?\s*\[\s*(\([^)]*\)|[^,\[\]]+)""".r

  private def declaresSessionKeyedMap(src: String): Boolean =
    sessionKeyedMap.findAllMatchIn(src).exists(_.group(1).contains("SparkSession"))

  test("lint: no map keyed by SparkSession outside Shared.scala") {
    assert(declaresSessionKeyedMap(
      "private val cache = TrieMap.empty[(SparkSession, String), DataFrame]"))
    assert(declaresSessionKeyedMap(
      "scala.collection.concurrent.TrieMap.empty[SparkSession, java.nio.file.Path]"))
    assert(declaresSessionKeyedMap("val m = mutable.HashMap[(String, SparkSession), Int]()"))
    assert(!declaresSessionKeyedMap("val acc = TrieMap.empty[String, Map[String, Any]]"))
    assert(!declaresSessionKeyedMap("val byName: Map[String, SparkSession] = Map.empty"))
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, "source tree not found")
    val offenders = files.filter(_.getFileName.toString != "Shared.scala")
      .filter(f => declaresSessionKeyedMap(new String(Files.readAllBytes(f))))
    assert(offenders.isEmpty, s"session-keyed maps outside Shared: $offenders")
  }
}

/** Child-JVM half of SharedSpec's stopped-session test: builds one entry of
  * every family plus one stream replay, stops the session, and exits 0 only
  * if [[Shared]] is empty and the stream root is gone.
  */
object SharedStopCheck {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = LocalSession(2)
    Seq("q3_avg_check_by_region", "d11_edit_verify", "d6_dedup_clusters",
      "g2_triangle_count", "g4_pagerank", "st1_stream_tumbling")
      .foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    val root: Path = Streams.streamRoot(spark)
    val built = Seq("sales", "customers", "nptexts", "ncands05", "tri", "adj")
      .forall(n => Shared.get(spark, n, dir).isDefined) &&
      Shared.get(spark, "stream.events", dir).isDefined && Files.isDirectory(root)
    spark.stop()
    val ok = built && Shared.isEmpty && !Files.exists(root)
    println(s"shared-stop-check: ${if (ok) "ok" else "FAILED"} " +
      s"(built=$built empty=${Shared.isEmpty} rootGone=${!Files.exists(root)})")
    sys.exit(if (ok) 0 else 1)
  }
}
