package graft

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-curve probe (dev tool, not part of the driver contract): times
  * registry queries over `<dir>` (scale 1) and over a ×k replica of it
  * (scale k), so super-linear creep shows up as a curve, not an opinion.
  * Run: `sbt "Test/runMain graft.ScaleProbe <dir> <k> [prefixes]"`, where
  * the optional prefixes are comma-separated (`q1,d2` selects `q1_*` and
  * `d2_*`); absent, every registry query runs.
  *
  * The probe times the registry itself ([[SparkEntry.queries]]), so it can
  * never time a different program than the driver runs. Each run drops all
  * persisted state first (as Bench does between queries), then times the
  * query's construction plus `queryExecution.toRdd.count()` (protocol v2,
  * see Bench.scala), and prints `{"op","scale","rows","sec"}` — or
  * `{"op","scale","error"}` if the query threw, in which case the main
  * exits 1 after the loop.
  *
  * The replica ([[writeReplica]]) is k independent universes of the
  * fixture: keys, shingles and graphs are disjoint across replicas and
  * every per-replica structure is the fixture's, so a super-linear curve
  * is the operator's fault, not the replica's. Caveat: embedding vectors
  * are copied unchanged, so every vector has k−1 identical copies and
  * d8's within-cell pairs grow with k² by construction.
  */
object ScaleProbe {

  type Query = (SparkSession, String) => DataFrame

  /** Key offset between replicas: clears the fixtures' own doc_id
    * offsets (+1e6 to +4e6, [[graft.ext.DocFixtures]]).
    */
  val KeyStride = 1000000000L

  private def shifted(name: String): Boolean =
    name.endsWith("key") || name.endsWith("_id")

  /** Writes a ×k replica of every `<table>.parquet` under `dir` to `out`.
    * Replica i (0 until k) adds i·[[KeyStride]] to every LongType column
    * whose name ends in `key` or `_id`, and suffixes every token of
    * `documents.text` with `_i` (replica 0 is the source itself); every
    * other column is copied unchanged and every column keeps its type.
    * A table with no shifted column (region, nation) is written once, so
    * dimension joins do not multiply.
    */
  def writeReplica(spark: SparkSession, dir: String, k: Int, out: String): Unit =
    new File(dir).list().filter(_.endsWith(".parquet")).sorted.foreach { file =>
      val src = spark.read.parquet(s"$dir/$file")
      val keys = src.schema.fields
        .filter(f => f.dataType == LongType && shifted(f.name)).map(_.name).toSet
      val copies = if (keys.isEmpty) 1 else k
      (0 until copies).map { i =>
        src.select(src.columns.toSeq.map { c =>
          if (keys(c)) (col(c) + lit(i * KeyStride)).as(c)
          else if (file == "documents.parquet" && c == "text" && i > 0)
            regexp_replace(col(c), "(\\S+)", "$1_" + i).as(c)
          else col(c)
        }: _*)
      }.reduce(_ unionAll _).write.parquet(s"$out/$file")
    }

  /** Runs every query (sorted by name) over every `(scale, dir)` in
    * `scales`, emitting one JSON record per run. Returns false if any run
    * threw.
    */
  def probe(spark: SparkSession, queries: Map[String, Query],
      scales: Seq[(Int, String)], emit: String => Unit): Boolean =
    queries.toSeq.sortBy(_._1).flatMap { case (op, fn) =>
      scales.map { case (scale, dir) =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        try {
          val n = fn(spark, dir).queryExecution.toRdd.count()
          val sec = (System.nanoTime() - t0) / 1e9
          emit(f"""{"op":"$op","scale":$scale,"rows":$n,"sec":$sec%.2f}""")
          true
        } catch { case NonFatal(e) =>
          val err = Verify.jsonString(e.toString)
          emit(s"""{"op":"$op","scale":$scale,"error":$err}""")
          false
        }
      }
    }.forall(identity)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <dir> <k> [prefixes]")
    val dir = args(0)
    val k = args(1).toInt
    val prefixes = args.lift(2).map(_.split(',').map(_.trim).filter(_.nonEmpty))
    val selected = SparkEntry.queries.filter { case (op, _) =>
      prefixes.forall(_.exists(p => op == p || op.startsWith(p + "_")))
    }
    val spark = LocalSession(Bench.resolvedCpus.toInt)
    val tmp = Files.createTempDirectory("graft_scale_").toFile
    val ok =
      try {
        val replica = s"$tmp/sf_x$k"
        writeReplica(spark, dir, k, replica)
        probe(spark, selected, Seq(1 -> dir, k -> replica), println)
      } finally {
        spark.stop()
        JavaUtils.deleteRecursively(tmp)
      }
    if (!ok) sys.exit(1)
  }
}
