package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Written into the output dir only when a query failed: a JSON object
    * of query name → the error it threw. `tools/check.py` fails on it.
    */
  val FailureManifest = "verify_failures.json"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    dump(spark, sfDir, outDir, SparkEntry.queries.toSeq)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(
      SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("{SFDIR}", sfDir) }))
    spark.stop()
  }

  /** Each query's result as parquet under `outDir/<name>`; returns the
    * queries that threw, which the [[FailureManifest]] lists (an earlier
    * run's manifest is removed first, so a clean run leaves none).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val manifest = Paths.get(outDir, FailureManifest)
    Files.deleteIfExists(manifest)
    val failed = queries.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      }
    }
    if (failed.nonEmpty) Files.writeString(manifest, jsonObject(failed))
    failed
  }

  /** A JSON object of string keys and string values. */
  def jsonObject(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
