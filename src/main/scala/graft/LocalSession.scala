package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every graft main and test opens:
  * `local[cpus]` with one shuffle partition per core, UI off, UTC session
  * time zone, nanosecond parquet timestamps read as longs (see
  * [[graft.etl.Tables.events]]), WARN logging, and the graft SQL functions
  * installed. Callers choose only the core count (Bench's through
  * [[Bench.resolvedCpus]]); `etl.Pipeline.main` keeps its own master and
  * partition policy.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }
}
