package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline entry — the counterpart of the reference's
  * `main.py:61-93` orchestration: Extract (CSV) → Transform (clean sales +
  * customers) → four derived tables → sink, with the reference's two
  * operational behaviors:
  *
  *  - sink-readiness retry probe before a JDBC load (`wait_for_db`,
  *    `main.py:42-58`): bounded attempts with a fixed delay, final failure
  *    propagates;
  *  - fail-fast process exit: any stage error logs and exits non-zero
  *    (`main.py:91-93`) — an orchestrator (Airflow/cron) sees the failure.
  *
  * The loaded tables mirror `main.py:79-87`: clean_sales, clean_customers,
  * sales_summary, product_ranking; avg_check_by_region is computed and
  * logged but not loaded, exactly like the reference (`main.py:76`). A
  * `jdbc:` outDir routes to the warehouse sink ([[Load]]); any other path
  * writes parquet, the lake-native equivalent used where no DB ships.
  *
  * Scale: everything stays one lazy plan per output; the cleaned sales
  * frame is cached once and feeds all four consumers (the reference's one
  * eager materialization, SURVEY §3). The reference computes and loads one
  * table after another over its one connection (`main.py:71-87`); here
  * the five actions (the avg-check collect and the four writes) do not
  * depend on each other, so they run at once. On a `jdbc:` outDir that
  * means the four table reloads run together, each over up to
  * `Load.reload`'s `numPartitions` (8) connections: one run opens up to
  * 4 × 8 = 32 warehouse connections at once, not the reference's one.
  */
object Pipeline {

  /** Connection-class failures — what a readiness probe should wait out:
    * transient/recoverable JDBC errors, SQLSTATE class 08 (connection
    * exception — how most drivers report "refused"/"unreachable"), and
    * I/O errors. Bad credentials or SQL syntax are NOT here: they never
    * heal, so retrying them only burns the backoff budget (the reference's
    * `wait_for_db` likewise catches only psycopg2's connection-class
    * OperationalError, `main.py:42-58`).
    */
  def connectionFailure(e: Throwable): Boolean = e match {
    case _: java.sql.SQLTransientException => true
    case _: java.sql.SQLRecoverableException => true
    case _: java.sql.SQLNonTransientConnectionException => true
    case se: java.sql.SQLException =>
      Option(se.getSQLState).exists(_.startsWith("08"))
    case _: java.io.IOException => true
    case _ => false
  }

  /** Bounded retry with fixed delay — `wait_for_db` generalized to any
    * sink probe. Retries only failures matching `transient` (default
    * [[connectionFailure]]); anything else — a permanent failure — is
    * rethrown immediately. Throws the last transient failure once
    * attempts are exhausted.
    */
  def retry[A](maxRetries: Int = 10, delayMs: Long = 2000,
      transient: Throwable => Boolean = connectionFailure)(probe: () => A): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(probe())
      catch {
        case e: Exception if transient(e) && attempt < maxRetries =>
          System.err.println(
            s"[pipeline] sink not ready (attempt $attempt/$maxRetries): ${e.getMessage}")
          Thread.sleep(delayMs)
          attempt += 1
      }
    }
    out.get
  }

  /** Run the full pipeline; returns per-output row counts (K7 logging).
    * The sales dedup tiebreak (pandas `keep="first"` = file order) is
    * pinned with `monotonically_increasing_id()` — monotone in file offset
    * for a splittable CSV scan, so "first occurrence in the file wins"
    * survives a parallel read.
    *
    * Every output is written one way: an overwrite of its parquet
    * directory, or on a `jdbc:` outDir a truncate-reload of its table
    * ([[Load.reload]]), so a re-run replaces what the last run loaded and
    * an empty output leaves an existing, empty table.
    *
    * Building the sources starts no job ([[Extract.readCsv]] reads the
    * header on the driver). The five actions — the avg-check collect and
    * the four writes — are started together, one thread each, so CSV
    * parsing, the dedup shuffle that fills the cleaned-sales cache, the
    * customers branch and every plan's planning and codegen overlap. The
    * run waits for all five, then rethrows the first failure in that
    * order (avg-check, then the outputs as listed) with its original
    * exception type; the other actions have run to their end by then, and
    * no pipeline thread outlives the run.
    *
    * Every logged count rides a job the run makes anyway, through one
    * [[Observed.capture]]: the cleaning steps' `observe()` metrics
    * (null counts — the reference's per-step logging,
    * `etl/transform.py:21-48`) arrive with the actions that read the
    * cleaned frames, and each output's row count (`rows_<table>`, the
    * reference's per-load logging, `etl/load.py:153,156`) with its own
    * write.
    *
    * The cleaned-sales cache is the run's only persisted frame; it is
    * unpersisted when the run returns, which drops its blocks and its
    * session CacheManager entry — a registered entry whose blocks are gone
    * would be planned into the next run as a stale cached relation (its
    * dedup shuffle never re-planned). PipelineSpec pins both: no net
    * persisted blocks, no net CacheManager entries.
    */
  def run(spark: SparkSession, dataDir: String, outDir: String): Map[String, Long] =
    runObserved(spark, dataDir, outDir)._1

  /** [[run]], also returning every observed metric the run logged, by
    * observation name.
    */
  private[graft] def runObserved(spark: SparkSession, dataDir: String,
      outDir: String): (Map[String, Long], Map[String, Map[String, Any]]) = {
    val sales = Extract.readSalesCsv(spark, s"$dataDir/sales.csv")
      .withColumn("src", lit(0))
      .withColumn("line_id", monotonically_increasing_id())
    val cleanSales = TransformSales.clean(sales).cache()
    try {
      val cleanCustomers =
        TransformCustomers.clean(Extract.readCustomersCsv(spark, s"$dataDir/customers.csv"))
      val outputs = Map(
        "clean_sales" -> Load.castForSink(cleanSales, Load.salesSinkTypes),
        "clean_customers" -> cleanCustomers,
        "sales_summary" -> Aggregates.salesSummary(cleanSales),
        "product_ranking" -> Aggregates.productRanking(cleanSales))
      val jdbc = outDir.startsWith("jdbc:")
      if (jdbc) retry()(() => java.sql.DriverManager.getConnection(outDir).close())
      val props = new java.util.Properties()
      def write(table: String, df: DataFrame): Unit = {
        val counted = df.observe(s"rows_$table", count(lit(1)).as("rows"))
        if (jdbc) Load.reload(counted, outDir, table, props)
        else counted.write.mode("overwrite").parquet(s"$outDir/$table")
      }

      val actions = Seq[(String, () => Unit)](
        // the reference logs the avg-check table instead of loading it
        "avg_check" -> (() => Aggregates.avgCheckByRegion(cleanSales, cleanCustomers).collect()
          .foreach(r => System.err.println(s"[pipeline] avg_check: $r")))) ++
        outputs.map { case (t, df) => t -> (() => write(t, df)) }
      val (_, metrics) = Observed.capture(spark,
        Set("clean_sales_metrics", "clean_customers_metrics") ++ outputs.keySet.map(t => s"rows_$t")) {
        all(actions)
      }
      metrics.foreach { case (name, m) =>
        System.err.println(s"[pipeline] $name: $m")
      }
      (outputs.map { case (t, _) => t -> metrics(s"rows_$t")("rows").asInstanceOf[Long] }, metrics)
    } finally cleanSales.unpersist(blocking = false)
  }

  /** Runs every action at once, each on its own daemon thread named
    * `graft-pipeline-<action>`, and returns when all have ended: then
    * every thread is gone. Rethrows the first failure in `actions` order,
    * as thrown.
    */
  private def all(actions: Seq[(String, () => Unit)]): Unit = {
    val failures = new Array[Throwable](actions.size)
    val threads = actions.zipWithIndex.map { case ((name, act), i) =>
      val t = new Thread(() => try act() catch { case e: Throwable => failures(i) = e },
        s"graft-pipeline-$name")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.lift(0).getOrElse("/root/reference/data")
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline_out")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val counts = run(spark, dataDir, outDir)
      System.err.println(s"[pipeline] loaded: $counts")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"[pipeline] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
