package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.SparkException
import org.apache.spark.sql.CacheEntries
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, count, when}
import org.apache.spark.sql.graft.ListenerBusDrain

import graft.etl.{Extract, Load, Pipeline}

/** One-command pipeline: the four loaded outputs exist with plausible
  * shapes, a JDBC re-run truncate-reloads rather than appends, and the
  * orchestration behaviors (bounded retry, exhausted-retry failure) hold.
  * The end-to-end test runs over the reference's own CSV inputs, so it
  * runs only where the reference checkout is present (canceled, naming
  * the missing file, elsewhere). The JDBC-branch, parquet-branch and
  * CacheManager tests run on the spec's own `writeCsvs` input, so they
  * run everywhere.
  */
class PipelineSpec extends SparkSpec {

  /** The reference checkout's CSV directory (not part of this repo). */
  private val referenceData = "/root/reference/data"

  test("pipeline runs the reference CSVs end-to-end into four outputs") {
    for (f <- Seq("sales.csv", "customers.csv")) {
      val csv = new java.io.File(referenceData, f)
      assume(csv.isFile, s"reference CSV absent: $csv")
    }
    val out = Files.createTempDirectory("graft_pipeline_").toString
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val counts = Pipeline.run(spark, referenceData, out)
    // a completed run leaves no net persisted blocks (the cleanSales
    // cache is dropped when the run returns)
    assert(spark.sparkContext.getPersistentRDDs.keySet == blocksBefore,
      "pipeline run leaked persisted blocks")
    assert(counts.keySet == Set("clean_sales", "clean_customers",
      "sales_summary", "product_ranking"))
    assert(counts("clean_sales") > 0 && counts("clean_sales") <= 200,
      s"clean sales should keep <= the 200 raw rows: $counts")
    assert(counts("clean_customers") > 0 && counts("clean_customers") <= 50)
    assert(counts("product_ranking") == 5, s"top-5 ranking: $counts")
    assert(counts("sales_summary") > 0)
    // the sink really has the four parquet tables with the sink-cast schema
    val sales = spark.read.parquet(s"$out/clean_sales")
    assert(sales.count() == counts("clean_sales"))
    assert(sales.schema("unit_price").dataType.typeName.startsWith("decimal"))
    val ranking = spark.read.parquet(s"$out/product_ranking")
    assert(ranking.columns.toSet == Set("product_id", "product_name",
      "total_sold", "total_revenue", "rank_position"))
    assert(ranking.collect().map(_.getAs[Long]("rank_position")).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L))
  }

  /** A small sales.csv (40 distinct orders plus 6 repeated lines for the
    * dedup, over 7 products) and customers.csv (5 customers) in a fresh
    * directory: the input of the JDBC-branch, parquet-branch and
    * CacheManager tests. With `noCustomerId` every sales line leaves its
    * `customer_id` empty, so cleaning drops them all. With `dirt` some
    * sales lines leave `customer_id`, `order_date` or `category` empty and
    * one customer its `region`.
    */
  private def writeCsvs(dir: java.io.File, noCustomerId: Boolean = false,
      dirt: Boolean = false): Unit = {
    def blank(i: Int, every: Int, v: String) = if (dirt && i % every == 0) "" else v
    val sales = new java.io.PrintWriter(new java.io.File(dir, "sales.csv"))
    sales.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category")
    val lines = (1 to 40).map { i =>
      val customer = if (noCustomerId) "" else blank(i, 9, s"C${i % 5}")
      val date = blank(i, 6, f"2024-01-${1 + i % 28}%02d")
      f"$i,$customer,P${i % 7},Item${i % 7},${1 + i % 3},${10 + i % 4}.50,$date,${blank(i, 4, s"Cat${i % 3}")}"
    }
    (lines ++ lines.take(6)).foreach(sales.println)
    sales.close()
    val customers = new java.io.PrintWriter(new java.io.File(dir, "customers.csv"))
    customers.println("customer_id,customer_name,email,registration_date,region")
    (0 until 5).foreach(c =>
      customers.println(s"C$c,Name $c,c$c@example.com,2023-0${1 + c}-15,${blank(c + 1, 5, s"R${c % 2}")}"))
    customers.close()
  }

  /** Runs `body` with `l` registered, and returns once `l` has seen every
    * event of `body`.
    */
  private def listening(l: SparkListener)(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Shuffle map stages run and shuffle bytes written while `body` runs. */
  private def shuffleWork(body: => Unit): (Int, Long) = {
    val stages = new AtomicInteger
    val bytes = new AtomicLong
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten)
          .filter(_ > 0).foreach { w => stages.incrementAndGet(); bytes.addAndGet(w) }
    })(body)
    (stages.get, bytes.get)
  }

  /** A root SQL execution: its call-site description, whether it writes
    * files, its start and end times (ms) and the jobs it ran.
    */
  private case class Execution(description: String, writes: Boolean,
      start: Long, end: Long, jobs: Int)

  /** The root SQL executions that ran the jobs of `body`, and how many of
    * its jobs ran outside any SQL execution.
    */
  private def rootExecutions(body: => Unit): (Seq[Execution], Int) = {
    val starts = new ConcurrentHashMap[Long, SparkListenerSQLExecutionStart]()
    val ends = new ConcurrentHashMap[Long, Long]()
    val jobExecutions = new ConcurrentLinkedQueue[Option[Long]]()
    listening(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => starts.put(s.executionId, s)
        case s: SparkListenerSQLExecutionEnd => ends.put(s.executionId, s.time)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecutions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong))
    })(body)
    val jobs = jobExecutions.asScala.toSeq
    val roots = jobs.flatten.map(id => starts.get(id).rootExecutionId.getOrElse(id))
    val executions = roots.groupBy(identity).toSeq.sortBy(_._1).map { case (id, js) =>
      val s = starts.get(id)
      Execution(s.description, s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"),
        s.time, ends.get(id), js.size)
    }
    (executions, jobs.count(_.isEmpty))
  }

  test("Pipeline.run leaves no CacheManager entry; a second run redoes the dedup shuffle") {
    // the cleaned-sales cache: a registered entry whose blocks the scope
    // dropped would be planned into the next run as a stale relation,
    // which skips the dedup shuffle (its old map outputs still exist)
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val entries = CacheEntries.count(spark)
    def run(): (Int, Long) = shuffleWork {
      val out = Files.createTempDirectory("graft_pipeline_").toString
      assert(Pipeline.run(spark, data.getPath, out)("clean_sales") == 40)
      assert(CacheEntries.count(spark) == entries,
        "a CacheManager entry outlived Pipeline.run")
    }
    val first = run()
    val second = run()
    assert(first._1 > 0)
    assert(second == first,
      s"second run (shuffle stages, bytes) $second vs first $first")
  }

  test("Pipeline.run counts ride the parquet writes: no job after the last write") {
    // the counts come from each write's observe() metric, not from a
    // count() job per output after the writes, and building the sources
    // runs no header probe. The avg-check collect runs beside the writes
    // and may end after them, so "no job after the last write" is checked
    // as membership: every job of the run belongs to one of the five
    // output actions' root SQL executions
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val out = Files.createTempDirectory("graft_pipeline_").toString
    var counts = Map.empty[String, Long]
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (executions, orphanJobs) = rootExecutions { counts = Pipeline.run(spark, data.getPath, out) }
    assert(spark.sparkContext.getPersistentRDDs.keySet == blocksBefore,
      "pipeline run leaked persisted blocks")
    assert(counts.keySet == Set("clean_sales", "clean_customers",
      "sales_summary", "product_ranking"))
    counts.foreach { case (table, n) =>
      assert(spark.read.parquet(s"$out/$table").count() == n, s"$table: rows read back vs reported count")
    }
    assert(orphanJobs == 0, s"$orphanJobs jobs ran outside any SQL execution")
    val (writes, others) = executions.partition(_.writes)
    assert(writes.size == 4 && others.size == 1 && others.head.description.startsWith("collect at"),
      s"the run's jobs belong to: ${executions.mkString("; ")}")
  }

  test("Pipeline.run output executions overlap") {
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val out = Files.createTempDirectory("graft_pipeline_").toString
    val (executions, _) = rootExecutions { Pipeline.run(spark, data.getPath, out) }
    assert(executions.size == 5, s"${executions.mkString("; ")}")
    val overlapping = executions.combinations(2).exists { case Seq(a, b) =>
      a.start < b.end && b.start < a.end
    }
    assert(overlapping, s"no two output executions were in flight at once: ${executions.mkString("; ")}")
  }

  test("Pipeline.run's observed null counts equal the input's, with its five actions concurrent") {
    // four actions read the cleaned-sales cache and two the customers
    // branch; each reports its plan's observe() metrics, and the run
    // keeps the last-delivered value
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data, dirt = true)
    def nulls(df: org.apache.spark.sql.DataFrame, cols: String*): Map[String, Any] = {
      val row = df.agg(count(when(col(cols.head).isNull, 1)),
        cols.tail.map(c => count(when(col(c).isNull, 1))): _*).head()
      cols.zipWithIndex.map { case (c, i) => s"null_$c" -> row.getLong(i) }.toMap
    }
    val expected = Map(
      "clean_sales_metrics" -> nulls(Extract.readSalesCsv(spark, s"$data/sales.csv"),
        "order_date", "customer_id", "category"),
      "clean_customers_metrics" -> nulls(Extract.readCustomersCsv(spark, s"$data/customers.csv"),
        "customer_id", "region"))
    assert(expected("clean_sales_metrics").values.forall(_ != 0L) &&
      expected("clean_customers_metrics")("null_region") != 0L, s"fixture has no dirt: $expected")
    for (rep <- 1 to 3) {
      val out = Files.createTempDirectory("graft_pipeline_").toString
      val (_, metrics) = Pipeline.runObserved(spark, data.getPath, out)
      assert(metrics.filter { case (k, _) => expected.contains(k) } == expected, s"rep $rep")
    }
  }

  /** `SELECT COUNT(*) FROM <from>` in the database at `url`. */
  private def dbCount(url: String, from: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $from")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  private def derbyUrl(): String = s"jdbc:derby:memory:pipedb${System.nanoTime()};create=true"

  test("pipeline jdbc branch loads four tables into an embedded DB") {
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val url = derbyUrl()
    val counts = Pipeline.run(spark, data.getPath, url)
    counts.foreach { case (table, n) =>
      assert(dbCount(url, table) == n, s"$table: db rows vs reported count")
    }
    assert(counts("product_ranking") == 5)
  }

  test("pipeline jdbc re-run truncate-reloads: counts stable, table DDL kept") {
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val url = derbyUrl()
    // a column Spark would not create: it survives only if the reload
    // truncates the table instead of dropping and re-creating it
    Load.applyDdl(url, "", "",
      """CREATE TABLE product_ranking (product_id VARCHAR(40), product_name VARCHAR(200),
        |total_sold BIGINT, total_revenue DOUBLE, rank_position BIGINT,
        |note VARCHAR(10) DEFAULT 'kept')""".stripMargin)
    val first = Pipeline.run(spark, data.getPath, url)
    val second = Pipeline.run(spark, data.getPath, url)
    assert(second == first, s"second run reported $second vs first $first")
    second.foreach { case (table, n) =>
      assert(dbCount(url, table) == n, s"$table: db rows after two runs vs reported count")
    }
    assert(dbCount(url, "product_ranking WHERE note = 'kept'") == 5,
      "product_ranking lost its extra column or its default")
  }

  test("pipeline jdbc branch leaves empty outputs as existing empty tables") {
    // every sales line lacks customer_id, so cleaning drops them all
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data, noCustomerId = true)
    val url = derbyUrl()
    val counts = Pipeline.run(spark, data.getPath, url)
    assert(counts == Map("clean_sales" -> 0L, "clean_customers" -> 5L,
      "sales_summary" -> 0L, "product_ranking" -> 0L), s"$counts")
    counts.foreach { case (table, n) =>
      assert(dbCount(url, table) == n, s"$table: db rows vs reported count")
    }
  }

  test("a failing output fails the run with its own exception; no thread or cache outlives it") {
    val data = Files.createTempDirectory("graft_pipeline_csv_").toFile
    writeCsvs(data)
    val url = derbyUrl()
    // the reload truncates and keeps this DDL, so every insert misses the
    // NOT NULL column: the product_ranking write fails
    Load.applyDdl(url, "", "",
      """CREATE TABLE product_ranking (product_id VARCHAR(40), product_name VARCHAR(200),
        |total_sold BIGINT, total_revenue DOUBLE, rank_position BIGINT,
        |note VARCHAR(10) NOT NULL)""".stripMargin)
    val blocksBefore = spark.sparkContext.getPersistentRDDs.keySet
    val entries = CacheEntries.count(spark)
    val e = intercept[SparkException](Pipeline.run(spark, data.getPath, url))
    assert(e.getMessage.contains("NOTE"), e.getMessage)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-pipeline-"))
    assert(alive.isEmpty, s"threads outlived the run: ${alive.map(_.getName)}")
    assert(spark.sparkContext.getPersistentRDDs.keySet == blocksBefore,
      "failed run leaked persisted blocks")
    assert(CacheEntries.count(spark) == entries, "a CacheManager entry outlived the failed run")
  }

  test("retry probe retries to success and fails fast when exhausted") {
    var calls = 0
    val got = Pipeline.retry(maxRetries = 5, delayMs = 1) { () =>
      calls += 1
      if (calls < 3)
        throw new java.sql.SQLTransientConnectionException("not ready")
      else 42
    }
    assert(got == 42 && calls == 3)

    var failCalls = 0
    val e = intercept[java.sql.SQLException] {
      Pipeline.retry(maxRetries = 3, delayMs = 1) { () =>
        failCalls += 1
        throw new java.sql.SQLNonTransientConnectionException("db down")
      }
    }
    assert(failCalls == 3 && e.getMessage == "db down")
  }

  test("retry rethrows permanent failures immediately (no backoff burn)") {
    // bad credentials / SQL syntax are not connection failures: the probe
    // must fail on the FIRST attempt, not after maxRetries * delayMs
    var calls = 0
    val e = intercept[RuntimeException] {
      Pipeline.retry(maxRetries = 10, delayMs = 10000) { () =>
        calls += 1
        sys.error("syntax error at or near")
      }
    }
    assert(calls == 1, s"permanent failure retried $calls times")
    assert(e.getMessage.contains("syntax error"))
    // SQLSTATE class 08 (connection exception) IS retryable even via the
    // generic SQLException type most drivers throw
    assert(Pipeline.connectionFailure(
      new java.sql.SQLException("conn refused", "08001")))
    assert(!Pipeline.connectionFailure(
      new java.sql.SQLException("bad password", "28P01")))
  }
}
