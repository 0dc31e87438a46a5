package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftExtensions, SparkEntry}
import graft.etl.{Aggregates, Extract, Load, Pipeline, TransformCustomers, TransformSales}
import graft.ext.{Clusters, Dedup, TextAnalysis}

/** One cold run of one workflow in a fresh JVM: builds the session, runs
  * the workflow once through the library's public functions, writes its
  * outputs and a result record, and exits. `run.py` starts this main once
  * per measured run and checks the outputs afterwards.
  *
  * {{{
  * Workflow --workload etl_csv|north_star --data DIR
  *   --out DIR --cores N --trace 0|1 --t0-ns EPOCH_NS
  * }}}
  *
  * `--t0-ns` is the wall-clock instant the launcher started the JVM, so
  * `setup_s` covers JVM start, class loading and session creation.
  *
  * After a successful run, and after every figure of the run was taken,
  * the outputs are read back in a plain session (no graft extensions) and
  * written under `check/` as JSON, so that `run.py` checks them without a
  * parquet reader of its own.
  */
object Workflow {

  /** Quality gate and near-duplicate threshold of the corpus workflow;
    * `gen.py` plants documents on both sides of each with a wide margin.
    */
  val QualityMin = 3.0
  val ShingleN = 7
  val JaccardMin = 0.7

  val GraphQueryIds: Seq[String] = Seq("g2_triangle_count", "g4_pagerank",
    "g13_label_propagation", "g5_connected_components")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"e2ebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    GraftExtensions.install(spark)
    val setupS = (epochNs() - opt("t0-ns").toLong) / 1e9

    val rec = if (opt.getOrElse("trace", "0") == "1") {
      val t = new TracingRecorder(spark)
      spark.listenerManager.register(t)
      t
    } else new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val w0 = System.nanoTime()
    val outcome = Try(run(workload, rec, data, out))
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    org.apache.spark.ListenerDrain(spark.sparkContext)

    val fields = Seq[(String, String)](
      "workload" -> Json.str(workload),
      // a failure before the first recorded call is still one failed operation
      "attempted" -> (if (outcome.isSuccess) rec.attempted else rec.attempted.max(1)).toString,
      "setup_s" -> Json.num(setupS)) ++ (outcome match {
      case Success(extra) =>
        Seq("failed" -> "0",
          "wall_s" -> Json.num(wallS),
          "cpu_s" -> Json.num(cpuS),
          "peak_storage_mb" -> Json.num(rec.peakStorageBytes / 1048576.0)) ++ extra
      case Failure(e) =>
        e.printStackTrace()
        Seq("failed" -> "1", "error" -> Json.str(e.toString))
    }) ++ (rec match {
      case t: TracingRecorder =>
        writeSpans(t, s"$out/spans.json")
        Seq("layers" -> Json.arr(t.layerMetrics(cores).map { case (k, v, u) =>
          Json.obj(Seq("name" -> Json.str(k), "value" -> Json.num(v), "unit" -> Json.str(u)))
        }))
      case _ => Nil
    })
    if (outcome.isSuccess) dumpOutputs(spark, workload, out)
    write(s"$out/result.json", Json.obj(fields))
    spark.stop()
  }

  /** Runs one workflow; returns extra result fields. */
  def run(workload: String, rec: Recorder, data: String, out: String): Seq[(String, String)] =
    workload match {
      case "etl_csv" => rec match {
        case t: TracingRecorder => etlLayered(t, data, out); Nil
        case _ =>
          val counts = rec.call("etl.Pipeline", "run")(Pipeline.run(rec.spark, data, out))
          Seq("counts" -> Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }))
      }
      case "north_star" =>
        val rounds = corpusDedup(rec, data, out)
        graphBuild(rec, data, out)
        Seq("rounds" -> rounds.toString)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  /** The reference job (`Pipeline.run`) taken apart into its layers' calls,
    * in the order `Pipeline.run` makes them, for the traced run.
    */
  def etlLayered(rec: TracingRecorder, data: String, out: String): Unit = {
    val spark = rec.spark
    val sales = rec.boundary("etl.Extract", "sales", rec.call("etl.Extract", "readSalesCsv")(
      Extract.readSalesCsv(spark, s"$data/sales.csv")
        .withColumn("src", lit(0))
        .withColumn("line_id", monotonically_increasing_id())))
    // Pipeline reads customers with the registration date kept as text
    val rawSchema = StructType(Extract.customersSchema.map {
      case StructField("registration_date", _, n, m) =>
        StructField("registration_date", StringType, n, m)
      case f => f
    })
    val customers = rec.boundary("etl.Extract", "customers", rec.call("etl.Extract", "readCsv")(
      Extract.readCsv(spark, s"$data/customers.csv", rawSchema,
        Extract.customersRequired, "customers")
        .withColumnRenamed("registration_date", "registration_raw")))
    val cleanSales = rec.boundary("etl.Transform", "clean_sales",
      rec.call("etl.Transform", "TransformSales.clean")(TransformSales.clean(sales)))
    val cleanCustomers = rec.boundary("etl.Transform", "clean_customers",
      rec.call("etl.Transform", "TransformCustomers.clean")(TransformCustomers.clean(customers)))
    val summary = rec.boundary("etl.Aggregates", "sales_summary",
      rec.call("etl.Aggregates", "salesSummary")(Aggregates.salesSummary(cleanSales)))
    val ranking = rec.boundary("etl.Aggregates", "product_ranking",
      rec.call("etl.Aggregates", "productRanking")(Aggregates.productRanking(cleanSales)))
    val avgCheck = rec.call("etl.Aggregates", "avgCheckByRegion")(
      Aggregates.avgCheckByRegion(cleanSales, cleanCustomers))
    rec.action("etl.Aggregates", "avg_check.collect")(avgCheck.collect())
    val salesOut = rec.call("etl.Sink", "castForSink")(
      Load.castForSink(cleanSales, Load.salesSinkTypes))
    val outputs = Seq("clean_sales" -> salesOut, "clean_customers" -> cleanCustomers,
      "sales_summary" -> summary, "product_ranking" -> ranking)
    outputs.foreach { case (t, df) =>
      rec.action("etl.Sink", s"write:$t")(df.write.mode("overwrite").parquet(s"$out/$t"))
    }
    // Pipeline.run re-counts every output after writing it
    outputs.foreach { case (t, df) => rec.action("etl.Sink", s"count:$t")(df.count()) }
  }

  /** Quality gate → exact dedup → n-gram Jaccard pairs → components →
    * survivors. Returns the propagation rounds the components took.
    */
  def corpusDedup(rec: Recorder, data: String, out: String): Int = {
    val docs = rec.spark.read.parquet(s"$data/documents.parquet")
    val scores = rec.call("ext.TextAnalysis", "qualityScores")(TextAnalysis.qualityScores(docs))
    val gated = rec.boundary("ext.TextAnalysis", "gated", docs.join(
      scores.filter(col("quality_score") >= QualityMin).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val firsts = rec.call("ext.Dedup", "exact")(Dedup.exact(gated))
    val kept = rec.boundary("ext.Dedup", "exact_kept",
      gated.join(firsts, Seq("doc_id"), "left_semi"))
    val pairs = rec.boundary("ext.Dedup", "pairs", rec.call("ext.Dedup", "ngramJaccardPairs")(
      Dedup.ngramJaccardPairs(kept, ShingleN, JaccardMin)))
    val (components, rounds) = rec.call("ext.Clusters", "componentsWithRounds")(
      Clusters.componentsWithRounds(pairs))
    val clusters = rec.boundary("ext.Clusters", "clusters", components)
    val survivors = kept.join(
      clusters.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    rec.action("etl.Sink", "write:survivors")(survivors.write.parquet(s"$out/survivors"))
    rec.action("etl.Sink", "write:clusters")(clusters.write.parquet(s"$out/clusters"))
    rounds
  }

  /** g2 → g4 → g13 → g5 from the registry, in one session. */
  def graphBuild(rec: Recorder, data: String, out: String): Unit = {
    val registry = SparkEntry.queries
    GraphQueryIds.foreach { id =>
      val df = rec.call("GraphQueries", id)(registry(id)(rec.spark, data))
      rec.action("GraphQueries", s"write:$id")(df.write.parquet(s"$out/$id"))
    }
  }

  /** The outputs each workload's checks read, with the columns they need
    * (none: the row count only).
    */
  def checkedOutputs(workload: String): Seq[(String, Seq[String])] = workload match {
    case "etl_csv" => Seq("clean_sales" -> Nil, "clean_customers" -> Seq("is_email_valid"),
      "sales_summary" -> Seq("total_quantity", "total_sales"),
      "product_ranking" -> Seq("product_id", "rank_position"))
    case "north_star" => Seq("survivors" -> Seq("doc_id"), "clusters" -> Seq("id", "cluster"),
      "g2_triangle_count" -> Seq("part_id", "n_triangles"),
      "g4_pagerank" -> Seq("part_id", "pr"),
      "g13_label_propagation" -> Seq("part_id", "community", "comm_size"),
      "g5_connected_components" -> Seq("part_id", "component"))
    case _ => Nil
  }

  private def dumpOutputs(spark: SparkSession, workload: String, out: String): Unit = {
    val plain = spark.newSession()
    new File(s"$out/check").mkdirs()
    checkedOutputs(workload).foreach { case (name, cols) =>
      val df = plain.read.parquet(s"$out/$name")
      val rows = if (cols.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else df.select(cols.map(col): _*).collect()
      val n = if (cols.isEmpty) df.count() else rows.length.toLong
      write(s"$out/check/$name.json", Json.obj(Seq(
        "rows" -> n.toString,
        "columns" -> Json.arr(cols.map(Json.str)),
        "data" -> Json.arr(rows.toSeq.map(r => Json.arr(r.toSeq.map(Json.value)))))))
    }
  }

  private def writeSpans(t: TracingRecorder, path: String): Unit = {
    val runId = java.util.UUID.randomUUID().toString
    write(path, Json.arr(t.spans.toSeq.map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "phase" -> Json.str(s.phase),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }))
  }

  private def epochNs(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(text) finally w.close()
  }
}

/** Just enough JSON output for the result record. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case n: java.lang.Number => n.toString
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
