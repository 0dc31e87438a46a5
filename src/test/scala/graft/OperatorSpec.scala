package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{Extract, Load, Tables, TransformSales}
import graft.functions.RollingHash

/** Per-operator unit coverage for the semantic-gap list in SURVEY §7. */
class OperatorSpec extends SparkSpec {

  import spark.implicits._

  test("missing CSV path fails at plan time") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Extract.readSalesCsv(spark, "/tmp/graft_definitely_missing.csv")
    }
    assert(e.getMessage.contains("graft_definitely_missing"))
  }

  test("zero-byte CSV raises empty-file; header-only passes with 0 rows") {
    val dir = Files.createTempDirectory("graft_csv_tax_").toFile
    val empty = new java.io.File(dir, "empty.csv")
    empty.createNewFile()
    val e = intercept[IllegalStateException] {
      Extract.readSalesCsv(spark, empty.getAbsolutePath)
    }
    assert(e.getMessage.contains("empty file"))
    val headerOnly = new java.io.File(dir, "header.csv")
    val w = new java.io.PrintWriter(headerOnly)
    w.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category")
    w.close()
    assert(Extract.readSalesCsv(spark, headerOnly.getAbsolutePath).isEmpty)
  }

  test("structurally malformed CSV line null-pads and is kept (PERMISSIVE)") {
    val dir = Files.createTempDirectory("graft_csv_mal_").toFile
    val f = new java.io.File(dir, "sales.csv")
    val w = new java.io.PrintWriter(f)
    w.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category")
    w.println("1,C1,P1,Widget,2,9.99,2024-01-15,Tools")
    w.println("garbage-line-with-too-few-columns")
    w.close()
    val rows = Extract.readSalesCsv(spark, f.getAbsolutePath)
      .orderBy(asc_nulls_last("order_id")).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("order_id") == 1L)
    // the short line keeps its one parseable cell, nulls elsewhere
    assert(rows(1).isNullAt(rows(1).fieldIndex("order_id")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("quantity")))
  }

  test("CSV extract applies schema and contract") {
    val dir = Files.createTempDirectory("graft_csv_").toFile
    val f = new java.io.File(dir, "sales.csv")
    val w = new java.io.PrintWriter(f)
    w.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category,extra")
    w.println("1,C1,P1,Widget,2,9.99,2024-01-15,Tools,ignored")
    w.println("2,C2,P2,Gadget,not-a-number,5.00,bad-date,,x")
    w.close()
    val df = Extract.readSalesCsv(spark, f.getAbsolutePath)
    val rows = df.orderBy("order_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Int]("quantity") == 2)
    assert(rows(0).getAs[java.sql.Date]("order_date") == java.sql.Date.valueOf("2024-01-15"))
    // PERMISSIVE: malformed cells → null, row kept
    assert(rows(1).isNullAt(rows(1).fieldIndex("quantity")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("order_date")))
  }

  test("CSV missing a required header column throws and names it") {
    val dir = Files.createTempDirectory("graft_csv_missing_").toFile
    val f = new java.io.File(dir, "sales.csv")
    val w = new java.io.PrintWriter(f)
    w.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date")
    w.println("1,C1,P1,Widget,2,9.99,2024-01-15")
    w.close()
    val e = intercept[IllegalArgumentException] {
      Extract.readSalesCsv(spark, f.getAbsolutePath)
    }
    assert(e.getMessage.contains("missing required columns: category"))
  }

  test("CSV header check tolerates extras, throws sorted missing list") {
    val dir = Files.createTempDirectory("graft_csv_extras_").toFile
    val full = new java.io.File(dir, "full.csv")
    val w1 = new java.io.PrintWriter(full)
    w1.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category,extra_col")
    w1.println("1,C1,P1,Widget,2,9.99,2024-01-15,Tools,x")
    w1.close()
    // an extra column passes the check and is not read
    val df = Extract.readSalesCsv(spark, full.getAbsolutePath)
    assert(df.columns.toSeq == Extract.salesSchema.fieldNames.toSeq)
    assert(df.count() == 1)

    val partial = new java.io.File(dir, "partial.csv")
    val w2 = new java.io.PrintWriter(partial)
    w2.println("order_id,customer_id,product_id,product_name,quantity,unit_price,extra_col")
    w2.println("1,C1,P1,Widget,2,9.99,x")
    w2.close()
    val e = intercept[IllegalArgumentException] {
      Extract.readSalesCsv(spark, partial.getAbsolutePath)
    }
    // the missing ones come as a sorted list
    assert(e.getMessage.contains("missing required columns: category, order_date"))
  }

  test("CSV columns bind by header name, not position") {
    val dir = Files.createTempDirectory("graft_csv_swapped_").toFile
    val f = new java.io.File(dir, "sales.csv")
    val w = new java.io.PrintWriter(f)
    w.println("customer_id,order_id,product_id,product_name,quantity,unit_price,order_date,category")
    w.println("C7,1,P1,Widget,2,9.99,2024-01-15,Tools")
    w.close()
    val df = Extract.readSalesCsv(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Extract.salesSchema.fieldNames.toSeq)
    val rows = df.collect()
    assert(rows.length == 1)
    val row = rows(0)
    assert(row.getAs[Long]("order_id") == 1L)
    assert(row.getAs[String]("customer_id") == "C7")
  }

  test("gzip'd CSV: the header is read through the codec and columns bind by name") {
    val dir = Files.createTempDirectory("graft_csv_gz_").toFile
    val f = new java.io.File(dir, "sales.csv.gz")
    val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8"))
    w.println("category,customer_id,order_id,product_id,product_name,quantity,unit_price,order_date")
    w.println("Tools,C7,1,P1,Widget,2,9.99,2024-01-15")
    w.close()
    val rows = Extract.readSalesCsv(spark, f.getAbsolutePath).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("order_id") == 1L)
    assert(rows(0).getAs[String]("customer_id") == "C7")
    assert(rows(0).getAs[String]("category") == "Tools")
  }

  test("building a CSV source starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("graft_csv_jobs_").toFile
    val f = new java.io.File(dir, "sales.csv")
    val w = new java.io.PrintWriter(f)
    w.println("order_id,customer_id,product_id,product_name,quantity,unit_price,order_date,category")
    w.println("1,C1,P1,Widget,2,9.99,2024-01-15,Tools")
    w.close()
    // only jobs started from this thread count: the marker is a local
    // property, which every job started here carries
    val sc = spark.sparkContext
    val marker = "graft.operator-spec.no-job"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(marker, "1")
    try {
      val df = Extract.readSalesCsv(spark, f.getAbsolutePath)
      org.apache.spark.sql.graft.ListenerBusDrain(sc)
      assert(jobs.get == 0, s"${jobs.get} jobs while building the source")
      // the marker does reach jobs: the same frame's first action counts
      assert(df.count() == 1)
      org.apache.spark.sql.graft.ListenerBusDrain(sc)
      assert(jobs.get > 0)
    } finally {
      sc.setLocalProperty(marker, null)
      sc.removeSparkListener(listener)
    }
  }

  test("JSONL source applies schema, contract, and lenient parse") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl_").toFile
    val f = new java.io.File(dir, "docs.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"doc_id": 1, "text": "hello world", "extra": true}""")
    w.println("""{"doc_id": "not-a-number", "text": "still kept"}""")
    w.close()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val df = Extract.readJsonl(spark, f.getAbsolutePath, schema)
    val rows = df.orderBy(col("text")).collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "hello world")
    assert(rows(1).isNullAt(0) && rows(1).getString(1) == "still kept")
  }

  test("ORC sink/source round-trips the cleaned fact") {
    val out = Files.createTempDirectory("graft_orc_").toString + "/cs"
    val cs = Tables.dirtySales(spark, sf).limit(100)
    cs.write.mode("overwrite").orc(out)
    val back = Extract.readOrc(spark, out)
    assert(back.count() == 100)
    assert(back.schema.fieldNames.sorted.sameElements(cs.schema.fieldNames.sorted))
  }

  test("dedup keeps the src-0 row's non-key columns (keep='first' parity)") {
    val dirty = Seq(
      (1L, 1, 10L, "Original", Some("T"), 2, "5.00", Some("2024-01-01"), Some(1L), 0),
      (1L, 1, 10L, "Mutant", Some("T"), 2, "5.00", Some("2024-01-01"), Some(1L), 1))
      .toDF("order_id", "line_id", "product_id", "product_name", "category",
        "quantity", "unit_price_s", "order_date_s", "customer_id", "src")
      .withColumn("unit_price", col("unit_price_s").cast("decimal(12,2)"))
      .withColumn("order_date", col("order_date_s").cast("date"))
    val out = TransformSales.clean(dirty).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("product_name") == "Original")
  }

  test("try_divide by zero coalesces to 0 (A6 safe ratio)") {
    val r = spark.range(1)
      .select(coalesce(try_divide(lit(6.0), lit(0)), lit(0.0)).as("x"))
      .head().getDouble(0)
    assert(r == 0.0)
  }

  test("email regex matches the reference pattern semantics") {
    val cases = Seq(
      "user@example.com" -> true,
      "u.ser-x_1@sub.domain.org" -> true,
      "no-at-sign.example.com" -> false,
      "bad@domain" -> false,
      "" -> false)
    val df = cases.map(_._1).toDF("email")
      .select(col("email"), coalesce(col("email"), lit(""))
        .rlike(TransformCustomersPattern).as("v"))
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (e, exp) => assert(got(e) == exp, s"email '$e'") }
  }
  private val TransformCustomersPattern = graft.etl.TransformCustomers.emailPattern

  test("rolling_hash expression: codegen matches interpreted and spec") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 131 + (b & 0xff)) % 1000000007L)
    val inputs = Seq("", "a", "hello world", "the quick brown fox")
    val got = inputs.toDF("t")
      .select(RollingHash.rolling_hash(col("t")).as("h"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == inputs.map(ref))
    // SQL path: GraftExtensions installs rolling_hash in every session
    val viaSql = spark.sql("SELECT rolling_hash('hello world')").head().getLong(0)
    assert(viaSql == ref("hello world"))
  }

  test("upsert SQL string (K5)") {
    val sql = Load.upsertSql("customers", "customer_id",
      Seq("customer_id", "name", "region"))
    assert(sql.contains("ON CONFLICT (customer_id) DO UPDATE SET"))
    assert(sql.contains("name = EXCLUDED.name, region = EXCLUDED.region"))
  }

  test("fill-then-group yields no null keys (property over testdata)") {
    val grouped = TransformSales.clean(Tables.dirtySales(spark, sf))
      .groupBy("category").count()
    assert(grouped.filter(col("category").isNull).count() == 0)
  }

  test("exact dedup is idempotent (property over testdata)") {
    val docs = Tables.table(spark, sf, "documents").select("doc_id", "text")
    val once = graft.ext.Dedup.exact(docs)
    val docsAgain = docs.join(once, "doc_id")
    assert(graft.ext.Dedup.exact(docsAgain).count() == once.count())
  }
}
