package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CSV sources with the reference's schema contracts — SURVEY §2a.
  *
  * The reference infers CSV types (`pd.read_csv`, `etl/extract.py:42`) with
  * date-parse hints and a presence-only column contract
  * (`etl/extract.py:53-61`). We declare explicit StructTypes instead
  * (deterministic types matter for the oracle harness, SURVEY §1) and
  * replicate the presence check: required column *names* must exist, extra
  * columns are tolerated, missing ones raise with the sorted missing list
  * (reference sorts: `etl/extract.py:54`).
  *
  * Scale: `spark.read.csv` is splittable for uncompressed files; the
  * explicit schema avoids the extra inference pass over the data.
  */
object Extract {

  /** sales.csv contract — reference `etl/extract.py:13-22` + `db.sql:2-14`. */
  val salesSchema: StructType = StructType(Seq(
    StructField("order_id", LongType),
    StructField("customer_id", StringType),
    StructField("product_id", StringType),
    StructField("product_name", StringType),
    StructField("quantity", IntegerType),
    StructField("unit_price", DoubleType),
    StructField("order_date", DateType),
    StructField("category", StringType)))

  val salesRequired: Set[String] =
    Set("order_id", "customer_id", "product_id", "product_name",
      "quantity", "unit_price", "order_date", "category")

  /** customers.csv contract — reference `etl/extract.py:24-30` + `db.sql:17-25`. */
  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("customer_name", StringType),
    StructField("email", StringType),
    StructField("registration_date", DateType),
    StructField("region", StringType)))

  val customersRequired: Set[String] =
    Set("customer_id", "customer_name", "email", "registration_date", "region")

  /** S3 required-column validation — reference `etl/extract.py:53-61`.
    * Presence-only: extra columns pass, missing names throw with the sorted
    * list (IllegalArgumentException ≈ the reference's ValueError).
    */
  def requireColumns(df: DataFrame, required: Set[String], what: String): DataFrame = {
    val missing = (required -- df.columns.toSet).toSeq.sorted
    require(missing.isEmpty,
      s"$what: missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** S1 generic CSV scan. `mode=PERMISSIVE` + nullable schema mirrors the
    * reference's lenient parse (malformed cells → null, row kept unless a
    * later cleaning step drops it).
    *
    * Error taxonomy (reference `etl/extract.py:44-52`):
    *  - missing path → AnalysisException at plan time (≈ FileNotFoundError);
    *  - file without even a header line → IllegalStateException
    *    (≈ pandas EmptyDataError on a zero-byte file) — probed by reading
    *    at most ONE text line, so the probe stays O(1) at any file size;
    *    a header-only file passes with 0 rows, as in pandas;
    *  - malformed rows → null cells, row kept (PERMISSIVE).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      required: Set[String], what: String): DataFrame = {
    if (spark.read.text(path).limit(1).isEmpty)
      throw new IllegalStateException(s"$what: empty file: $path")
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("dateFormat", "yyyy-MM-dd")
      .schema(schema)
      .csv(path)
    requireColumns(df, required, what)
  }

  /** JSON-lines source with explicit schema + the same presence contract —
    * the interchange format LLM corpora actually arrive in. PERMISSIVE
    * mode: malformed lines → nulls, row kept (mirrors the CSV policy).
    * Splittable for uncompressed files like CSV.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
      required: Set[String], what: String): DataFrame =
    requireColumns(
      spark.read.option("mode", "PERMISSIVE").schema(schema).json(path),
      required, what)

  /** ORC source — same lazy-scan properties as parquet (column pruning,
    * predicate pushdown, vectorized read); schema comes from the footer.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4 — reference `read_sales_csv` (`etl/extract.py:67-73`). */
  def readSalesCsv(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, salesSchema, salesRequired, "sales")
}
