package graft.etl

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** CSV sources with the reference's schema contracts — SURVEY §2a.
  *
  * The reference infers CSV types (`pd.read_csv`, `etl/extract.py:42`) with
  * date-parse hints and a presence-only column contract
  * (`etl/extract.py:53-61`). We declare explicit StructTypes instead
  * (deterministic types matter for the oracle harness, SURVEY §1) and
  * replicate the presence check: required column *names* must exist in the
  * file's header, extra and reordered columns are tolerated, missing ones
  * raise with the sorted missing list (reference sorts:
  * `etl/extract.py:54`), and columns bind by name, as pandas binds them.
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

  val salesRequired: Set[String] = salesSchema.fieldNames.toSet

  /** customers.csv contract — reference `etl/extract.py:24-30` + `db.sql:17-25`.
    * The registration date stays text: the lenient coerce-to-null parse
    * belongs to the Transform stage (`errors="coerce"`, reference
    * `etl/transform.py:63-69`), so Extract must not pre-parse it.
    */
  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("customer_name", StringType),
    StructField("email", StringType),
    StructField("registration_date", StringType),
    StructField("region", StringType)))

  val customersRequired: Set[String] = customersSchema.fieldNames.toSet

  private def requirePresent(present: Seq[String], required: Set[String],
      what: String): Unit = {
    val missing = (required -- present).toSeq.sorted
    require(missing.isEmpty,
      s"$what: missing required columns: ${missing.mkString(", ")}")
  }

  /** S1 generic CSV scan. `mode=PERMISSIVE` + nullable schema mirrors the
    * reference's lenient parse (malformed cells → null, row kept unless a
    * later cleaning step drops it).
    *
    * Columns bind by header name, not position: Spark's reader applies a
    * user schema positionally and ignores the header's names, so the
    * header is read first and the schema laid over it in the file's own
    * column order (columns the schema does not name read as strings and
    * are dropped); the result has `schema`'s columns in `schema`'s order.
    *
    * Error taxonomy (reference `etl/extract.py:44-52`):
    *  - missing path → AnalysisException at plan time (≈ FileNotFoundError);
    *  - file without even a header line → IllegalStateException
    *    (≈ pandas EmptyDataError on a zero-byte file); a header-only file
    *    passes with 0 rows, as in pandas;
    *  - a `required` name absent from the header → IllegalArgumentException
    *    with the sorted missing list;
    *  - malformed rows → null cells, row kept (PERMISSIVE).
    *
    * The header is read on the driver: `spark.read.text` only resolves the
    * path (listing, no job), and the first line of the first of its sorted
    * input files is read through Hadoop's FileSystem, decompressed by the
    * codec its extension names. So the probe is O(1) at any file size and
    * building the source starts no Spark job.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      required: Set[String], what: String): DataFrame = {
    val header = spark.read.text(path).inputFiles.sorted.headOption
      .flatMap(firstLine(spark, _))
      .getOrElse(throw new IllegalStateException(s"$what: empty file: $path"))
    val names = headerNames(header)
    requirePresent(names, required, what)
    val declared = schema.fields.map(f => f.name -> f).toMap
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("dateFormat", "yyyy-MM-dd")
      .schema(StructType(names.map(n => declared.getOrElse(n, StructField(n, StringType)))))
      .csv(path)
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** The first line of `file` (a URI as `inputFiles` gives it), or None
    * when the file is empty.
    */
  private def firstLine(spark: SparkSession, file: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(new URI(file))
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    try Option(reader.readLine()) finally reader.close()
  }

  /** Column names of a CSV header line, split by the same parser settings
    * Spark's CSV reader uses (quotes, escapes); a leading byte-order mark
    * is dropped and an empty cell is named `_c<i>`, as Spark names it.
    */
  private def headerNames(line: String): Seq[String] = {
    val settings = new CSVOptions(Map.empty[String, String], false, "UTC").asParserSettings
    new CsvParser(settings).parseLine(line.stripPrefix("\uFEFF")).toSeq.zipWithIndex
      .map { case (n, i) => Option(n).getOrElse(s"_c$i") }
  }

  /** JSON-lines source with explicit schema — the interchange format LLM
    * corpora actually arrive in. JSON lines carry no header, so a field
    * absent from the data reads as null. PERMISSIVE mode: malformed lines
    * → nulls, row kept (mirrors the CSV policy). Splittable for
    * uncompressed files like CSV.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("mode", "PERMISSIVE").schema(schema).json(path)

  /** ORC source — same lazy-scan properties as parquet (column pruning,
    * predicate pushdown, vectorized read); schema comes from the footer.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4 — reference `read_sales_csv` (`etl/extract.py:67-73`). */
  def readSalesCsv(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, salesSchema, salesRequired, "sales")

  /** S5 — reference `read_customers_csv` (`etl/extract.py:76-82`): the
    * registration date arrives as `registration_raw` text, the column
    * [[TransformCustomers.clean]] parses.
    */
  def readCustomersCsv(spark: SparkSession, path: String): DataFrame =
    readCsv(spark, path, customersSchema, customersRequired, "customers")
      .withColumnRenamed("registration_date", "registration_raw")
}
