package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll

/** [[ScaleProbe]]: the ×2 replica is two independent universes of the
  * sf0.001 fixture, and the probe loop reports every run (and every
  * failure) of the registry queries it is given.
  */
class ScaleProbeSpec extends SparkSpec with BeforeAndAfterAll {

  private val k = 2
  private lazy val tmp = Files.createTempDirectory("graft_scale_spec_").toFile
  private lazy val rep = {
    val out = s"$tmp/sf_x$k"
    ScaleProbe.writeReplica(spark, sf, k, out)
    out
  }

  override def afterAll(): Unit =
    try JavaUtils.deleteRecursively(tmp)
    finally super.afterAll()

  private lazy val tables: Seq[String] =
    new File(sf).list().filter(_.endsWith(".parquet")).sorted.toSeq

  private def keyColumns(file: String): Seq[String] =
    spark.read.parquet(s"$sf/$file").schema.fields.collect {
      case f if f.dataType == LongType &&
          (f.name.endsWith("key") || f.name.endsWith("_id")) => f.name
    }.toSeq

  test("replica: same schemas, ×2 rows for keyed tables, ×1 for region/nation") {
    assert(tables.size == 10, tables)
    for (t <- tables) {
      val src = spark.read.parquet(s"$sf/$t")
      val out = spark.read.parquet(s"$rep/$t")
      assert(out.schema == src.schema, t)
      val factor = if (keyColumns(t).isEmpty) 1 else k
      assert(out.count() == factor * src.count(), t)
    }
    assert(tables.filter(keyColumns(_).isEmpty) == Seq("nation.parquet", "region.parquet"))
  }

  test("replica: shifted key sets are disjoint across replicas") {
    for (t <- tables; c <- keyColumns(t)) {
      def keys(dir: String) = spark.read.parquet(s"$dir/$t").select(c)
        .where(s"$c is not null").distinct().collect().map(_.getLong(0)).toSet
      val src = keys(sf)
      val shifted = src.map(_ + ScaleProbe.KeyStride)
      assert(src.nonEmpty && src.intersect(shifted).isEmpty, s"$t.$c")
      assert(keys(rep) == src ++ shifted, s"$t.$c")
    }
  }

  test("replica: d2 pairs and g2 triangles are exactly ×2 (independent universes)") {
    for (q <- Seq("d2_ngram_jaccard", "g2_triangle_count")) {
      val one = SparkEntry.queries(q)(spark, sf).count()
      assert(one > 0, q)
      assert(SparkEntry.queries(q)(spark, rep).count() == k * one, q)
    }
  }

  private val record =
    """\{"op":"(\w+)","scale":(\d+),"rows":(\d+),"sec":\d+\.\d{2}\}""".r

  test("probe loop: q1/d2/g2 at scales 1 and 2 give 6 well-formed records") {
    val names = Seq("d2_ngram_jaccard", "g2_triangle_count", "q1_sales_summary")
    val lines = Seq.newBuilder[String]
    val ok = ScaleProbe.probe(spark, SparkEntry.queries.filter(e => names.contains(e._1)),
      Seq(1 -> sf, k -> rep), lines += _)
    val got = lines.result().map {
      case record(op, scale, rows) => (op, scale.toInt, rows.toLong)
      case other => fail(s"malformed record: $other")
    }
    assert(ok)
    assert(got.map(r => (r._1, r._2)) == names.flatMap(n => Seq(n -> 1, n -> k)))
    assert(got.forall(_._3 > 0), got)
  }

  test("probe loop: a throwing query is reported and fails the run") {
    val boom: ScaleProbe.Query =
      (_, _) => throw new IllegalStateException("boom \"x\"")
    val lines = Seq.newBuilder[String]
    val ok = ScaleProbe.probe(spark, Map("zz_throws" -> boom), Seq(1 -> sf), lines += _)
    assert(!ok)
    assert(lines.result() ==
      Seq("""{"op":"zz_throws","scale":1,"error":"java.lang.IllegalStateException: boom \"x\""}"""))
  }
}
