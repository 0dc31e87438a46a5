package graft

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.scalatest.BeforeAndAfterAll

/** Queries over schema-identical EMPTY tables return their real-data
  * schema: a zero denominator gives a NULL ratio (try_divide), never an
  * ANSI DIVIDE_BY_ZERO, and an operator that reads driver-side stats
  * (a46's per-category bounds, j5's bloom sketch) copes with none.
  */
class EmptyInputSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val emptyDir = {
    val d = Files.createTempDirectory("graft_empty_")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).limit(0)
        .write.parquet(s"$d/${f.getName}"))
    d.toString
  }

  override def afterAll(): Unit =
    try JavaUtils.deleteRecursively(new java.io.File(emptyDir))
    finally super.afterAll()

  private def onEmpty(q: String) = {
    val df = SparkEntry.queries(q)(spark, emptyDir)
    assert(df.schema == SparkEntry.queries(q)(spark, sf).schema, q)
    df.collect().toSeq
  }

  for (q <- Seq("b2_funnel", "b2b_funnel_window")) test(s"$q on empty tables: zero users, NULL shares") {
    val rows = onEmpty(q)
    assert(rows.map(_.getAs[Long]("stage_idx")) == Seq(1L, 2L, 3L))
    assert(rows.forall(_.getAs[Long]("n_users") == 0L))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("pct_of_first"))))
  }

  test("c24_dq_audit on empty tables: every rule over zero rows, NULL rates") {
    val rows = onEmpty("c24_dq_audit")
    assert(rows.size == 7)
    assert(rows.forall(_.getAs[Long]("n_rows") == 0L))
    assert(rows.forall(_.isNullAt(rows.head.fieldIndex("violation_rate"))))
  }

  test("a46_kendall_tau on empty tables: no categories, no rows") {
    assert(onEmpty("a46_kendall_tau").isEmpty)
  }

  test("j5_bloom_semijoin on empty tables: a sketch over zero keys keeps no rows") {
    assert(onEmpty("j5_bloom_semijoin").isEmpty)
  }
}
