package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions.{col, count, sum, when}

import graft.etl.{Observed, Pipelines, Tables, TransformSales}
import graft.ext.Clusters

class ClusterAndObserveSpec extends SparkSpec {

  import spark.implicits._

  test("connected components: min-label over components, singletons excluded") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (3L, 4L))
      .toDF("id1", "id2")
    val got = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: an empty pair list gives an empty (id, cluster) frame in one round") {
    import org.apache.spark.sql.types.LongType
    val (cc, rounds) = Clusters.componentsWithRounds(
      Seq.empty[(Long, Long)].toDF("id1", "id2"))
    assert(cc.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "cluster" -> LongType))
    assert(cc.collect().isEmpty)
    // one round finds no change
    assert(rounds == 1)
  }

  test("connected components: a pair with a null end is dropped, not read as node 0") {
    val pairs = Seq((Some(2L), Some(1L)), (None, Some(3L)), (Some(3L), Some(4L)))
      .toDF("id1", "id2")
    val got = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("connected components: labels still changing at the round cap fail loudly") {
    // a 25-node path needs 24 changing rounds and a 25th to see none
    val path = (1L until 25L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException](Clusters.componentsWithRounds(path))
    assert(e.getMessage.contains("maxIters = 20"), e.getMessage)
    assert(Clusters.componentsWithRounds(path, maxIters = 25)._2 == 25)
  }

  test("observe() metrics ride the cleaning job") {
    val dirty = Tables.dirtySales(spark, sf)
    val expectedNullCat = dirty.filter($"category".isNull).count()
    val (_, metrics) = Observed.capture(spark, Set("clean_sales_metrics")) {
      TransformSales.clean(dirty).count()
    }
    val m = metrics("clean_sales_metrics")
    assert(m("null_category").asInstanceOf[Long] == expectedNullCat)
    assert(m("null_customer_id").asInstanceOf[Long] > 0)
  }

  test("observe() metrics of one cache read by four concurrent actions are complete") {
    // every reader of the cache reports its plan's accumulator; a reader
    // that ends early may report it before another reader's task filled
    // the last partition, so only the last delivery is complete
    val dirty = Tables.dirtySales(spark, sf)
    val nulls = Seq("order_date", "customer_id", "category")
    val direct = dirty.agg(count(when(col(nulls.head).isNull, 1)),
      nulls.tail.map(c => count(when(col(c).isNull, 1))): _*).head()
    val expected = nulls.zipWithIndex.map { case (c, i) => s"null_$c" -> direct.getLong(i) }.toMap
    assert(expected.values.forall(_ > 0), s"fixture has no dirt: $expected")
    for (rep <- 1 to 5) {
      val clean = TransformSales.clean(dirty).cache()
      try {
        val readers: Seq[() => Any] = Seq(
          () => clean.count(),
          () => clean.groupBy("category").count().collect(),
          () => clean.agg(sum("total_price")).collect(),
          () => clean.select("customer_id").distinct().collect())
        val (_, metrics) = Observed.capture(spark, Set("clean_sales_metrics")) {
          Await.result(Future.traverse(readers)(r => Future(r())), Duration.Inf)
        }
        assert(metrics("clean_sales_metrics") == expected, s"rep $rep")
      } finally clean.unpersist(blocking = true)
    }
  }

  test("cached pipeline returns consistent results across consumers") {
    val a = Pipelines.cleanSales(spark, sf).count()
    val b = Pipelines.cleanSales(spark, sf).count()
    assert(a == b && a > 0)
  }
}
