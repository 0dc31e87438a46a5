package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.ext.{Dedup, DocFixtures}

/** The near-dup candidate pipeline over the per-document fingerprint index
  * (`Dedup.fingerprintIndex`): the same pairs and bit-identical scores as
  * exact Jaccard over the string shingles, well-typed results on degenerate
  * corpora, and the bytes it persists against the string index.
  */
class NearDupIndexSpec extends SparkSpec {

  import spark.implicits._

  /** The sf0.01 fixture scale, beside the suites' default one. */
  private lazy val gate = s"${new java.io.File(sf).getParent}/sf0.01"

  /** doc_id → distinct n-gram shingle strings, from the string index. */
  private def stringShingles(docs: DataFrame, n: Int): Map[Long, Set[String]] =
    Dedup.shingleIndex(docs, n).collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(_.getString(1)).toSet }

  /** Plain-Scala (id1 < id2, |A∩B|, |A|, |B|) for every pair sharing a
    * shingle, with shingles in more than `dfMax` documents dropped first.
    */
  private def scored(sets0: Map[Long, Set[String]],
      dfMax: Option[Int] = None): Seq[(Long, Long, Long, Long, Long)] = {
    val postings = sets0.toSeq
      .flatMap { case (d, ss) => ss.toSeq.map(_ -> d) }
      .groupBy(_._1).map { case (sh, ds) => sh -> ds.map(_._2).sorted }
    val kept = postings.filter { case (_, ds) => dfMax.forall(ds.size <= _) }
    val sets = sets0.map { case (d, ss) => d -> ss.count(kept.contains).toLong }
    kept.values.toSeq
      .flatMap(ds => for (i <- ds.indices; j <- i + 1 until ds.size) yield (ds(i), ds(j)))
      .groupBy(identity).toSeq
      .map { case ((a, b), hits) => (a, b, hits.size.toLong, sets(a), sets(b)) }
  }

  /** Doubles as raw bits, so set equality is bit-identity. */
  private def bits(rows: Iterable[(Long, Long, Double)]): Set[(Long, Long, Long)] =
    rows.map { case (a, b, x) => (a, b, java.lang.Double.doubleToRawLongBits(x)) }.toSet

  private def jaccardRef(s: Seq[(Long, Long, Long, Long, Long)], tau: Double) =
    s.map { case (a, b, i, n1, n2) => (a, b, i.toDouble / (n1 + n2 - i)) }
      .filter(_._3 >= tau)

  private def containmentRef(s: Seq[(Long, Long, Long, Long, Long)], tau: Double) =
    s.flatMap { case (a, b, i, n1, n2) =>
      Seq((a, b, i.toDouble / n1), (b, a, i.toDouble / n2)) }
      .filter(_._3 >= tau)

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def schemaOf(df: DataFrame): Seq[(String, DataType)] =
    df.schema.map(f => f.name -> f.dataType)

  test("fingerprint index: 7-gram Jaccard pairs equal exact string-shingle Jaccard, bit for bit") {
    val docs = DocFixtures.docsNear(spark, gate)
    val sets = stringShingles(docs, 7)
    val want = jaccardRef(scored(sets), 0.5)
    val got = triples(Dedup.ngramJaccardPairs(docs, n = 7, threshold = 0.5))
    assert(want.size >= 50, s"fixture has too few near-copies: ${want.size}")
    assert(bits(got) == bits(want) && got.size == want.size)
    // the df-capped path keeps its keep-join over the fingerprint keys
    val wantCapped = jaccardRef(scored(sets, Some(2)), 0.5)
    val gotCapped = triples(
      Dedup.ngramJaccardPairs(docs, n = 7, threshold = 0.5, dfMax = Some(2)))
    assert(bits(gotCapped) == bits(wantCapped) && gotCapped.size == wantCapped.size)
  }

  test("ngramJaccardPairs / containmentPairs: degenerate corpora give well-typed results") {
    val corpora = Seq(
      "empty" -> (Seq.empty[(Long, String)], Set.empty[(Long, Long)]),
      "one document" ->
        (Seq(1L -> "one two three four five six seven eight"), Set.empty[(Long, Long)]),
      // each shorter doc is one whole-text pseudo-shingle
      "all shorter than n" ->
        (Seq(1L -> "alpha beta", 2L -> "alpha", 3L -> "alpha beta"), Set(1L -> 3L)),
      "empty text" -> (Seq(1L -> "", 2L -> "", 3L -> "gamma"), Set(1L -> 2L)))
    for ((name, (rows, pairs)) <- corpora) {
      val docs = rows.toDF("doc_id", "text")
      val ref = scored(stringShingles(docs, 7))
      val jac = Dedup.ngramJaccardPairs(docs, n = 7, threshold = 0.5)
      assert(schemaOf(jac) ==
        Seq("id1" -> LongType, "id2" -> LongType, "jaccard" -> DoubleType), name)
      val gotJ = triples(jac)
      assert(bits(gotJ) == bits(jaccardRef(ref, 0.5)), name)
      assert(gotJ.map(t => t._1 -> t._2).toSet == pairs, name)
      val cont = Dedup.containmentPairs(docs, n = 7, threshold = 0.5)
      assert(schemaOf(cont) == Seq("inner_id" -> LongType,
        "outer_id" -> LongType, "containment" -> DoubleType), name)
      assert(bits(triples(cont)) == bits(containmentRef(ref, 0.5)), name)
    }
  }

  test("fingerprint index: the near-dup call persists at most 1/4 of the string index's bytes") {
    val docs = DocFixtures.docsNear(spark, gate)
    // in-memory bytes of the RDD blocks persisted while `body` runs;
    // every block is dropped afterwards (`docs` is plain lineage, so the
    // second measurement recomputes it)
    def persistedBytes(body: => Unit): Long = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try {
        body
        spark.sparkContext.getRDDStorageInfo
          .filter(i => !before(i.id)).map(_.memSize).sum
      } finally CacheScope.dropAll(spark)
    }
    // the string index as the pair pipeline used to materialize it
    val stringIndex = persistedBytes(Dedup.shingleIndex(
      PartitionOps.repartitionBeforeFanout(docs, col("doc_id")), 7)
      .localCheckpoint().count())
    val pairCall = persistedBytes(
      Dedup.ngramJaccardPairs(docs, n = 7, threshold = 0.5).count())
    info(s"persisted in memory: string index $stringIndex B, " +
      s"ngramJaccardPairs $pairCall B")
    assert(pairCall > 0)
    assert(pairCall * 4 <= stringIndex,
      s"fingerprint index $pairCall B vs string index $stringIndex B")
  }
}
