package graft

/** Regenerates the pinned IVF centroid artifacts (`ext/IvfCentroids.scala`)
  * — run `sbt "Test/runMain graft.IvfPinGen"` and replace that file with
  * the printed source whenever the training recipe or the sf0.01
  * embeddings fixture changes. The PqPinGen device applied to the coarse
  * quantizer:
  *
  *  - `Default` is [[graft.ext.IVFIndex.build]]'s exact trained centroids
  *    on the sf0.01 embeddings table with the s4 registry parameters
  *    (nLists derived by the constant-occupancy rule → 16 at the gate
  *    corpus, seed 42, maxTrain 100k);
  *  - `EmbDup` is the same training run on the d8 dup-injected corpus
  *    ([[graft.ext.DocFixtures.embDup]], nLists = 16, seed 42).
  *
  * Training is seeded and layout-independent (the hash-filtered sample),
  * so this main is reproducible bit-for-bit; `Double.toString`
  * round-trips every IEEE double exactly, so parsing the printed source
  * restores the trained centroids bit-identically. Pinning is what makes
  * the s4 probe and the d8 keep-set ORACLE-expressible (the PqCodebook
  * discipline: quantizers are an offline-trained artifact shipped to the
  * assignment pass, not re-fit per query) — per-corpus training remains
  * the first-class library path, spec-tested in AnalyticsSpec/SketchSpec.
  */
object IvfPinGen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession(8)
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val s4 = graft.ext.IVFIndex.build(emb)
    val d8 = graft.ext.IVFIndex.build(
      graft.ext.DocFixtures.embDup(spark, dir), nLists = 16)
    def render(name: String, cs: Array[(Int, Array[Double])]): String = {
      val sb = new StringBuilder
      sb ++= s"  val $name: Array[(Int, Array[Double])] = Array(\n"
      cs.foreach { case (i, c) =>
        val vs = c.map(_.toString).mkString(", ")
        val sep = if (i == cs.length - 1) "" else ","
        sb ++= s"    $i -> Array($vs)$sep\n"
      }
      sb ++= "  )\n"
      sb.result()
    }
    val sb = new StringBuilder
    sb ++= "package graft.ext\n\n"
    sb ++= "/** GENERATED by `Test/runMain graft.IvfPinGen` -- do not hand-edit.\n"
    sb ++= "  * See IvfPinGen's scaladoc for the training provenance.\n"
    sb ++= "  */\n"
    sb ++= "object IvfCentroids {\n"
    sb ++= render("Default", s4.centroids)
    sb ++= "\n"
    sb ++= render("EmbDup", d8.centroids)
    sb ++= "}\n"
    println(sb.result())
    s4.unpersist(); d8.unpersist()
    spark.stop()
  }
}
