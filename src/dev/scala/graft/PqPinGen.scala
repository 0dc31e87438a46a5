package graft

/** Regenerates the pinned PQ codebook artifact (`ext/PqCodebook.scala`) —
  * run `sbt "Test/runMain graft.PqPinGen"` and replace that file with the
  * printed source whenever the training recipe or the sf0.01 embeddings
  * fixture changes. The artifact is
  * [[graft.ext.ProductQuantizer.train]]'s exact output on the sf0.01
  * embeddings table (m = 8, k = 16, seed 42, maxTrain 100k — the v5/s6
  * registry parameters): training is seeded
  * and layout-independent, so this main is reproducible bit-for-bit and
  * the checked-in literals are verifiable provenance, not magic numbers.
  * `Double.toString` round-trips every IEEE double exactly, so parsing
  * the printed source restores the trained codebook bit-identically.
  */
object PqPinGen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession(8)
    val emb = graft.etl.Tables.table(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val pq = graft.ext.ProductQuantizer.train(emb, m = 8, k = 16)
    val sb = new StringBuilder
    sb ++= "package graft.ext\n\n"
    sb ++= "/** GENERATED by `Test/runMain graft.PqPinGen` -- do not hand-edit.\n"
    sb ++= "  * See PqPinGen's scaladoc for the training provenance.\n"
    sb ++= "  */\n"
    sb ++= "object PqCodebook {\n"
    sb ++= "  val Default: ProductQuantizer.PQ = ProductQuantizer.PQ(Array(\n"
    pq.codebooks.zipWithIndex.foreach { case (book, i) =>
      sb ++= s"    // subspace $i\n"
      sb ++= "    Array(\n"
      book.foreach { case (j, c) =>
        val vs = c.map(_.toString).mkString(", ")
        val sep = if (j == book.length - 1) "" else ","
        sb ++= s"      $j -> Array($vs)$sep\n"
      }
      val sep = if (i == pq.codebooks.length - 1) "" else ","
      sb ++= s"    )$sep\n"
    }
    sb ++= "  ))\n"
    sb ++= "}\n"
    println(sb.result())
    spark.stop()
  }
}
