package graft

/** Regenerates the pinned BPE merge-table artifact
  * (`ext/BpeMerges.scala`) — run `sbt "Test/runMain graft.BpePinGen"` and
  * replace that file with the printed source whenever the training recipe
  * or the sf0.01 documents fixture changes. The artifact is
  * [[graft.ext.BpeTrainer.trainOnCounts]]'s exact output on the sf0.01
  * documents table (20 merges — the t21/c8b/c9b registry parameter):
  * training is deterministic (pinned argmax tiebreak, layout-independent
  * word counts), so the checked-in literals are verifiable provenance —
  * the shipped-tokenizer discipline (a production pipeline trains
  * merges.txt once and ships it to every encoder; it does not re-fit the
  * tokenizer per query).
  */
object BpePinGen {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession(8)
    val docs = graft.etl.Tables.table(spark, dir, "documents").select("text")
    val merges = graft.ext.BpeTrainer
      .trainOnCounts(graft.ext.BpeTrainer.collectWordCounts(docs), 20)
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""
    val sb = new StringBuilder
    sb ++= "package graft.ext\n\n"
    sb ++= "/** GENERATED by `Test/runMain graft.BpePinGen` -- do not hand-edit.\n"
    sb ++= "  * See BpePinGen's scaladoc for the training provenance.\n"
    sb ++= "  */\n"
    sb ++= "object BpeMerges {\n"
    sb ++= "  /** (left, right, merged) in rank order. */\n"
    sb ++= "  val Default: Seq[(String, String, String)] = Seq(\n"
    merges.zipWithIndex.foreach { case ((_, l, r, m, _), i) =>
      val sep = if (i == merges.length - 1) ")" else ","
      sb ++= s"    (${q(l)}, ${q(r)}, ${q(m)})$sep\n"
    }
    sb ++= "}\n"
    println(sb.result())
    spark.stop()
  }
}
