package graft

/** Dev tool (not part of the driver contract): dump `explain("formatted")`
  * for registry queries to `<outDir>/<query>_<suffix>.txt`, for
  * before/after plan diffs and for re-dumping PLANS.md's excerpts. Run:
  * `sbt "Test/runMain graft.PlanOne <outDir> <suffix> [query…]"`,
  * e.g. `sbt "Test/runMain graft.PlanOne /tmp/plans before d11b_edit_verify_banded"`.
  * With no query names it dumps [[showcased]].
  * Uses the Bench session shape (local[cpus], shuffle.partitions=cpus) so
  * the dumped plan is the one the bench actually executes. sfDir via
  * SPARK_GRAFT_SF_DIR (default sf0.01 — plan SHAPE is scale-invariant;
  * the fixtures only size AQE estimates).
  */
object PlanOne {

  /** The queries PLANS.md annotates, in its heading order
    * (SourceLayoutSpec keeps the two equal).
    */
  val showcased: Seq[String] = Seq(
    "t13_pii_redact", "c4_domain_mix", "c7_chunk_windows", "a48_bootstrap_diff")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanOne <outDir> <suffix> [query…]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else showcased
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = Bench.resolvedCpus
    val spark = LocalSession(cpus.toInt)
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // GRAFT_PLAN_EXECUTE=1: run the plan first and dump the AQE FINAL
      // executed plan instead of the static one — the static dump shows
      // ENSURE_REQUIREMENTS exchanges over cached relations that AQE
      // elides at runtime once the cache's partitioning is known (the
      // r19 g7 audit), so runtime claims need this mode.
      val executed = sys.env.contains("GRAFT_PLAN_EXECUTE")
      if (executed) df.queryExecution.toRdd.count()
      val txt = (if (executed)
          "== Executed (AQE final) ==\n" +
            df.queryExecution.executedPlan.toString
        else df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)) +
        (if (sys.env.contains("GRAFT_PLAN_LOGICAL"))
           "\n== Optimized Logical ==\n" +
             df.queryExecution.optimizedPlan.treeString
         else "")
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
