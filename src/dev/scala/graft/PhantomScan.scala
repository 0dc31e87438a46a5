package graft

/** Dev diagnostic (r15): for every registry query, compare the
  * optimized plan of the query itself against the optimized plan of
  * `df.groupBy().count()` and report queries where counting ELIMINATES
  * joins/windows/generates. Any such query is mis-measured by a
  * count()-based timing harness — Catalyst prunes Window nodes whose
  * expressions are unreferenced, drops LEFT joins to unique-keyed
  * children, and prunes window columns that feed only un-demanded
  * aggregate expressions. The r15 scan flagged ~50 queries (the a46
  * C/D spine being the pathological case: a non-terminating operator
  * timed 1.01 s), which is why Bench/BenchOne/ScaleProbe execute
  * `queryExecution.toRdd` instead (protocol v2). Re-run after adding
  * operators if any timing path ever counts again:
  * `sbt "Test/runMain graft.PhantomScan /root/testdata/sf0.001"`.
  * Exits 1 if any query failed to build or plan (each printed as `ERR`).
  */
object PhantomScan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    def nodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        kind: String): Int =
      p.collect { case n if n.nodeName.toLowerCase.contains(kind) => n }.size
    val errored = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("st")).filterNot { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val full = df.queryExecution.optimizedPlan
        val cnt = df.groupBy().count().queryExecution.optimizedPlan
        val dJoin = nodes(full, "join") - nodes(cnt, "join")
        val dWin = nodes(full, "window") - nodes(cnt, "window")
        val dGen = nodes(full, "generate") - nodes(cnt, "generate")
        if (dJoin > 0 || dWin > 0 || dGen > 0)
          println(s"PHANTOM? $name: count() drops joins=$dJoin windows=$dWin generates=$dGen")
        true
      } catch { case e: Throwable =>
        println(s"ERR $name ${String.valueOf(e.getMessage).take(60)}")
        false
      }
    }
    println(s"SCAN DONE (${errored.size} errored)")
    spark.stop()
    if (errored.nonEmpty) sys.exit(1)
  }
}
