package graft

/** Time a single registered query in isolation (same session config as
  * [[Bench]]): `sbt "Test/runMain graft.BenchOne <name> [iters] [sfDir]"`.
  * Prints one line per iteration — iteration 1 includes codegen/JIT
  * cold-start, later ones show the warm cost, so a cold-vs-warm gap
  * localizes compile-time versus plan-time regressions without a full
  * registry sweep.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: BenchOne <query> [iters] [sfDir]"))
    val iters = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // shared harness-contract default (r14 ADVICE: this file carried its
    // own copy of the literal — the exact drift class behind the
    // local[4] phantom)
    val cpus = Bench.resolvedCpus
    val spark = LocalSession(cpus.toInt)
    System.err.println(s"[bench-one] master=local[$cpus] box_cores=" +
      Runtime.getRuntime.availableProcessors)
    val fn = SparkEntry.queries(name)
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      // protocol v2 (r15): run the query's own plan — see Bench.scala
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      println(f"$name iter=$i ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
    }
    spark.stop()
  }
}
