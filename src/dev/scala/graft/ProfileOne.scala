package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (not part of the driver contract): run ONE registry query with
  * a listener that prints every job's wall time and every stage's task-time
  * sum — localizes whether a slow query is paying compute, shuffle, or
  * job-count overhead (guide §1: decide WHERE the time goes before
  * changing anything).
  * `sbt "Test/runMain graft.ProfileOne <query> [iters] [sfDir]"`.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileOne <query> [iters] [sfDir]"))
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = Bench.resolvedCpus
    val spark = LocalSession(cpus.toInt)
    // A/B knobs: GRAFT_CONF="k1=v1;k2=v2" sets extra runtime session confs
    // so a hypothesis (codegen cost, AQE stage, broadcast threshold) is
    // testable without recompiling.
    sys.env.get("GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.split('=')).filter(_.length == 2)
      .foreach(kv => spark.conf.set(kv(0).trim, kv(1).trim))
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(je.jobId)).foreach { case (t0, desc) =>
          val s = (System.nanoTime() - t0) / 1e9
          println(f"    job ${je.jobId}%3d ${s}%7.3f s  $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = si.taskMetrics.executorRunTime / 1e3
        if (run > 0.2) {
          val tm = si.taskMetrics
          println(f"      stage ${si.stageId}%3d tasks=${si.numTasks}%3d " +
            f"taskTime=${run}%7.2f s  in=${tm.inputMetrics.recordsRead} " +
            f"shRead=${tm.shuffleReadMetrics.recordsRead} " +
            f"shWrite=${tm.shuffleWriteMetrics.recordsWritten} " +
            f"cpu=${tm.executorCpuTime / 1e9}%5.2f  ${si.name.take(46)}")
          println("        rdds: " + si.rddInfos.map(r =>
            s"${r.id}:${r.name}").mkString(" <- ").take(300))
          if (run > 1.0)
            println("        details: " + si.details.linesIterator
              .filter(l => l.contains("graft") || l.contains("Dedup") ||
                l.contains("exchange") || l.contains("Exec"))
              .take(8).mkString(" | ").take(600))
        }
      }
    })
    // In-process sampling profiler: 50 ms stack samples of executor task
    // threads, histogrammed by the deepest graft/spark frames — answers
    // "what is the CPU actually doing" without external tooling.
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val stacks = Thread.getAllStackTraces
        stacks.forEach { (t, fr) =>
          if (t.getName.startsWith("Executor task launch") &&
              t.getState == Thread.State.RUNNABLE && fr.nonEmpty) {
            val sig = fr.iterator.map(_.toString)
              .filter(f => !f.startsWith("java.") && !f.startsWith("jdk.") &&
                !f.startsWith("scala.") && !f.startsWith("sun."))
              .take(4).mkString(" <- ")
            if (sig.nonEmpty) hist.merge(sig, 1, (a, b) => a + b)
          }
        }
        Thread.sleep(50)
      }
    })
    sampler.setDaemon(true); sampler.start()
    // comma-separated names run in ONE JVM (per-query persisted-state drop
    // mirrors Bench's isolation)
    name.split(',').map(_.trim).filter(_.nonEmpty).foreach { q =>
      val fn = SparkEntry.queries(q)
      CacheScope.dropAll(spark)
      (1 to iters).foreach { i =>
        println(s"== $q iter $i ==")
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"  TOTAL $q ${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
      }
    }
    sampling = false
    import scala.jdk.CollectionConverters._
    println("== hot executor frames (50ms samples) ==")
    hist.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (sig, c) =>
      println(f"  $c%4d  ${sig.take(340)}")
    }
    spark.stop()
  }
}
