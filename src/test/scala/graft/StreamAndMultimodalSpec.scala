package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.etl.Tables
import graft.ext.{DocFixtures, Multimodal}
import graft.queries.Common
import graft.streaming.Streams

/** Streaming replay vs. in-Spark batch equivalents, and the multimodal
  * decode plumbing.
  */
class StreamAndMultimodalSpec extends SparkSpec {

  test("streamed tumbling counts equal the batch window aggregation") {
    val streamed = Streams.tumblingByType(spark, sf)
      .orderBy("event_type", "window_start").collect()
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Tables.Money)).as("total_dec"))
      .select(col("event_type"), col("window.start").as("window_start"),
        col("n_events"), col("total_dec").cast("double").as("total_value"))
      .orderBy("event_type", "window_start").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streamed session windows equal batch gap-islands (up to watermark)") {
    val streamed = Streams.sessionWindows(spark, sf)
    // batch islands with Spark's session merge rule (new session iff gap >= 30m)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val us = unix_micros(col("ts"))
    val newSess = when(lag(us, 1).over(w).isNull ||
      us - lag(us, 1).over(w) >= 1800L * 1000000L, 1).otherwise(0)
    val ev = Tables.events(spark, sf)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = (maxUs / 1000 - 1800000L) * 1000
    val batch = ev
      .withColumn("sess_id", sum(newSess)
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_id")
      .agg(min("ts").as("session_start"),
        (unix_micros(max(col("ts"))) + 1800L * 1000000L).as("end_us"),
        count(lit(1)).as("n_events"))
      .filter(col("end_us") <= wmUs)
      .select(col("user_id"), col("session_start"),
        timestamp_micros(col("end_us")).as("session_end"), col("n_events"))
    assert(streamed.orderBy("user_id", "session_start").collect().toSeq ==
      batch.orderBy("user_id", "session_start").collect().toSeq)
  }

  test("multi-batch replay drops a genuinely late row mid-stream") {
    import java.nio.file.{Files => JFiles, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    val sess = spark
    import sess.implicits._

    // four single-file "arrivals", mtime-ordered (the file source processes
    // oldest-first): on-time rows, a watermark-advancing row, a filler batch
    // (the late-record filter runs against the watermark as of one batch
    // earlier than eviction, so the advance needs a batch to take effect),
    // then a row for an hour the watermark has closed plus an on-time row
    val inDir = JFiles.createTempDirectory("graft_mb_in_")
    def stage(name: String, mtimeMs: Long, times: Seq[String]): Unit = {
      val tmp = JFiles.createTempDirectory("graft_mb_stage_")
      times.toDF("raw").selectExpr("CAST(raw AS TIMESTAMP) AS ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = JFiles.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = inDir.resolve(name)
      JFiles.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
      JFiles.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
    }
    stage("b1.parquet", 1000000L,
      Seq("2024-01-01 10:00:00", "2024-01-01 10:10:00"))
    stage("b2.parquet", 2000000L, Seq("2024-01-01 13:00:00"))
    stage("b3.parquet", 3000000L, Seq("2024-01-01 13:02:00"))
    stage("b4.parquet", 4000000L,
      Seq("2024-01-01 10:20:00", "2024-01-01 13:05:00"))

    def run(maxFilesPerTrigger: Option[Int]): Map[String, Long] = {
      val out = JFiles.createTempDirectory("graft_mb_out_").toString
      val ckpt = JFiles.createTempDirectory("graft_mb_ckpt_").toString
      val reader = spark.readStream.schema(StructType.fromDDL("ts TIMESTAMP"))
      val src = maxFilesPerTrigger
        .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
        .parquet(inDir.toString)
      val q = src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("n"))
        .writeStream.outputMode("append").format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }

    // one file per trigger: after batch 2 the watermark sits at 11:00, so
    // batch 3's 10:20 row arrives for a closed window and is DROPPED —
    // the emitted 10:00 window counts only the two on-time rows
    val multi = run(Some(1))
    assert(multi.get("2024-01-01 10:00:00").contains(2L),
      s"late row should be dropped mid-stream: $multi")
    // same data in a single batch: the watermark is still 0 while all rows
    // are processed, nothing is late, the 10:00 window counts all three
    val single = run(None)
    assert(single.get("2024-01-01 10:00:00").contains(3L),
      s"single-batch replay drops nothing: $single")
  }

  test("partitioned streaming file sink lays out a prunable lake table") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.streaming.Trigger
    val out = JFiles.createTempDirectory("graft_psink_out_").toString
    val ckpt = JFiles.createTempDirectory("graft_psink_ck_").toString
    val (stagedPath, schema) = Streams.stageEvents(spark, sf)
    val q = spark.readStream.schema(schema).parquet(stagedPath)
      .select("event_id", "event_type", "user_id", "ts")
      .writeStream.outputMode("append").format("parquet")
      .partitionBy("event_type")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val total = Tables.events(spark, sf).count()
    assert(spark.read.parquet(out).count() == total)
    // partition pruning reaches the scan: filtering one event_type reads
    // only that directory
    val one = spark.read.parquet(out).filter(col("event_type") === "purchase")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      scan.linesIterator.take(8).mkString("\n"))
    assert(one.count() ==
      Tables.events(spark, sf).filter(col("event_type") === "purchase").count())
  }

  test("file-sink stream resumes from checkpoint without reprocessing") {
    import java.nio.file.{Files => JFiles}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StructType
    val sess = spark
    import sess.implicits._
    val in = JFiles.createTempDirectory("graft_ckpt_in_").toString
    val out = JFiles.createTempDirectory("graft_ckpt_out_").toString
    val ckpt = JFiles.createTempDirectory("graft_ckpt_ck_").toString
    def runOnce(): Unit = {
      val q = spark.readStream.schema(StructType.fromDDL("v BIGINT"))
        .parquet(in)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq(1L, 2L, 3L).toDF("v").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(spark.read.parquet(out).count() == 3)
    Seq(4L, 5L).toDF("v").coalesce(1).write.mode("append").parquet(in)
    runOnce()
    // the restarted query picks up ONLY the new file: no duplicates of
    // batch-1 rows, nothing lost — exactly-once across restarts
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("replay runs on the RocksDB state store provider") {
    val ss = Streams.streamingSession(spark)
    // the state operators' custom metric names, from the replay's own
    // progress events (one listener queue delivers them before the
    // query's termination event)
    val stateMetrics = ConcurrentHashMap.newKeySet[String]()
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op => stateMetrics.addAll(op.customMetrics.keySet))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    ss.streams.addListener(listener)
    // stateful replay so a state operator reports metrics
    try {
      Streams.watermarkedTumbling(spark, sf).count()
      assert(terminated.await(60, TimeUnit.SECONDS), "replay never reported termination")
    } finally ss.streams.removeListener(listener)
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass")
      == Streams.RocksDBProvider)
    assert(ss ne spark, "streaming tuning must live in a child session")
    // the caller's session keeps its own conf (no session mutation)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      != Streams.RocksDBProvider)
    // provider genuinely active: RocksDB-specific state metrics reported
    assert(stateMetrics.asScala.exists(_.toLowerCase.contains("rocksdb")),
      s"state metrics not from RocksDB: ${stateMetrics.asScala.take(8)}")
  }

  test("replay with no finalized output returns an empty frame with schema") {
    // watermark delay far beyond the data span: append emits nothing,
    // every sink batch is empty — must not fail parquet schema inference
    val out = Streams.replay(spark, sf, "append") { src =>
      src.withWatermark("ts", "365 days")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
    }
    assert(out.columns.toSeq == Seq("ws", "n"))
    assert(out.count() == 0)
  }

  test("st10 streaming sketch: CMS bound vs exact counts at two scales") {
    // oracled since the PinnedCms swap, but the quantitative CMS gate
    // stays at the correctness scale AND a larger one, like a7/d8:
    // CMS never undercounts; overcount ≤ ε·N_group w.p. confidence.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val got = SparkEntry.queries("st10_stream_sketch")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val skewed = Tables.events(spark, dir)
        .selectExpr("event_type",
          "CASE WHEN user_id % 3 = 0 THEN user_id % 7 ELSE user_id END AS key")
      val exact = skewed.filter(col("key") < 7)
        .groupBy("event_type", "key").count()
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val groupN = skewed.groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet == groupN.keySet.flatMap(t => (0L until 7L).map(t -> _)),
        s"$dir: watchlist shape wrong")
      got.foreach { case ((t, k), est) =>
        val ex = exact.getOrElse((t, k), 0L)
        val slack = (Streams.SketchEps * groupN(t)).toLong + 1
        assert(est >= ex, s"$dir $t/$k: CMS undercounted $est < $ex")
        assert(est <= ex + slack, s"$dir $t/$k: est $est > exact $ex + $slack")
        // and the watchlist keys are genuinely hot: 10× the ε slack
        assert(ex > 10 * Streams.SketchEps * groupN(t) / 7,
          s"$dir $t/$k: injected key not hot enough to matter")
      }
    }
  }

  test("multimodal decode is deterministic and schema-stable") {
    val media = Multimodal.asMedia(DocFixtures.docs(spark, sf))
    val d1 = Multimodal.decode(media).orderBy("doc_id").collect()
    val d2 = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(d1.length == 500)
    assert(d1.map(_.doc_id).toSeq == d2.map(_.doc_id).toSeq)
    assert(d1.map(_.mean_byte).toSeq == d2.map(_.mean_byte).toSeq)
    val first = d1.head
    assert(first.features.length == 8)
    assert(first.n_bytes > 0)
  }

  test("st14: streaming funnel stages reproduce b2b's batch stage counts") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st14_stream_funnel")(spark, dir).collect()
    assert(got.nonEmpty)
    val stages = got.map(_.getLong(1))
    val b2b = SparkEntry.queries("b2b_funnel_window")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(stages.count(_ >= 1) == b2b(1L), "stage-1 users diverge")
    assert(stages.count(_ >= 2) == b2b(2L), "stage-2 users diverge")
    assert(stages.count(_ >= 3) == b2b(3L), "stage-3 users diverge")
    // the deadline fields are mutually consistent per user
    got.foreach { r =>
      val st = r.getLong(1)
      assert((st >= 1) == !r.isNullAt(2) && (st >= 2) == !r.isNullAt(3) &&
        (st >= 3) == !r.isNullAt(4), s"user ${r.getLong(0)} stage/fields")
    }
  }

  test("st15: per-window TV terms sum to the batch total-variation distance") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st15_stream_drift")(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(6)))
    assert(got.nonEmpty)
    // batch reference straight off events: per-day type mix vs corpus mix
    val ev = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
    val base = ev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nTot = ev.length.toLong
    val byDay = ev.groupBy(_._1)
    // every window's terms sum to the day's exact TV distance
    got.groupBy(_._1).foreach { case (day, rows) =>
      val dayEv = byDay(day)
      val nW = dayEv.length.toLong
      assert(rows.map(_._4).distinct.toSeq == Seq(nW), s"$day n_w")
      val tv = base.toSeq.map { case (t, b) =>
        val a = dayEv.count(_._2 == t).toLong
        math.abs(a * nTot - b * nW).toDouble / (2.0 * nW * nTot)
      }.sum
      val streamed = rows.map(_._5).sum
      assert(math.abs(streamed - tv) < 1e-12, s"$day tv $streamed vs $tv")
    }
    // the mix genuinely moves day to day (otherwise the monitor is vacuous)
    assert(got.map(_._5).max > 0.0, "zero drift everywhere - degenerate")
    // every (window, baseline-type) pair is emitted - absent types would
    // silently shrink the per-window sum below the true TV
    assert(got.groupBy(_._1).values.forall(_.length == base.size))
  }

  test("st18 streaming Benford: census equals the batch census exactly; ≤9-row state") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("st18_stream_benford")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.nonEmpty && got.size <= 9)
    // batch census replay over the same staged rows
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val cents = graft.etl.Tables.events(spark, dir)
      .select((col("value").cast(dec) * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).filter(_ > 0)
    val census = cents.map(c => c.toString.head.asDigit.toLong)
      .groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    val n = cents.length.toLong
    assert(got.keySet == census.keySet)
    got.foreach { case (d, (nObs, shareE6, benfE6, devE6)) =>
      assert(nObs == census(d), s"digit $d stream != batch count")
      assert(shareE6 == (BigInt(1000000) * nObs / n).toLong, s"digit $d share")
      assert(benfE6 == Common.BenfordE9(d.toInt - 1) / 1000L,
        s"digit $d expectation")
      assert(devE6 == math.abs(shareE6 - benfE6), s"digit $d deviation")
    }
  }

  test("st16 streaming CUSUM: stream equals the batch recurrence replay; state is calendar-bounded") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st16_stream_cusum")(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(4))))
    assert(got.nonEmpty)
    // batch replay: daily cents per type, integer mu/k, max(0,·) recurrence
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val byType = daily.toSeq.groupBy(_._1._1)
    val want = byType.flatMap { case (ty, rows) =>
      val xs = rows.sortBy(_._1._2)
      val mu = xs.map(t => BigInt(t._2)).sum / xs.length
      val k = mu + mu / 20
      var s = BigInt(0)
      xs.map { case ((_, day), x) =>
        s = (s + x - k).max(BigInt(0))
        ((ty, day), (x, s.toLong, s > mu / 2))
      }
    }.toMap
    assert(got.length == want.size)
    got.foreach { case (key, v) => assert(want(key) == v, key) }
    // the detector separates: some alarm somewhere, quiet somewhere
    assert(got.exists(_._2._3) && got.exists(!_._2._3))
    // per-type state rows = |days| — the calendar bound, not event count
    assert(got.groupBy(_._1._1).values.forall(_.length <= 40))
  }

  test("m8 scene cut: full pipeline replay; scenes partition frames contiguously") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("m8_scene_cut")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docsRaw = graft.etl.Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val exp = collection.mutable.Map[(Long, Long), (Long, Long, Long, Long)]()
    docsRaw.foreach { case (id, text) =>
      val n = math.max(math.min((text.length - 32) / 16 + 1, 8), 1)
      val frames = (0 until n).map(k =>
        text.slice(k * 16, k * 16 + 32))
      val sums = frames.map(_.map(_.toLong).sum)
      var scene = 0L
      sums.zipWithIndex.foreach { case (s0, k) =>
        if (k > 0 && math.abs(s0 - sums(k - 1)) > 100L) scene += 1
        val (lo, hi, nf, sb) =
          exp.getOrElse((id, scene), (k.toLong, k.toLong, 0L, 0L))
        exp((id, scene)) = (math.min(lo, k), math.max(hi, k), nf + 1, sb + s0)
      }
    }
    assert(got == exp.toMap)
    // scenes tile each doc's frame range contiguously, in order
    got.keys.map(_._1).foreach { id =>
      val scenes = got.filter(_._1._1 == id).toSeq.sortBy(_._1._2)
      scenes.zipWithIndex.foreach { case (((_, sid), (lo, hi, nf, _)), i) =>
        assert(sid == i.toLong, s"doc $id scene ids dense")
        assert(nf == hi - lo + 1, s"doc $id scene $sid contiguous")
        if (i > 0) assert(lo == scenes(i - 1)._2._2 + 1, s"doc $id tiling")
      }
    }
    // the threshold yields a genuine mix: some multi-scene docs, some
    // single-scene — a degenerate threshold would collapse either way
    val perDoc = got.keys.groupBy(_._1).map(_._2.size)
    assert(perDoc.exists(_ > 1) && perDoc.exists(_ == 1))
  }

  test("m9 keyframe: per-scene argmax replay; exactly one representative per m8 scene") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("m9_keyframe_select")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val scenes = SparkEntry.queries("m8_scene_cut")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exactly one keyframe per m8 scene, inside the scene's frame range,
    // with the same member count
    assert(got.keySet == scenes.keySet)
    got.foreach { case (key, (kf, _, nf)) =>
      val (lo, hi, n8) = scenes(key)
      assert(kf >= lo && kf <= hi, s"$key keyframe outside scene")
      assert(nf == n8, s"$key member count")
    }
    // full replay: the winner is argmax byte-energy, frame_idx tiebreak
    val docsRaw = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docsRaw.foreach { case (id, text) =>
      val n = math.max(math.min((text.length - 32) / 16 + 1, 8), 1)
      val sums = (0 until n).map(k =>
        text.slice(k * 16, k * 16 + 32).map(_.toLong).sum)
      var scene = 0L
      val byScene = collection.mutable.Map[Long, Seq[(Long, Long)]]()
      sums.zipWithIndex.foreach { case (s0, k) =>
        if (k > 0 && math.abs(s0 - sums(k - 1)) > 100L) scene += 1
        byScene(scene) = byScene.getOrElse(scene, Seq.empty) :+
          (k.toLong, s0)
      }
      byScene.foreach { case (sid, frames) =>
        val (kf, energy) = frames.maxBy { case (k, s0) => (s0, -k) }
        val (gKf, gEnergy, gNf) = got((id, sid))
        assert(gKf == kf && gEnergy == energy && gNf == frames.length,
          s"doc $id scene $sid")
      }
    }
    // ties on energy exist in the fixture (flat single-frame docs aside):
    // at least one multi-frame scene picks a non-first frame — the
    // argmax is genuinely selecting, not defaulting to frame_lo
    assert(got.exists { case (key, (kf, _, nf)) =>
      nf > 1 && kf != scenes(key)._1 })
  }

  test("decode seam: swapping the frame kernel changes no plan shape; outputs replay") {
    // the m2/m7 stub charter made executable (r17): the decode step is a
    // kernel seam — swap a non-trivial alternate in and every downstream
    // plan (lag window, cut cumsum, scene rollup, keyframe argmax) must
    // be node-for-node identical, only the feature VALUES move.
    import graft.ext.Multimodal
    val dir = "/root/testdata/sf0.001"
    val docs = graft.ext.DocFixtures.docs(spark, dir)
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case n => n.getClass.getSimpleName }
    // m8/m9 under default vs block-histogram kernel: same plan skeleton
    val m8Def = Multimodal.sceneCuts(docs, 32, 16, 8, 100L)
    val m8Alt = Multimodal.sceneCuts(docs, 32, 16, 8, 100L,
      Multimodal.blockHistKernel)
    val m9Def = Multimodal.keyframes(docs, 32, 16, 8, 100L)
    val m9Alt = Multimodal.keyframes(docs, 32, 16, 8, 100L,
      Multimodal.blockHistKernel)
    assert(shape(m8Def) == shape(m8Alt), "m8 plan shape moved under swap")
    assert(shape(m9Def) == shape(m9Alt), "m9 plan shape moved under swap")
    // independent full replay of the swapped path: 4-block histogram
    // energy in plain Scala, same cut rule, same scene rollup
    def blockEnergy(fr: String): Long = (0 until 4).map { b =>
      val n = fr.length.toLong
      val start = (n * b / 4).toInt; val stop = (n * (b + 1) / 4).toInt
      if (stop > start)
        (b + 1).toLong *
          (fr.slice(start, stop).map(_.toLong).sum % 251L)
      else 0L
    }.sum
    val gotAlt = m8Alt.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val exp = collection.mutable.Map[(Long, Long), (Long, Long, Long, Long)]()
    val docsRaw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docsRaw.foreach { case (id, text) =>
      val n = math.max(math.min((text.length - 32) / 16 + 1, 8), 1)
      val energies = (0 until n).map(k =>
        blockEnergy(text.slice(k * 16, k * 16 + 32)))
      var scene = 0L
      energies.zipWithIndex.foreach { case (e, k) =>
        if (k > 0 && math.abs(e - energies(k - 1)) > 100L) scene += 1
        val (lo, hi, nf, sb) =
          exp.getOrElse((id, scene), (k.toLong, k.toLong, 0L, 0L))
        exp((id, scene)) = (math.min(lo, k), math.max(hi, k), nf + 1, sb + e)
      }
    }
    assert(gotAlt == exp.toMap, "swapped-kernel m8 replay diverged")
    // the swap is non-trivial: the alternate segmentation differs from
    // the default somewhere, or the test proves nothing
    val gotDef = m8Def.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(gotAlt != gotDef, "alternate kernel produced identical scenes")
    // the JVM-side decode seam: alternate kernel, identical mapPartitions
    // plan, outputs replay locally
    val media = Multimodal.asMedia(docs)
    val altJvm = (blob: Array[Byte], w: Int, h: Int, dim: Int) =>
      (if (blob.isEmpty) 0.0 else blob.map(b => (b & 0xff).toDouble).max,
        Array.tabulate(dim)(i =>
          (blob.count(b => (b & 0xff) % dim == i)).toFloat))
    val decDef = Multimodal.decode(media)
    val decAlt = Multimodal.decode(media, 8, altJvm)
    assert(shape(decDef.toDF()) == shape(decAlt.toDF()),
      "decode plan shape moved under JVM kernel swap")
    val altRows = decAlt.collect().map(d => d.doc_id -> d).toMap
    docsRaw.take(50).foreach { case (id, text) =>
      val blob = text.getBytes("UTF-8")
      val (wantMean, wantFeats) = altJvm(blob, 0, 0, 8)
      val got = altRows(id)
      assert(got.mean_byte == wantMean && got.features.sameElements(wantFeats),
        s"doc $id JVM kernel replay")
    }
  }

  test("decode seam: the JDK ImageIO codec slots in — plan unchanged, pixel math replays") {
    // r17 verdict task 5: the seam has only ever held synthetic kernels;
    // this is the third kernel — an ACTUAL image decoder
    // (Multimodal.imageIoKernel over javax.imageio, zero dependencies).
    // Deterministic gray gradients are encoded to real PNG and BMP bytes
    // in-test (both formats lossless, so the generator IS the oracle),
    // decoded through the unchanged mapPartitions seam, and every mean /
    // band feature is replayed from the generator's pixel function.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 4
    def gray(i: Long, x: Int, y: Int): Int =
      ((x * 7 + y * 13 + i * 31) % 256).toInt
    def makeImage(i: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = gray(i, x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val specs = (1L to 12L).map(i =>
      (i, if (i % 2 == 0) "png" else "bmp",
        8 + (i % 5).toInt, 6 + (i % 7).toInt))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("blob", BinaryType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("channels", IntegerType)))
    def mediaOf(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val media = mediaOf(specs.map { case (i, fmt, w, h) =>
      Row(i, makeImage(i, w, h, fmt), w, h, 3) })
    def shape(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case n => n.getClass.getSimpleName }
    val decImg = Multimodal.decode(media, dim, Multimodal.imageIoKernel)
    assert(shape(Multimodal.decode(media, dim).toDF()) ==
      shape(decImg.toDF()), "real codec changed the decode plan shape")
    val got = decImg.collect().map(d => d.doc_id -> d).toMap
    assert(got.size == specs.size)
    specs.foreach { case (i, fmt, w, h) =>
      val d = got(i)
      // replay straight from the generator, same (y,x) summation order
      // as the kernel so the double compare can be exact-tight
      val grays = for (y <- 0 until h; x <- 0 until w)
        yield (y, gray(i, x, y).toDouble)
      val wantMean = grays.map(_._2).sum / grays.size
      assert(math.abs(d.mean_byte - wantMean) < 1e-9,
        s"doc $i ($fmt ${w}x$h) mean: got ${d.mean_byte}, want $wantMean")
      val bands = grays.groupBy { case (y, _) => math.min(dim - 1, y * dim / h) }
      (0 until dim).foreach { b =>
        val want = bands.get(b)
          .map(g => g.map(_._2).sum / g.size).getOrElse(0.0)
        assert(math.abs(d.features(b) - want) < 1e-4,
          s"doc $i ($fmt) band $b: got ${d.features(b)}, want $want")
      }
      // the spatial profile is non-degenerate: the gradient makes bands
      // differ, so the feature genuinely reads pixel GEOMETRY, which no
      // byte-histogram kernel can
      assert(d.features.distinct.length > 1, s"doc $i flat profile")
    }
    // a poison blob (not an image) degrades to zeros, never throws —
    // at corpus scale an undecodable payload is data, not an exception
    val junk = Multimodal.decode(
      mediaOf(Seq(Row(99L, Array[Byte](1, 2, 3), 4, 4, 3))),
      dim, Multimodal.imageIoKernel).collect()
    assert(junk.head.mean_byte == 0.0 && junk.head.features.forall(_ == 0f))
  }

  test("fixture contract: byte-fold corpus is pure ASCII at every gate scale") {
    // The m2/m6/m7/m8 byte-fold family equates three per-char readings:
    // Spark's ascii() (first UTF-8 BYTE), DuckDB's ascii()/unicode()
    // (code POINT), and the spec replays' UTF-16 char values. The three
    // agree exactly on the code-point class [0, 128) and SILENTLY
    // diverge outside it, so the agreement is a property of the INPUT,
    // not the functions — this assertion is that property, executable.
    // A future corpus with non-ASCII text must fail here loudly instead
    // of drifting the oracle hashes.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val nonAscii = Tables.table(spark, s"/root/testdata/$sf", "documents")
        .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
      assert(nonAscii == 0L, s"$sf documents must be pure ASCII " +
        s"(the byte-fold cross-engine contract); $nonAscii rows violate it")
    }
    // the injected fixture docs ride the same contract
    assert(DocFixtures.shortDocs(spark, "/root/testdata/sf0.001")
      .filter(col("text").rlike("[^\\x00-\\x7F]")).count() == 0L)
  }

  test("m7 audio VAD: segments replay the frame/threshold/run-length pipeline exactly") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("m7_audio_vad")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val texts = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = texts.flatMap { case (id, t) =>
      if (t.isEmpty) Seq.empty
      else {
        val n = math.max((t.length - 32) / 32 + 1, 1)
        val voiced = (0 until n).flatMap { i =>
          val f = t.substring(i * 32, math.min(i * 32 + 32, t.length))
          val e = f.map(_.toInt.toLong).sum
          if (e >= 94L * f.length) Some((i.toLong, e)) else None
        }
        // run-length merge of consecutive voiced frame indexes
        voiced.foldLeft(List.empty[(Long, Long, Long, Long)]) {
          case (acc, (i, e)) => acc match {
            case (s0, e0, nf, en) :: rest if e0 + 1 == i =>
              (s0, i, nf + 1, en + e) :: rest
            case _ => (i, i, 1L, e) :: acc
          }
        }.reverse.map { case (s0, e0, nf, en) => (id, s0, e0, nf, en) }
      }
    }
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // the detector must split at least one doc into multiple segments AND
    // leave at least one silence gap (otherwise the threshold is vacuous)
    val perDoc = got.groupBy(_._1)
    assert(perDoc.values.exists(_.length >= 2), "no doc has 2+ segments")
    assert(got.forall(s => s._4 == s._3 - s._2 + 1))
  }

  test("st19 stream checksum: stream register equals the batch register; closed days only") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st19_stream_checksum")(spark, dir)
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    // batch replay of the register with the identical serialization
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val ev = Tables.events(spark, dir)
      .selectExpr("event_type", "unix_micros(ts) AS us",
        """concat_ws('|', cast(event_id as string),
          |cast(user_id as string), event_type,
          |cast(cast(cast(value as decimal(12,2)) * 100 as long) as string),
          |cast(unix_micros(ts) as string))""".stripMargin.replace("\n", " "))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def h60(s: String): BigInt = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8)
      BigInt(md.map(b => f"$b%02x").mkString.take(15), 16)
    }
    val DayUs = 86400000000L
    val wmUs = ev.map(_._2).max - 3600000000L
    val MOD = BigInt("1000000000000000000")
    val want = ev
      .map { case (ty, us, s) => ((ty, us / DayUs), s) }
      // watermark cut: only days whose END ≤ max(ts) − 1 h are emitted
      .filter { case ((_, day), _) => (day + 1) * DayUs <= wmUs }
      .groupBy(_._1)
      .map { case ((ty, day), rs) =>
        (ty, java.time.Instant.ofEpochSecond(day * 86400L).toString) ->
          (rs.length.toLong, (rs.map(r => h60(r._2)).sum % MOD).toLong)
      }
    assert(got == want, "stream register != batch register")
    // the cut genuinely dropped the open tail day (non-vacuous watermark)
    val allDays = ev.map { case (ty, us, _) => (ty, us / DayUs) }.distinct
    assert(got.size < allDays.size, "no open day dropped — watermark vacuous")
  }

  test("m10 phash dup: signature replays; noised copies pair with their base; not all-pairs") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("m10_phash_dup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.nonEmpty)
    val docsRaw = graft.etl.Tables.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def noisy(t: String): String =
      if (t.length >= 6) t.substring(0, 4) + "x" + t.substring(5) else t
    def sig(t: String): Long = (0 until 60).map { k =>
      val off = (k.toLong * (t.length - 1)) / 60 // 0-based of 1 + ... div
      if ((t.charAt(off.toInt).toInt % 2) == 1) 1L << k else 0L
    }.sum
    def textOf(i: Long): String =
      if (i >= 4000000L) noisy(docsRaw(i - 4000000L)) else docsRaw(i)
    // injected contract: a base doc and its in-place-noised copy whose
    // signatures differ in ≤ 3 bits MUST pair (pigeonhole: ≤3 flips
    // leave ≥1 of the 4 bands intact → candidate → verified)
    var contractPairs = 0
    docsRaw.keys.filter(_ % 10 == 0).foreach { id =>
      val t = docsRaw(id)
      if (t.nonEmpty) {
        val he = java.lang.Long.bitCount(sig(t) ^ sig(noisy(t)))
        if (he <= 3) {
          assert(got.get((id, id + 4000000L)).contains(he.toLong),
            s"pair ($id,${id + 4000000L}) expected at hamming $he")
          contractPairs += 1
        }
      }
    }
    assert(contractPairs > 0, "no noised pair under the verify threshold")
    // every reported pair replays exactly and clears the verify cut
    got.foreach { case ((a, b), hm) =>
      assert(hm <= 3L && a < b)
      assert(hm ==
        java.lang.Long.bitCount(sig(textOf(a)) ^ sig(textOf(b))).toLong,
        s"pair ($a,$b) hamming replay")
    }
    // genuinely discriminative: nowhere near all-pairs
    val n = docsRaw.size + docsRaw.keys.count(_ % 10 == 0)
    assert(got.size.toLong * 10 < n.toLong * (n - 1) / 2)
  }
}
