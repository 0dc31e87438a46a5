package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Shared
import graft.etl.Tables

/** Structured Streaming surface: tumbling/sliding windows, watermarked
  * append aggregation, and session windows over the `events` stream,
  * replayed deterministically for the batch-comparable driver harness
  * (SURVEY §7.10).
  *
  * Determinism contract: the stream runs with `Trigger.AvailableNow` over a
  * staged copy of `events` with NO per-trigger rate limit, so all data lands
  * in one micro-batch — the watermark is 0 while data is processed (nothing
  * is late-dropped), then Spark's closing no-data micro-batch advances the
  * watermark to max(event time) − delay and flushes every finalized window.
  * Appended output is therefore exactly "windows with end ≤ max_ts − delay",
  * which the DuckDB oracle states in SQL. In production the same plans run
  * unchanged with a real trigger; only the replay staging is test
  * scaffolding, and its sinks are distributed file sinks — no driver-side
  * result collection anywhere in the harness.
  */
object Streams {

  /** Fully-qualified class name of Spark's RocksDB state store provider —
    * off-heap, spill-to-disk state, the provider a 100 TB ingest needs
    * (executor-heap HDFS-backed state caps out at aggregate state ≈ heap).
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming-tuned child session (shared SparkContext, isolated SQL
    * conf) — every replay runs here so the streaming-specific tuning never
    * mutates the caller's session:
    *
    *  - RocksDB state store provider: state lives off-heap with disk
    *    spill, the only provider that survives 100 TB keyed state; the
    *    default HDFS-backed provider holds every key on the executor heap.
    *  - state partition count capped at 8 (state-store instances per
    *    stateful operator = shuffle partitions at first checkpoint; a
    *    stream-stream join commits FOUR stores per partition per
    *    micro-batch, so 32 partitions meant 128 store commits per batch of
    *    kilobyte-sized replay state — pure fixed overhead; a real deploy
    *    sizes this to keys/executor instead).
    *
    * Each replay still gets a fresh checkpoint+sink dir (under one
    * session-scoped root), so results are batch-deterministic as before.
    */
  def streamingSession(parent: SparkSession): SparkSession =
    Shared.value(parent, "stream.session", "") {
      val s = parent.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)
      // RocksDB commit tuning (r19). Profiled on the stream-stream joins:
      // the two micro-batches' task time was ~4x their CPU — the gap is
      // store open/commit I/O (8 partitions x 4 join stores x 2 batches).
      //  - changelog checkpointing: commit uploads the batch's changelog
      //    instead of a full snapshot (snapshots amortize into the
      //    maintenance thread) — the documented low-latency-commit mode
      //    for production micro-batches, and the right default at 100 TB
      //    state where a full per-batch snapshot is unshippable.
      //  - trackTotalNumberOfRows=false: skips the read-before-write each
      //    put/delete otherwise pays to maintain the numTotalStateRows
      //    metric (the documented write-heavy-workload trade; results
      //    and the rocksdb* metric surface the suite pins are unchanged).
      // Together: st6 4.1 -> 2.8 s warm, st13 2.6 -> 2.4, at sf0.1.
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      s.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      val parts = math.min(parent.conf.get("spark.sql.shuffle.partitions").toInt, 8)
      s.conf.set("spark.sql.shuffle.partitions", parts.toString)
      s
    }

  /** Staged events, sinks and checkpoints of a session's replays; deleted
    * when its SparkContext stops.
    */
  private[graft] def streamRoot(spark: SparkSession): Path =
    Shared.value(spark, "stream.root", "")(
      Files.createTempDirectory("graft_stream_root_"),
      (root: Path) => JavaUtils.deleteRecursively(root.toFile))

  /** Stage events (ts normalized to micros) as parquet for readStream —
    * memoized per (session, dir) so the four streaming queries share one
    * staging write.
    */
  def stageEvents(spark: SparkSession, dir: String): (String, StructType) =
    Shared.value(spark, "stream.events", dir) {
      val tmp = Files.createTempDirectory(streamRoot(spark), "events_").toString
      Tables.events(spark, dir).write.mode("overwrite").parquet(tmp)
      (tmp, spark.read.parquet(tmp).schema)
    }

  /** Run `transform` over a file stream of the staged events with
    * AvailableNow and return the result read back from a parquet sink —
    * never a driver-side memory sink, so the replay harness has the same
    * scale profile as the plans it exercises. Append-mode queries use the
    * native file sink (exactly the production shape, `_spark_metadata`
    * commit log included); complete/update queries — which the file sink
    * cannot accept — go through `foreachBatch` with a distributed parquet
    * write: overwrite for complete snapshots (every batch is the full
    * result, last wins), append for update deltas (disjoint per-key output
    * under single-batch replay).
    *
    * The query executes on [[streamingSession]] (RocksDB state store,
    * bounded state partitions); the read-back frame is bound to the
    * caller's session. A query whose every batch is empty (e.g. append
    * mode with no finalized window) leaves no data files: the sink is then
    * read with the transform's schema instead of an inferred one, so the
    * empty frame has the read-back's nullability (every column nullable,
    * as on a run that wrote rows).
    */
  def replay(spark: SparkSession, dir: String, outputMode: String)(
      transform: DataFrame => DataFrame): DataFrame = {
    val (stagedPath, schema) = stageEvents(spark, dir)
    val ss = streamingSession(spark)
    val root = streamRoot(spark)
    val out = Files.createTempDirectory(root, "sink_").toString
    val ckpt = Files.createTempDirectory(root, "ckpt_").toString
    val src = ss.readStream.schema(schema).parquet(stagedPath)
    val transformed = transform(src)
    val writer = transformed.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val q = outputMode match {
      case "append" =>
        writer.outputMode("append").format("parquet").option("path", out).start()
      case m =>
        val save = if (m == "complete") "overwrite" else "append"
        val write: (DataFrame, Long) => Unit =
          (batch, _) => if (!batch.isEmpty) batch.write.mode(save).parquet(out)
        writer.outputMode(m).foreachBatch(write).start()
    }
    q.awaitTermination()
    try spark.read.parquet(out)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.read.schema(transformed.schema).parquet(out)
    }
  }

  /** Idempotent warehouse sink for a stream: `foreachBatch` routes every
    * micro-batch through [[graft.etl.Load.upsert]] (per-partition batched
    * MERGE / ON CONFLICT). The upsert is key-idempotent, so delivery is
    * EFFECTIVELY exactly-once even though foreachBatch is at-least-once:
    * a replayed or retried batch re-applies the same keys harmlessly —
    * the standard shape for streaming into a JDBC warehouse, executed
    * against an embedded Derby in `LoadSpec`.
    */
  def upsertSink(stream: DataFrame, url: String, table: String, keyCol: String,
      user: String, password: String, statement: Option[(String, Seq[String])],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.etl.Load.upsert(batch, url, table, keyCol, user, password, statement)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Per-(type, day) ingest-integrity register maintained BY THE STREAM —
    * x14's incremental twin (st19): each event contributes the 60-bit md5
    * digest of a canonical pipe serialization (exact cents, epoch-micros
    * ts — never a raw double), registers are COUNT + SUM of digests mod
    * 10¹⁸ per tumbling day. Because the register is
    * commutative-associative, the streaming partial-agg merges compute
    * exactly the batch register — a destination verifies a day's ingest
    * against the source's x14-style register without re-reading either
    * side, and a finalized day's register never changes (watermarked
    * append: only closed windows emit, the st2 discipline). State is one
    * (count, DECIMAL sum) pair per open (type, day) — bounded by the
    * calendar × |types|, not event volume.
    */
  def streamChecksum(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val cents = (col("value").cast(Tables.Money) * 100).cast("long")
      val rowStr = concat_ws("|", col("event_id").cast("string"),
        col("user_id").cast("string"), col("event_type"),
        cents.cast("string"), unix_micros(col("ts")).cast("string"))
      val h60 = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("long")
      src.withWatermark("ts", "1 hour")
        .withColumn("h", h60)
        .groupBy(col("event_type"), window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h").cast(d38)).as("sh"))
    }.select(col("event_type"), col("window.start").as("day_start"),
      col("n_rows"),
      expr("cast(sh % 1000000000000000000 as long)").as("checksum"))

  /** Tumbling 1-hour window counts + exact-decimal sums per event_type
    * (complete mode — no watermark needed, every window emitted).
    */
  def tumblingByType(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "complete") { src =>
      src.groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Tables.Money)).as("total_dec"))
    }.select(col("event_type"), col("window.start").as("window_start"),
      col("n_events"), col("total_dec").cast("double").as("total_value"))

  /** Watermarked tumbling aggregation in append mode: only windows the
    * 1-hour watermark has passed are emitted (late-data handling surface).
    */
  def watermarkedTumbling(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      src.withWatermark("ts", "1 hour")
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(Tables.Money)).as("total_dec"))
    }.select(col("event_type"), col("window.start").as("window_start"),
      col("n_events"), col("total_dec").cast("double").as("total_value"))

  /** Sliding 1-hour windows every 15 minutes per event_type (complete). */
  def slidingByType(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "complete") { src =>
      src.groupBy(col("event_type"), window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"))
    }.select(col("event_type"), col("window.start").as("window_start"),
      col("n_events"))

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * profile (event count, total value, last seen). The GroupState API is
    * the escape hatch when built-in window aggs can't express the state
    * machine; under AvailableNow single-batch replay each key sees its full
    * history once and emits its final profile — batch-equivalent and
    * oracle-checkable.
    */
  def userProfiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stateEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaLong)
    replay(spark, dir, "update") { src =>
      src.selectExpr("user_id", "event_id", "CAST(value AS DECIMAL(12,2)) AS v", "ts")
        .groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (user: Long, rows: Iterator[Row], state: GroupState[(Long, Long)]) => {
            var (n, cents) = state.getOption.getOrElse((0L, 0L))
            var lastUs = 0L
            rows.foreach { r =>
              n += 1
              cents += r.getAs[java.math.BigDecimal]("v")
                .movePointRight(2).longValueExact()
              val t = r.getAs[java.sql.Timestamp]("ts")
              lastUs = math.max(lastUs, t.getTime / 1000 * 1000000L + t.getNanos / 1000)
            }
            state.update((n, cents))
            Iterator((user, n, cents / 100.0, lastUs))
          })(stateEnc, outEnc)
        .toDF("user_id", "n_events", "total_value", "last_us")
    }.selectExpr("user_id", "n_events", "total_value",
      "timestamp_micros(last_us) AS last_ts")
  }

  /** b2b's streaming twin: the per-user 3-stage funnel with the same
    * 10-day per-step deadlines ([[graft.queries.Common.FunnelWindowUs]])
    * as custom keyed state. The stage values are computed FUNCTIONALLY
    * from the group's history — s = min signup, c = min click in
    * [s, s+W], p = min purchase in [c, c+W], exactly b2b's window-min
    * statement, so no event-ORDER subtlety can creep in (a click tied to
    * the signup's timestamp qualifies in both, whatever its event_id) —
    * and under AvailableNow single-batch replay each user's history
    * arrives once, making stream ≡ batch by construction. The keyed
    * state carries the (s, c, p) fixpoints so a multi-batch stream with
    * per-user EVENT-TIME-ORDERED arrival composes correctly: a stage
    * min already locked in a prior batch seeds (and short-circuits) the
    * scan of later batches — s never decreases under ordered arrival,
    * so locked values stay final. Out-of-order arrival is the
    * documented boundary: a retroactively EARLIER signup could
    * re-qualify a click this fold already discarded, so such a deploy
    * must buffer events until the watermark passes them
    * (flatMapGroupsWithState with event-time timeout) — the same caveat
    * class st13's strict-overlap note documents.
    */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val w = graft.queries.Common.FunnelWindowUs
    val stateEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    val outEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    replay(spark, dir, "update") { src =>
      src.filter(substring(md5(col("event_id").cast("string")), 1, 1) === "0")
        .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
        .groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (user: Long, rows: Iterator[Row],
              state: GroupState[(Long, Long, Long)]) => {
            val (ps, pc, pp) = state.getOption.getOrElse((-1L, -1L, -1L))
            val evs = rows.map(r =>
              (r.getAs[Long]("us"), r.getAs[String]("event_type"))).toArray
            def minWhere(t: String, lo: Long, hi: Long): Long = {
              var m = -1L
              evs.foreach { case (us, tpe) =>
                if (tpe == t && us >= lo && us <= hi && (m < 0 || us < m)) m = us
              }
              m
            }
            val s = if (ps >= 0) ps
              else minWhere("signup", Long.MinValue, Long.MaxValue)
            val c = if (s < 0) -1L
              else if (pc >= 0) pc else minWhere("click", s, s + w)
            val p = if (c < 0) -1L
              else if (pp >= 0) pp else minWhere("purchase", c, c + w)
            val stage = if (p >= 0) 3L else if (c >= 0) 2L
              else if (s >= 0) 1L else 0L
            state.update((s, c, p))
            Iterator.single((user, stage, s, c, p))
          })(stateEnc, outEnc)
        .toDF("user_id", "stage_reached", "s", "c", "p")
    }.selectExpr("user_id", "stage_reached",
        "nullif(s, -1) AS s_us", "nullif(c, -1) AS c_us",
        "nullif(p, -1) AS p_us")
  }

  /** st10's sketch geometry, shared with the StreamAndMultimodalSpec
    * bound test — the PINNED md5-cell CMS (graft.ext.PinnedCms) at a
    * streaming-sized width: 256×5 long counters = 10 KB per group,
    * ε = e/256 ≈ 0.0106 (the bound est ∈ [exact, exact + ε·N_group]
    * still separates the injected hot keys by ~4× at the test scales),
    * per-probe failure e⁻⁵ ≈ 0.007. The pinned hash is what lets st10
    * share a14's oracle device instead of going rows-only: the counter
    * state is portable integer arithmetic, not engine register layout.
    */
  val SketchWidth = 256
  val SketchDepth = 5
  val SketchEps: Double = math.E / SketchWidth

  /** Streaming KMV distinct (st17): a35's k-minimum-values sketch as
    * keyed stream state — the distinct-user counter a dashboard keeps
    * per event type forever, in k longs + one row counter (~520 bytes)
    * per group, BOUNDED at any user cardinality. The k-min set-union
    * merge is commutative and duplicate-idempotent, so the final state is
    * micro-batching-invariant and the stream answer EQUALS the batch a35
    * — which is why st17 shares a35's oracle verbatim instead of going
    * rows-only like st10's CMS (whose register layout is engine state;
    * the KMV sketch value is a plain sorted long array over the pinned
    * md5 hash). Each update-mode emission carries the group's monotone
    * rows_seen counter: even if AvailableNow splits the replay into
    * several micro-batches, the registry's keep-max(rows_seen) batch
    * post-selection recovers exactly the final per-group state
    * (cumulative k-min over every row the group ever saw).
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val k = 64
    val stateEnc =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Long], Long)]()
    val outEnc =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long, Long, Double)]()
    val agg = new graft.functions.KmvAggregator(k)
    replay(spark, dir, "update") { src =>
      src.selectExpr("event_type",
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h")
        .groupByKey((r: Row) => r.getAs[String]("event_type"))(Encoders.STRING)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (t: String, rows: Iterator[Row], state: GroupState[(Seq[Long], Long)]) => {
            var (buf, seen) = state.getOption.getOrElse((Seq.empty[Long], 0L))
            rows.foreach { r =>
              buf = agg.reduce(buf, (t, r.getAs[Long]("h")))
              seen += 1
            }
            state.update((buf, seen))
            val est =
              if (buf.size < k) buf.size.toDouble
              else (k - 1).toDouble * graft.functions.KmvSketch.Domain /
                buf.last.toDouble
            Iterator.single((t, seen, buf.size.toLong, est))
          })(stateEnc, outEnc)
        .toDF("event_type", "rows_seen", "n_kept", "kmv_est")
    }
  }

  /** Streaming Benford first-digit census (st18's core): a40's forensic
    * audit as a streaming aggregation — digit counts are commutative
    * adds, so the census after the final micro-batch equals the batch
    * census over the same rows regardless of batching/arrival order
    * (the st17 stream ≡ batch contract), and the aggregation state is
    * ≤ 9 (digit, count) rows at ANY ingest volume — the bounded-state
    * property a40's offline gate can't give an always-on pipeline.
    * Update-mode emissions re-state a digit's running count; the
    * keep-final selection (counts are monotone, so max per digit)
    * happens batch-side in the registry query.
    */
  def digitCensus(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "update") { src =>
      src.selectExpr(
          "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents")
        .where("cents > 0")
        .selectExpr(
          "CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT) AS digit")
        .groupBy("digit")
        .agg(org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("n_obs"))
    }

  /** Streaming heavy-hitter watchlist: one pinned-hash Count-Min counter
    * array per event_type held as keyed state, probed at emission for
    * the known hot-key watchlist (keys 0–6; every 3rd user collapses
    * onto them — the a14 skew device, since the fixture's users are
    * near-uniform). This is a14's batch sketch lifted to streaming
    * state: counter adds are commutative and the emitted estimates read
    * only the current counters, so the FINAL emission per (type, key)
    * equals the batch CMS over all rows regardless of micro-batching —
    * and estimates are monotone nondecreasing (counters only grow), so
    * the registry's keep-max post-selection recovers exactly the final
    * state (the st17 device). State is SketchWidth·SketchDepth longs
    * (10 KB) per group, BOUNDED regardless of key cardinality — the
    * thing a per-key count state cannot promise at 100 TB. ORACLED
    * since the pinned-hash swap: DuckDB replays the identical cells,
    * counters, and min-estimates for the 7 watch keys.
    */
  def sketchWatchlist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.ext.PinnedCms
    val stateEnc =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
      Encoders.scalaLong)
    val (w, d) = (SketchWidth, SketchDepth)
    replay(spark, dir, "update") { src =>
      src.selectExpr("event_type",
          "CASE WHEN user_id % 3 = 0 THEN user_id % 7 ELSE user_id END AS key")
        .groupByKey((r: Row) => r.getAs[String]("event_type"))(Encoders.STRING)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (t: String, rows: Iterator[Row], state: GroupState[Array[Long]]) => {
            val ctr = state.getOption.getOrElse(new Array[Long](w * d))
            val md = java.security.MessageDigest.getInstance("MD5")
            rows.foreach { r =>
              val k = r.getAs[Long]("key")
              var i = 0
              while (i < d) {
                ctr(i * w + PinnedCms.cellJvm(md, k, i, w)) += 1L
                i += 1
              }
            }
            state.update(ctr)
            (0L until 7L).iterator
              .map(k => (t, k, PinnedCms.estJvm(md, ctr, k, w, d)))
          })(stateEnc, outEnc)
        .toDF("event_type", "key", "est_n")
    }
      // keep-final: est is monotone per (type, key) under growing
      // counters, so max over the update-mode emissions IS the final
      // state — micro-batching-invariant, hence oracle-equal
      .groupBy("event_type", "key")
      .agg(org.apache.spark.sql.functions.max("est_n").as("est_n"))
      .orderBy("event_type", "key")
  }

  /** Stream-stream interval join: purchases within one hour after a signup
    * by the same user. Inner joins emit as both sides arrive; the single
    * AvailableNow batch sees everything, so output equals the batch join.
    */
  def signupPurchaseJoin(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append")(signupPurchases(_, "inner"))

  /** Stream-stream LEFT OUTER interval join — st6's semantics plus the
    * null-extended rows a streaming engine can only emit ONCE THE
    * WATERMARK PROVES no match can arrive: a signup's purchase window is
    * [ts, ts+1h], so its unmatched row is emittable exactly when the
    * watermark passes ts+1h (before that, a qualifying purchase could
    * still show up). Inner matches emit as both sides arrive; the
    * closing no-data micro-batch advances the GLOBAL watermark — the MIN
    * over the two watermarked inputs, each tracking its own filtered
    * side's max event time − 2h — and evicts-and-emits the expired
    * unmatched signups. The oracle states both halves in SQL: the batch interval
    * join UNION ALL the no-match signups with window end strictly below
    * the final (ms-truncated) watermark — signups younger than that
    * horizon stay in state, NOT in the output, which is the honest
    * streaming answer, not a replay artifact. State: both sides bounded
    * by the watermark horizon (the condition-derived eviction), RocksDB
    * provider as everywhere.
    */
  def signupPurchaseOuterJoin(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append")(signupPurchases(_, "left_outer"))

  /** st6/st11's join over the replayed event stream `src`: each signup
    * with the same user's purchases in [signup, signup + 1h], both sides
    * watermarked at 2 hours, as a `joinType` join.
    */
  private def signupPurchases(src: DataFrame, joinType: String): DataFrame = {
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("signup_ts"),
        col("event_id").as("signup_id"))
      .withWatermark("signup_ts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "2 hours")
    signups.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("user_id"), col("signup_id"), col("purchase_id"),
        col("signup_ts"), col("purchase_ts"))
  }

  /** Streaming exact dedup — the ingest-time half of batch d1: first
    * arrival per key wins, later duplicates are suppressed.
    * `dropDuplicatesWithinWatermark` bounds the dedup state by the
    * watermark horizon (a plain streaming `dropDuplicates` would hold
    * every key forever — unusable on an unbounded corpus ingest). The
    * output projects the keys only, so the result is arrival-order
    * independent and batch-comparable.
    */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      src.withWatermark("ts", "1 hour")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type")
    }

  /** Stream-static enrichment join: streaming facts joined to a static
    * dimension read — stateless (no watermark, no streaming state), each
    * micro-batch joins against the broadcast dim at plan time. The
    * standard shape for attaching reference data to an event stream.
    */
  def enrichedEvents(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      // read the dim on the stream's own session so the whole plan lives there
      val dim = Tables.table(src.sparkSession, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_name").as("customer_name"))
      src.select("event_id", "user_id", "event_type")
        .join(broadcast(dim), Seq("user_id"))
    }

  /** Stream-static ANTI join — streaming ingest dedup: drop events whose
    * id already exists in the standing warehouse (the streaming twin of
    * batch `d7_incremental_dedup`). Stateless: the static side is a slim
    * key index joined at plan time, nothing accumulates in the state
    * store, so throughput is scan-speed regardless of warehouse size. At
    * 100 TB the broadcast index becomes a bucketed table (shuffle-free
    * sort-merge anti) or a bloom pre-filter in front of a shuffled anti
    * join — the j5 pattern.
    */
  def ingestDedup(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      val seen = Tables.events(src.sparkSession, dir)
        .filter(col("event_id") % 3 === 0).select("event_id")
      src.select("event_id", "user_id", "event_type")
        .join(broadcast(seen), Seq("event_id"), "left_anti")
    }

  /** Streaming first-seen users — the streaming twin of batch
    * `w7_new_users`: one state row per user; a user's FIRST micro-batch
    * emits their earliest event time within it, later batches emit
    * nothing. State is the 1-byte seen flag — the minimum any exact
    * first-seen can hold, bounded by |users| regardless of event volume.
    * Under the harness's single-batch AvailableNow replay the emitted
    * set is exactly the batch first-seen rollup (w7's oracle verbatim);
    * under production micro-batching the caveat is the standard
    * first-seen one — an out-of-order arrival EARLIER than a user's
    * first-seen batch is not re-emitted (if the source can be that late,
    * bound it with a watermark and take the event-time min within the
    * horizon instead). Same md5 thinning as the batch twin.
    */
  def firstSeenUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    replay(spark, dir, "update") { src =>
      src
        .filter(substring(md5(col("event_id").cast("string")), 1, 1) === "0")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (user: Long, rows: Iterator[Row], state: GroupState[Boolean]) => {
            if (state.exists) Iterator.empty
            else {
              state.update(true)
              var minUs = Long.MaxValue
              rows.foreach(r => minUs = math.min(minUs, r.getAs[Long]("us")))
              Iterator((user, minUs))
            }
          })(Encoders.scalaBoolean,
            Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .toDF("user_id", "first_us")
    }
  }

  /** Session windows (30-minute gap) per user, append mode behind a
    * 30-minute watermark. Session end = last event + gap (Spark semantics);
    * emitted sessions are those the watermark has closed.
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      src.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
    }.select(col("user_id"),
      col("session_window.start").as("session_start"),
      col("session_window.end").as("session_end"),
      col("n_events"))

  /** w9's STREAMING twin: per-user overlapping-interval merge as a
    * DYNAMIC-GAP session window — each event opens [ts, ts + value
    * minutes) (the gap expression reads the row), Spark merges
    * overlapping windows in state, exactly the batch gap-islands-over-
    * ranges statement. Two deliberate deltas from w9, both pinned in
    * the oracle: the gap quantizes to WHOLE seconds (an exact
    * integer-valued double → exact micros in the DayTimeInterval; a
    * fractional-second gap would round inside interval construction and
    * drift ±1 µs from the batch arithmetic), and merging requires
    * STRICT overlap (session windows [a,b) [b,c) do not merge — w9's
    * running-max rule also merges exact touches; measure-zero on
    * microsecond data, semantics documented regardless, the b1b
    * discipline). State is one (start, end, count) triple per OPEN
    * session per user — RocksDB-resident, closed and emitted the moment
    * the watermark passes the session end.
    */
  def intervalSessions(spark: SparkSession, dir: String): DataFrame =
    replay(spark, dir, "append") { src =>
      src.withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"),
          // gap must be CalendarIntervalType: the documented dynamic
          // form is a per-row interval STRING — "N seconds" with N the
          // whole-second quantized dwell
          session_window(col("ts"),
            concat(round(col("value") * 60).cast("long").cast("string"),
              lit(" seconds"))))
        .agg(count(lit(1)).as("n_intervals"))
    }.select(col("user_id"),
      unix_micros(col("session_window.start")).as("start_us"),
      unix_micros(col("session_window.end")).as("end_us"),
      col("n_intervals"))

  /** st15: streaming drift monitor — c20's total-variation discipline on
    * the LIVE stream. Per 1-day tumbling window, the event-type mix is
    * compared against the full-corpus baseline (a static 5-row aggregate
    * broadcast into the stream — the st8 stream-static shape, joined
    * AFTER the windowed aggregation, which stays the plan's only stateful
    * operator). Emitted at (window, type) grain: per-type counts,
    * ×10⁶ fixed-point shares, and the exact-integer TV numerator
    * |a·N − b·n_w| divided once to a double (c20's determinism device) —
    * so downstream alerting can threshold per type or sum the ≤|types|
    * terms per window for the full TV. The window total n_w rides a
    * post-replay batch window over the EMITTED aggregate (|days|·|types|
    * rows at any scale) — presentation arithmetic, not stream state; a
    * second in-stream aggregation is what streaming Spark disallows.
    * Baseline-from-the-same-corpus is the replay fixture's stand-in for
    * a production reference distribution (yesterday's corpus, a pinned
    * training mix) — the plan is identical with any static baseline frame.
    * Grain caveat: only types PRESENT in a window emit rows (inner join
    * both engines, so the oracle pins it); a window missing a baseline
    * type under-states its summed TV by that type's |0−b·n_w| term —
    * the spec asserts all-types-present at gate scale so a fixture
    * change surfaces loudly instead of shrinking sums silently.
    */
  /** st16: streaming CUSUM drift detector — w14's sequential
    * changepoint discipline on the LIVE stream, per event_type over
    * daily value totals. The reference level k = μ + μ/20 comes from a
    * STATIC per-type baseline broadcast into the stream (st15's
    * stream-static shape — production points this at yesterday's
    * accepted corpus), so the stream side never needs a second pass.
    * The keyed state is the per-(type, day) cents map — bounded by the
    * CALENDAR, not the event count (w14's spine discipline carried
    * into state) — and each batch re-emits the type's full recomputed
    * CUSUM series from the max(0, S+x−k) recurrence (the identity
    * w14's window form equals, asserted by the shared spec replay).
    * Under AvailableNow single-batch replay every type's history
    * arrives once → stream ≡ batch, which is what the oracle hashes.
    * Multi-batch production keys the sink by (type, day) and lets the
    * re-emitted series overwrite (the x9 MERGE shape); day-ordered
    * arrival is NOT required since the state map re-sorts before every
    * emission.
    */
  def streamCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val dec = org.apache.spark.sql.types.DecimalType(12, 2)
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        (col("value").cast(dec) * 100).cast("long").as("cents"))
    val base = broadcast(daily
      .groupBy("event_type", "day").agg(sum("cents").as("x"))
      .groupBy("event_type")
      .agg(expr("sum(x) div count(1)").as("mu")))
    val outEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaBoolean)
    replay(spark, dir, "update") { src =>
      src.select(col("event_type"),
          to_date(col("ts")).cast("string").as("day"),
          (col("value").cast(dec) * 100).cast("long").as("cents"))
        .join(base, Seq("event_type"))
        .groupByKey((r: Row) => r.getAs[String]("event_type"))(Encoders.STRING)
        .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (ty: String, rows: Iterator[Row], state: GroupState[Array[Byte]]) => {
            val acc = scala.collection.mutable.Map.empty[String, Long]
            state.getOption.foreach { bytes =>
              val in = new java.io.ObjectInputStream(
                new java.io.ByteArrayInputStream(bytes))
              in.readObject().asInstanceOf[Array[(String, Long)]]
                .foreach { case (d, x) => acc(d) = x }
            }
            var mu = 0L
            rows.foreach { r =>
              mu = r.getAs[Long]("mu")
              val d = r.getAs[String]("day")
              acc(d) = acc.getOrElse(d, 0L) + r.getAs[Long]("cents")
            }
            val bos = new java.io.ByteArrayOutputStream()
            val oos = new java.io.ObjectOutputStream(bos)
            oos.writeObject(acc.toArray)
            oos.close()
            state.update(bos.toByteArray)
            val k = mu + mu / 20
            var s = 0L
            acc.toSeq.sortBy(_._1).iterator.map { case (d, x) =>
              s = math.max(0L, s + x - k)
              (ty, d, x, s, s > mu / 2)
            }
          })(Encoders.BINARY, outEnc)
        .toDF("event_type", "day", "x_cents", "cusum_cents", "alarm")
    }.orderBy("event_type", "day")
  }

  def typeDrift(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev = Tables.events(spark, dir)
    val baseline = broadcast(
      ev.groupBy("event_type").agg(count(lit(1)).as("b"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("n_tot")))))
    val perType = replay(spark, dir, "complete") { src =>
      src.groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("a"))
        .join(baseline, "event_type")
    }
    val byW = org.apache.spark.sql.expressions.Window.partitionBy("window")
    perType
      .withColumn("n_w", sum("a").over(byW))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("a"), col("n_w"),
        expr("(1000000 * a) div n_w").as("share_w_e6"),
        expr("(1000000 * b) div n_tot").as("share_base_e6"),
        (abs(col("a").cast(d38) * col("n_tot").cast(d38)
          - col("b").cast(d38) * col("n_w").cast(d38)).cast("double")
          / (lit(2.0) * col("n_w").cast("double")
            * col("n_tot").cast("double"))).as("tv_term"))
  }
}
