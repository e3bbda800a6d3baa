package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.moneySum
import graft.schema.Schemas
import graft.sources.Writers

/** Structured Streaming over the `events` table shape (SURVEY §2.9 — the
  * reference is batch-only; this is the §7.4 streaming extension).
  *
  * Every transform below takes a plain `DataFrame`, so the *same code* runs
  * in batch (for the DuckDB oracle) and under `readStream` (with a
  * watermark) — the batch/streaming parity Spark's incremental execution
  * guarantees for windowed aggregations.
  */
object EventStreams {

  /** Stateful-stream shuffle width: every shuffle partition is a state
    * store with its own per-batch snapshot/commit I/O, so this is sized to
    * KEY cardinality (tiny here), not scan parallelism. Baked into a
    * checkpoint at first start — a design-time choice per deployment. */
  private val StreamWidth = "spark.sql.shuffle.partitions" -> "4"

  /** Streaming source over an events directory; schema must be explicit for
    * `readStream`. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Schemas.events).parquet(dir)

  /** Staged multi-batch replay inputs (session-window close row, late-audit
    * schedule), memoized per (kind, data dir) via [[graft.sources.Staging]]:
    * the replay layout is a pure function of the input table, so Bench's
    * three passes reuse ONE staging instead of re-deriving it (an agg(max)
    * job plus 2-4 parquet writes per call), and Staging's shutdown hook
    * deletes it — the per-call temp dirs previously leaked events-sized
    * parquet into /tmp on every run. Staging is INPUT-only; each streaming
    * query still gets its own fresh checkpoint. */
  private def stagedDir(kind: String, dir: String)(build: java.io.File => Unit): java.io.File =
    graft.sources.Staging.dir(kind, dir)(build)

  /** Write one replay batch as a single parquet file named and
    * modification-stamped so the file source processes it at position
    * `idx` (oldest-first by mod time; names agree so path order matches). */
  private def writeReplayPart(streamDir: java.io.File, df: DataFrame, idx: Int): Unit = {
    import java.nio.file.Files
    val stage = new java.io.File(streamDir, s"__stage$idx")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(streamDir, f"batch-$idx%02d.parquet")
    Files.move(part.toPath, dest.toPath)
    dest.setLastModified(1700000000000L + idx * 600000L)
    graft.sources.Staging.rmTree(stage)
  }

  /** Streaming source over the driver testdata layout: the events parquet
    * sits next to nine other tables, so glob-filter it. The driver has
    * shipped two physical layouts across regenerations — INT64
    * TIMESTAMP(NANOS) (reads as long under `nanosAsLong`; normalize to µs
    * like [[graft.sources.Tables.events]]) and µs timestamps (read
    * directly). `readStream` needs the schema up front, so sniff the
    * physical type with a one-file batch read of the footer first. */
  def readTestdataEventStream(spark: SparkSession, dir: String): DataFrame = {
    val physical =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    if (physical == org.apache.spark.sql.types.LongType) {
      val raw = org.apache.spark.sql.types.StructType(
        Schemas.events.map(f => if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
      spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else if (physical == org.apache.spark.sql.types.TimestampNTZType) {
      // The sniff ran in a session WITHOUT inferTimestampNTZ disabled
      // (our own sessions set it, arbitrary host sessions may not):
      // read with the NTZ schema and normalize like Tables.table, instead
      // of handing the file source a TIMESTAMP user schema for NTZ files.
      val raw = org.apache.spark.sql.types.StructType(
        Schemas.events.map(f => if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.TimestampNTZType) else f))
      spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    } else {
      spark.readStream.schema(Schemas.events)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
    }
  }

  /** File-split size while a stream runner is active: the replay inputs
    * are single parquet files (events at sf0.1 is ~2 MB), which is ONE
    * scan task at the 128 MB default — the whole decode runs
    * single-threaded inside every micro-batch. A small split parallelizes
    * the scan (isolated probe: ~0.2-0.4 s on a cold first batch;
    * suite-neutral at steady state where state-store commits dominate —
    * kept because at larger replay sizes the single-task scan becomes the
    * bottleneck). Batch queries keep the default. */
  private val StreamSplit = "spark.sql.files.maxPartitionBytes" -> "262144"

  /** Disables the trailing no-data micro-batch. Correct ONLY for queries
    * whose output is fully emitted inside data batches: complete-mode
    * aggregations (full state re-emits every batch), INNER stream-stream
    * joins (matches emit on arrival), dedup filters (first occurrence
    * emits immediately), and `TimeMode.None` stateful processors (no
    * timers). The no-data batch exists to flush watermark-GATED
    * emissions — append-mode windowed aggs, outer joins' null-extended
    * rows, event-time timeouts — and those runners must keep it; here it
    * is a full planning + state-commit cycle (~0.5 s at harness scale)
    * that cannot emit anything. */
  private val NoDataBatchOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** RocksDB is the only state-store provider that supports
    * transformWithState. */
  private val RocksDbState = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs a streaming transform of the events table to completion
    * (AvailableNow semantics via `processAllAvailable`) and returns the
    * final result — lets the batch-oriented driver gate exercise the real
    * incremental execution path. `transform` must be an aggregation viable
    * in complete output mode. */
  def runStreamToBatch(
      spark: SparkSession,
      dir: String,
      name: String,
      transform: DataFrame => DataFrame): DataFrame = {
    // Stateful streaming wants shuffle partitions sized to KEY cardinality,
    // not to batch-scan parallelism: every shuffle partition is a state
    // store with its own per-batch snapshot/commit I/O. The window×type key
    // space here is tiny; 32 stores would be pure fixed overhead. (The
    // partition count is baked into the checkpoint at first start, so this
    // is a design-time choice, not a tunable.)
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff) {
      val q = transform(withWatermark(readTestdataEventStream(spark, dir)))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  def withWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Interval join: each click paired with the same user's purchases within
    * `windowMinutes` after it. The SAME combinators run in batch (for the
    * DuckDB oracle) and as a stream-stream join — in streaming, the
    * two-sided time-range condition is what lets Spark bound the join state
    * (each side's buffer is evicted once the other side's watermark passes
    * the range), so state is O(rate × window), not O(history). */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame, windowMinutes: Int = 10): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
  }

  /** The real stream-stream path for [[intervalJoin]]: two watermarked
    * readStreams, append-mode memory sink, run to completion. Watermark
    * metadata survives the column renames inside the join (it rides on the
    * attribute). */
  def runStreamJoin(spark: SparkSession, dir: String, name: String): DataFrame = {
    // INNER join: matches emit in the batch both sides arrive; the no-data
    // batch could only evict state, never emit — skip its fixed cost.
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff) {
      // ONE source, filtered twice — a stream-stream SELF-join. Two separate
      // readStreams would scan the input once per side per micro-batch.
      val src = readTestdataEventStream(spark, dir)
      val clicks = withWatermark(src.filter(col("event_type") === "click"))
      val purchases = withWatermark(src.filter(col("event_type") === "purchase"))
      val q = intervalJoin(clicks, purchases)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Left-outer interval join: every click, with its in-window purchases or
    * a null row if none arrived. Same bounded-state shape as [[intervalJoin]];
    * the OUTER (null-extended) row for a click is emitted only once the
    * watermark proves no purchase can still match — Spark's watermark-gated
    * outer join semantics, the streaming analog of "abandoned funnel". */
  def intervalJoinLeft(clicks: DataFrame, purchases: DataFrame, windowMinutes: Int = 10): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"))
  }

  /** Run [[intervalJoinLeft]] as a real watermarked stream-stream join.
    *
    * Determinism contract: an unmatched click's null row only flushes once
    * the GLOBAL watermark passes `c_ts + window`. The global watermark is
    * the MIN over both sides' watermark operators, and Catalyst pushes the
    * `event_type` filters below them — so each side's watermark is driven
    * by its own type's max event time, and the final watermark is
    * `min(max click ts, max purchase ts) − delay`. The caller must derive
    * `cutoff = min(max click ts, max purchase ts) − (window + delay)` (less
    * a safety margin for the watermark's ms truncation) and we filter the
    * click side to `c_ts < cutoff` INSIDE the streaming query: every
    * admitted click is then guaranteed to resolve (match or null) before
    * the source drains, and the result equals the batch twin with the same
    * predicate. */
  def runStreamLeftJoin(
      spark: SparkSession,
      dir: String,
      name: String,
      cutoff: java.sql.Timestamp): DataFrame = {
    graft.Session.withConf(spark, StreamWidth, StreamSplit) {
      // Watermark BEFORE the type/cutoff filters: the watermark must track
      // the full event stream's time, not the filtered click side's — the
      // last admitted click is otherwise 10 min ahead of its own side's
      // watermark and its outer row would never flush (the watermark node
      // only sees rows that reach it).
      val wm = withWatermark(readTestdataEventStream(spark, dir))
      val clicks = wm.filter(col("event_type") === "click" && col("ts") < lit(cutoff))
      val purchases = wm.filter(col("event_type") === "purchase")
      val q = intervalJoinLeft(clicks, purchases)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** FULL OUTER stream-stream interval join — both sides' unmatched rows
    * null-extend once the watermark proves no counterpart can arrive.
    * Same determinism contract as [[runStreamLeftJoin]], applied to BOTH
    * sides: each admitted row (either side) must have its match window
    * fully behind the final watermark, so the caller-supplied `cutoff`
    * filters clicks AND purchases inside the streaming query; the result
    * then equals the batch full-outer twin under the same predicate. */
  def intervalJoinFull(clicks: DataFrame, purchases: DataFrame, windowMinutes: Int = 10): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val p = purchases.select(
      col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
        "full_outer")
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"))
  }

  /** Run [[intervalJoinFull]] as a real watermarked stream-stream join. */
  def runStreamFullJoin(
      spark: SparkSession,
      dir: String,
      name: String,
      cutoff: java.sql.Timestamp): DataFrame = {
    graft.Session.withConf(spark, StreamWidth, StreamSplit) {
      val wm = withWatermark(readTestdataEventStream(spark, dir))
      val clicks = wm.filter(col("event_type") === "click" && col("ts") < lit(cutoff))
      val purchases = wm.filter(col("event_type") === "purchase" && col("ts") < lit(cutoff))
      val q = intervalJoinFull(clicks, purchases)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Native `session_window` aggregation on the REAL stream path, run to
    * a complete flush: the source replays as two ordered files — the full
    * event table, then one synthetic row (user −1) two hours past the max
    * — so the final watermark passes every real session's end (last event
    * + gap ≤ max + 30 min < max + 110 min) and append mode emits ALL of
    * them. The synthetic user's own session stays open by construction
    * and is filtered. Result: bit-equality with the BATCH sessionization
    * — the same oracle SQL verifies both paths. */
  def runStreamSessionWindow(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.Session.withConf(spark, StreamWidth, StreamSplit) {
      val events = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val streamDir = stagedDir("session-stream", dir) { sd =>
        val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0)
        val closeTs = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
        val closeRow = events.limit(1).select(
          lit(-1L).as("event_id"), lit(closeTs).as("ts"), lit(-1L).as("user_id"),
          lit("close").as("event_type"), lit(0.0).as("value"))
        writeReplayPart(sd, events, 0)
        writeReplayPart(sd, closeRow, 1)
      }
      val src = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      // NOTE: the synthetic user's filter must NOT sit inside the
      // streaming query — user_id is a grouping column, so Catalyst
      // pushes the predicate below the aggregation INTO THE SCAN, and the
      // close row would be dropped before ever advancing the watermark
      // (observed: the final flush silently never happens). Filter the
      // sink output instead; the synthetic session also never closes
      // (its end is past the final watermark), so this is belt and
      // braces.
      val agg = sessionCounts(withWatermark(src), "30 minutes")
      val q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).filter(col("user_id") =!= -1L)
  }

  /** Stream-static enrichment: a streaming source broadcast-joined to a
    * static dimension (no state, no watermark needed for the join itself —
    * the dim is re-resolved per micro-batch), then a windowed aggregation.
    * The standard "enrich events with reference data in flight" shape. */
  def runStreamStaticEnrich(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    // complete-mode output: the trailing no-data flush batch adds nothing
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff) {
      val dim = Seq(
        ("view", "engagement"), ("click", "engagement"),
        ("purchase", "conversion"), ("signup", "conversion"),
        ("error", "ops")).toDF("event_type", "category")
      val q = withWatermark(readTestdataEventStream(spark, dir))
        .join(broadcast(dim), Seq("event_type"))
        .groupBy(window(col("ts"), "1 day"), col("category"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
        .select(col("window.start").as("bucket"), col("category"),
          col("n_events"), col("value_sum"))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** The custom-state path ([[sessionizeStateful]]) run end-to-end as a
    * stream: sessions CLOSED by the event-time timeout are emitted;
    * sessions still open when the source drains stay in state (the
    * watermark never passes them), so this is a rows-only driver check —
    * closed-session semantics are oracle-equivalent only batch-side
    * (`q_events_session`) and watermark-advance-tested in ScalaTest. */
  def runStreamSessionize(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.Session.withConf(spark, StreamWidth, StreamSplit) {
      val q = sessionizeStateful(spark, withWatermark(readTestdataEventStream(spark, dir)))
        .toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Streaming exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps one row per `event_id` and
    * drops key state once the watermark passes — the streaming face of the
    * idempotent-load operator (SURVEY §2.1 S5). Demonstrated over a
    * deliberately doubled stream (the same source unioned with itself). */
  def runStreamDedup(spark: SparkSession, dir: String, name: String): DataFrame = {
    // dedup is a stateful FILTER: first occurrences emit on arrival; the
    // no-data batch could only evict key state — skip it.
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff) {
      // ONE source unioned with itself: a second readStream over the same
      // path would pay separate file-listing/offset admin per micro-batch.
      val src = readTestdataEventStream(spark, dir)
      val doubled = src.unionByName(src)
      val q = withWatermark(doubled)
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Tumbling-window aggregation per event type (the streaming twin of the
    * reference's daily aggregation, `database-schema.sql:202-231`). */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      .select(
        col("window.start").as("bucket"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Per-window KLL quantile sketches — streaming percentiles, the
    * production latency/size-distribution monitor: the mergeable sketch
    * ([[graft.functions.KllSketch]], a TypedImperativeAggregate) IS the
    * aggregation state, serialized into the streaming state store and
    * updated incrementally per micro-batch like any count. At 100 TB/day
    * the batch alternative re-ranks every window on every refresh; here
    * each window's state is a few KB regardless of event volume. */
  def windowQuantileSketches(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width))
      .agg(graft.functions.Kll.kllSketchAgg(col("value")).as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("n_events"), col("sk"))

  /** Per-day theta sketches of the active user set — streaming distinct
    * users WITH set algebra: unlike the HLL DAU/WAU rollups (union-only),
    * theta sketches intersect, so day-over-day RETURNING-user estimates
    * (retention) come from the at-rest sketches alone — no (day, user)
    * distinct join over history. Like [[windowQuantileSketches]], the
    * mergeable sketch is the streaming-aggregation state. */
  def dailyUserSketches(events: DataFrame, k: Int = 16384): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.functions.Theta.thetaSketchAgg(col("user_id"), k).as("sk"))
      .select(col("window.start").as("day"), col("sk"))

  /** Per-window frequent-items (Misra–Gries) sketches — streaming heavy
    * hitters, completing the sketch-as-state triad with
    * [[windowQuantileSketches]] (quantiles) and [[dailyUserSketches]]
    * (distinct + set algebra): "which items dominate this hour" maintained
    * incrementally in the state store at a few KB per window however many
    * events flow. Two sketches per window exercise both regimes — the
    * event-type sketch (k=32 ≫ type cardinality) stays in exact mode, the
    * user sketch (k=8 ≪ hourly user cardinality) purges and serves under
    * the NO_FALSE_NEGATIVES guarantee ([[graft.functions.FreqSketchAgg]]'s
    * envelope keeps streamLength/maxError lossless through state-store
    * serialization round-trips). */
  def windowFreqSketches(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width))
      .agg(
        graft.functions.Freq.freqSketchAgg(col("event_type"), 32).as("sk_type"),
        graft.functions.Freq.freqSketchAgg(col("user_id").cast("string"), 8).as("sk_user"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("n_events"),
        col("sk_type"), col("sk_user"))

  /** Per-window reference-binned value counts — the streaming half of a
    * PSI drift monitor: `edges` are a FROZEN reference profile's quantile
    * cut values ([[graft.operators.Robust.quantileEdges]], computed
    * offline), baked into a map-side binning expression, so each
    * micro-batch contributes plain windowed bin counts to the state store
    * — ≤ |edges|+1 rows of state per window however many events flow.
    * The PSI fold itself runs batch-side over the windowed counts
    * (`q_events_psi_stream`); the stream never recomputes quantiles.
    * Null values are ignored (they belong to no bin — same convention as
    * [[graft.operators.Robust.psiDrift]]). */
  def windowPsiCounts(events: DataFrame, edges: Seq[Double], width: String = "1 hour"): DataFrame = {
    val bin = edges.map(e => when(col("value") > lit(e), 1).otherwise(0)).reduce(_ + _)
    events
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), width), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("bin"), col("cnt"))
  }

  /** Per-window Poisson-bootstrap moment sums — the streaming half of a
    * windowed mean-CI monitor ("today's average order value is X ± Y",
    * maintained as the day streams in): each event's R replicate weights
    * are a pure function of its id ([[graft.operators.Bootstrap]]'s
    * key-seeded integer draws), so the per-(window, replicate) weighted
    * decimal sums are ordinary streaming-aggregation state — ≤ (R+1)
    * rows per window however many events flow, the
    * [[windowPsiCounts]] bounded-state discipline. j = −1 rides the
    * same explode with weight 1 (the plain n / mean path). The CI fold
    * itself runs batch-side over the windowed sums
    * (`q_events_bootstrap_stream`); the stream only adds. */
  def windowBootstrapSums(
      events: DataFrame, replicates: Int = 64, width: String = "1 day"): DataFrame = {
    import graft.operators.Bootstrap
    // ONE state row per window: all R (Σv·w, Σw) pairs live in the
    // raw-loop aggregate's buffer (the PoissonWeightSums discipline —
    // the explode(sequence) predecessor paid the R-way fan-out TWICE,
    // once in the generate and once through the stateful exchange +
    // state store: measured 12 s vs ~2 s at sf0.1). The value rides as
    // exact integer cents (DECIMAL(18,2) × 100), rescaled back to
    // decimal inside the aggregate, so the emitted sums are
    // bit-identical to the exploded form's sum(v·w).
    events
      .filter(col("value").isNotNull)
      .select(col("ts"), graft.functions.dec2(col("value")).as("__v"),
        Bootstrap.keyHash(col("event_id")).as("__h"))
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("sum_v"),
        graft.functions.PoissonWeightSums.poissonWeightedSums(
          col("__h"), (col("__v") * 100).cast("long"), replicates,
          Bootstrap.PoissonCutoffs).as("reps"))
      .select(col("window.start").as("bucket"), col("n"), col("sum_v"), col("reps"))
  }

  /** Per-day exact-decimal value sums — the streaming half of the CUSUM
    * changepoint monitor ("did the metric's LEVEL shift, and when?"
    * maintained as days stream in): state is ONE (n, Σ decimal) row per
    * day however many events flow (the [[windowPsiCounts]] bounded-state
    * discipline), and the argmax fold itself runs batch-side over the
    * calendar-bounded sink via the SAME
    * [[graft.operators.TimeSeries.cusumChangepoint]] operator the batch
    * gate uses — parity with the batch form by construction, not by
    * re-implementation. */
  def windowDailyMoneySums(events: DataFrame, width: String = "1 day"): DataFrame =
    events
      .filter(col("value").isNotNull)
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.dec2(col("value"))).cast("decimal(18,2)").as("rev"))
      .select(col("window.start").as("bucket"), col("n"), col("rev"))

  /** Sliding-window aggregation — each event lands in width/slide buckets. */
  def slidingCounts(events: DataFrame, width: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      .select(col("window.start").as("bucket"), col("n_events"), col("value_sum"))

  /** Gap-based sessionization via the built-in `session_window` (works in
    * batch and streaming; window end = last event + gap). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("value_sum"))

  // ------------------------------------------------- custom state (FMGWS) ----

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionAcc(startUs: Long, lastUs: Long, n: Int, sum: Double)

  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Int, value_sum: Double)

  // ----------------------------- arbitrary state (transformWithState) ----

  final case class RunningTotal(event_id: Long, user_id: Long, seq: Int, running_value: Double)

  /** Per-user running purchase totals on the Spark 4 arbitrary-state API
    * (`transformWithState` + `ValueState`, RocksDB state store — the
    * successor to `flatMapGroupsWithState` with typed, TTL-able state
    * primitives). State per key is ONE (count, sum) pair — O(users), not
    * O(events).
    *
    * Determinism: rows inside a micro-batch arrive in shuffle order, so the
    * processor sorts each key's batch iterator by (ts, event_id) before
    * folding — with the single-file source (one batch) the emitted sequence
    * is exactly the per-user event-time order, which is what the batch
    * window-cumsum oracle replays. Multi-batch deployments get per-batch
    * ordering, the semantics any arrival-ordered ledger has. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RunningTotal] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Int, Double)] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Int, Double)](
        "running",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt, org.apache.spark.sql.Encoders.scalaDouble),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RunningTotal] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
      var (n, sum) = if (state.exists()) state.get() else (0, 0.0)
      val out = sorted.map { e =>
        n += 1; sum += e.value
        RunningTotal(e.event_id, user, n, sum)
      }
      state.update((n, sum))
      out.iterator
    }
  }

  final case class TypeSeq(event_id: Long, user_id: Long, event_type: String, type_seq: Long)

  /** Per-user behavioural profile via `MapState[event_type → count]` — the
    * keyed-sub-state primitive of the arbitrary-state API (a map entry per
    * OBSERVED type, not a dense vector; state stays O(users × seen types)).
    * Emits each event's updated per-type sequence number, so the output is
    * an attributable ledger the window-rank oracle replays. */
  class TypeProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, TypeSeq] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "typeCounts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeSeq] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
      val out = sorted.map { e =>
        val n = (if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, n)
        TypeSeq(e.event_id, user, e.event_type, n)
      }
      out.iterator
    }
  }

  final case class RecentPurchases(
      event_id: Long, user_id: Long, recent_ids: Seq[Long])

  /** Bounded recent-history ledger via `ListState` — the third state
    * primitive: after each purchase, emit the user's last ≤ `keep`
    * purchase ids (most recent LAST). State is truncated on write
    * (`put` of the trimmed list), so it is O(users × keep) regardless of
    * history length — the "recently viewed" / fraud-recency shape. */
  class RecentPurchasesProcessor(keep: Int = 3)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RecentPurchases] {
    @transient private var recent: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[Long](
        "recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[RecentPurchases] = {
      val sorted = rows.toIndexedSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
      var window = if (recent.exists()) recent.get().toVector else Vector.empty[Long]
      val out = sorted.map { e =>
        window = (window :+ e.event_id).takeRight(keep)
        RecentPurchases(e.event_id, user, window)
      }
      recent.put(window.toArray)
      out.iterator
    }
  }

  /** Run [[RecentPurchasesProcessor]] over the purchase stream. */
  def runStreamRecentPurchases(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    // TimeMode.None: no timers, so the no-data batch can never emit — skip
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff, RocksDbState) {
      val src = readTestdataEventStream(spark, dir)
        .filter(col("event_type") === "purchase").as[Event]
      val q = src.groupByKey(_.user_id)
        .transformWithState(
          new RecentPurchasesProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Run [[TypeProfileProcessor]] over the full event stream. */
  def runStreamTypeProfile(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    // TimeMode.None: no timers, so the no-data batch can never emit — skip
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff, RocksDbState) {
      val src = readTestdataEventStream(spark, dir).as[Event]
      val q = src.groupByKey(_.user_id)
        .transformWithState(
          new TypeProfileProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Run [[RunningTotalsProcessor]] over the purchase stream. RocksDB is
    * the only state-store provider that supports transformWithState; the
    * conf flips for the query and restores after. */
  def runStreamRunningTotals(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    // TimeMode.None: no timers, so the no-data batch can never emit — skip
    graft.Session.withConf(spark, StreamWidth, StreamSplit, NoDataBatchOff, RocksDbState) {
      val src = readTestdataEventStream(spark, dir)
        .filter(col("event_type") === "purchase").as[Event]
      val q = src.groupByKey(_.user_id)
        .transformWithState(
          new RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  // Session arithmetic runs at MICROsecond resolution — `Timestamp.getTime`
  // alone is ms and would truncate event times (the events table carries µs),
  // silently shifting session bounds off the built-in session_window's.
  private def tsToUs(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def usToTs(us: Long): Timestamp = {
    val ts = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  /** Custom stateful sessionization with `flatMapGroupsWithState` — the
    * escape hatch for session semantics `session_window` can't express
    * (e.g. emit-on-close with custom accumulators). Event-time timeout =
    * watermark-driven session close. */
  def sessionizeStateful(spark: SparkSession, events: DataFrame, gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMs * 1000L
    events.as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionAcc], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[SessionAcc]]) =>
          if (state.hasTimedOut) {
            val done = state.getOption.getOrElse(Nil)
            state.remove()
            done.iterator.map(toSession(userId, _, gapUs))
          } else {
            val sorted = it.toSeq.sortBy(e => tsToUs(e.ts))
            var open = state.getOption.getOrElse(Nil)
            var closed = List.empty[SessionAcc]
            sorted.foreach { e =>
              val t = tsToUs(e.ts)
              open match {
                case cur :: rest if t - cur.lastUs <= gapUs =>
                  open = cur.copy(lastUs = math.max(cur.lastUs, t), n = cur.n + 1, sum = cur.sum + e.value) :: rest
                case cur :: rest =>
                  closed = cur :: closed
                  open = SessionAcc(t, t, 1, e.value) :: rest
                case Nil =>
                  open = SessionAcc(t, t, 1, e.value) :: Nil
              }
            }
            state.update(open)
            open.headOption.foreach { cur =>
              // timeout API is ms-resolution; round UP so the timeout never
              // fires a fraction early
              state.setTimeoutTimestamp(math.floorDiv(cur.lastUs + gapUs + 999L, 1000L))
            }
            closed.reverseIterator.map(toSession(userId, _, gapUs))
          }
      }
  }

  private def toSession(userId: Long, acc: SessionAcc, gapUs: Long): Session =
    Session(userId, usToTs(acc.startUs), usToTs(acc.lastUs + gapUs), acc.n, acc.sum)

  /** Watermark LATE-DATA audit — makes Structured Streaming's drop
    * semantics itself the thing under oracle test. The event table
    * replays as FOUR ordered micro-batches (`maxFilesPerTrigger=1`,
    * modification-time order):
    *   1. the on-time slice MINUS its single max-ts row — all windows
    *      build state (watermark still at epoch during this batch, so
    *      nothing is evicted yet);
    *   2. that max-ts row alone — the batch runs with
    *      wm = max(batch-1 ts) − delay, and at its END every window with
    *      end ≤ wm is EVICTED and emitted (append semantics);
    *   3. the late slice (`user_id % 17 = 3`) — rows whose window was
    *      evicted in step 2 are DROPPED by the engine (their window end ≤
    *      the watermark); rows in still-open windows MERGE into state;
    *   4. one synthetic "close" row 2 h past the global max — advances
    *      the watermark so every remaining window flushes (its own
    *      window never does, so it is absent from the output).
    * Returns the append-mode emissions: per-hour counts where the late
    * slice contributes ONLY to windows still open when it arrived. The
    * SQL oracle replays exactly that rule from the raw table — if
    * Spark's watermark contract changed, the hash compare would catch
    * it. (A subtlety this schedule encodes: eviction happens at the END
    * of a batch using THAT batch's watermark, so a drop needs the
    * eviction batch BETWEEN the on-time and late data — late rows merge
    * harmlessly into any state that still exists, watermark
    * notwithstanding.) */
  def runStreamLateAudit(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.Session.withConf(spark, StreamWidth, StreamSplit) {
      val events = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val streamDir = stagedDir("late-audit", dir) { sd =>
        val late = pmod(col("user_id"), lit(17L)) === 3
        // the split row and the close offset both anchor on the ON-TIME max
        // (the late slice may hold the global max; schedule math must not)
        val maxTs = events.filter(!late).agg(max(col("ts"))).head.getTimestamp(0)
        // STRUCTURAL PIN for the oracle's drop boundary: the engine evicts
        // window state at the end of batch 2 using wm₂ = secondMax − delay,
        // while batch 3's late-record admission sees wm₃ = max − delay. The
        // oracle pins wm₂; the two rules agree iff NO hour-window end falls
        // in (wm₂, wm₃] — true whenever both watermarks land in the same
        // hour, which dense data guarantees but nothing enforced. Enforce
        // it: a violating data distribution now fails LOUDLY here instead
        // of hash-mismatching the oracle.
        val secondMax = events.filter(!late).filter(col("ts") < lit(maxTs))
          .agg(max(col("ts"))).head.getTimestamp(0)
        val delayMs = 10 * 60 * 1000L
        val hourMs = 3600 * 1000L
        require(
          Math.floorDiv(secondMax.getTime - delayMs, hourMs) ==
            Math.floorDiv(maxTs.getTime - delayMs, hourMs),
          s"late-audit schedule: eviction watermark ($secondMax − 10m) and " +
            s"late-batch watermark ($maxTs − 10m) straddle an hour boundary — " +
            "the drop rule would be ambiguous; re-derive the split row for this data")
        val closeTs = new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L)
        val closeRow = events.limit(1).select(
          lit(-1L).as("event_id"), lit(closeTs).as("ts"), lit(0L).as("user_id"),
          lit("close").as("event_type"), lit(0.0).as("value"))
        val onTime = events.filter(!late)
        writeReplayPart(sd, onTime.filter(col("ts") < lit(maxTs)), 0)
        writeReplayPart(sd, onTime.filter(col("ts") === lit(maxTs)), 1)
        writeReplayPart(sd, events.filter(late), 2)
        writeReplayPart(sd, closeRow, 3)
      }
      val src = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val agg = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("w_start"), col("n_events"))
      val q = agg.writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name)
  }

  /** Incremental maintenance sink (the streaming analog of the reference's
    * per-date recompute, `database-schema.sql:202-231`): each micro-batch
    * recomputes only the dates it touches via dynamic partition overwrite. */
  def dailyAggToPartitionedSink(stream: DataFrame, path: String) =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val daily = batch
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      Writers.overwritePartitions(daily, path, Seq("event_date"))
    }

  /** The reference's daily-aggregation maintenance against its ACTUAL sink
    * type — an RDBMS (`database-schema.sql:202-231` is plpgsql), made
    * streaming-incremental: per micro-batch, aggregate the batch's rows,
    * MERGE additively with the sink's existing rows for the touched dates
    * (counts and exact-decimal money sums are both associative, so a date
    * arriving across many batches accumulates correctly), then DELETE +
    * re-insert just those dates. The touched-date list is collected
    * driver-side — bounded by the batch's date span, not its row count.
    * Append auto-creates the table on the first batch. */
  def dailyAggToJdbcSink(stream: DataFrame, url: String, table: String) =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      import graft.sources.JdbcDemo
      val spark = batch.sparkSession
      val daily = batch
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("value_sum"))
      val dates = daily.select(col("event_date")).distinct().collect().map(_.getDate(0))
      val conn = java.sql.DriverManager.getConnection(url)
      // Spark's JDBC writer passes the TABLE name through verbatim (the
      // DB normalizes it — uppercase in Derby) but quotes COLUMN names
      // lowercase; raw SQL against the table must follow both conventions
      // or it resolves to an absent identifier and silently no-ops.
      val exists =
        try conn.getMetaData
          .getTables(null, null, table.toUpperCase(java.util.Locale.ROOT), null).next()
        finally ()
      val merged =
        if (exists) {
          val existingSlice = JdbcDemo.readTable(spark, url, table)
            .filter(col("event_date").isin(dates.toIndexedSeq: _*))
          daily.unionByName(existingSlice)
            .groupBy(col("event_date"), col("event_type"))
            .agg(sum(col("n_events")).as("n_events"),
              moneySum(col("value_sum")).as("value_sum"))
        } else daily
      // Materialize BEFORE the delete (the merged slice reads the rows the
      // delete is about to remove) — but NOT on the driver: the merged
      // slice is bounded by date×type cardinality today, yet at cluster
      // scale a wide batch date-span would make a collect() the one
      // unbounded driver allocation on this path. A parquet spill keeps
      // materialization on the executors; the re-insert then streams
      // executor→DB through Spark's JDBC writer, driver never holding rows.
      val stage = java.nio.file.Files.createTempDirectory("graft-jdbc-merge").toFile
      try {
        merged.write.mode("overwrite").parquet(stage.toString)
        try {
          if (exists) {
            val st = conn.prepareStatement(s"""DELETE FROM $table WHERE "event_date" = ?""")
            dates.foreach { d => st.setDate(1, d); st.addBatch() }
            st.executeBatch()
            st.close()
          }
        } finally conn.close()
        spark.read.schema(merged.schema).parquet(stage.toString)
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .option("batchsize", 1000).jdbc(url, table, JdbcDemo.props)
      } finally {
        def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
        rm(stage)
      }
    }
}
