package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ShuffledRowRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.CartesianGuard
import graft.sources.Writers
import graft.streaming.{DedupIngest, EventStreams, Replay}
import graft.streaming.EventStreams.Event

class StreamingSpec extends AnyFunSuite with SparkSpec with TempDirs {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, v: Double) =
    Event(id, Timestamp.valueOf(t), user, "click", v, "{}")

  private val batch = Seq(
    ev(1, "2024-01-01 00:05:00", 1, 1.0),
    ev(2, "2024-01-01 00:20:00", 1, 2.0),
    ev(3, "2024-01-01 01:10:00", 1, 4.0), // >30min gap → new session, new hour
    ev(4, "2024-01-01 00:45:00", 2, 8.0))

  test("streaming tumbling window equals the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(EventStreams.withWatermark(ms.toDF(), "1 minute"))
      .writeStream.format("memory").queryName("tumbling_out").outputMode("complete").start()
    try {
      ms.addData(batch: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy($"bucket", $"event_type").collect()
      val batched = EventStreams.tumblingCounts(batch.toDF())
        .orderBy($"bucket", $"event_type").collect()
      assert(streamed.toSeq == batched.toSeq)
    } finally q.stop()
  }

  test("streaming JDBC maintenance sink: per-date recompute equals the batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.JdbcDemo
    val url = JdbcDemo.derbyUrl(s"graft_jdbc_stream_${System.nanoTime()}")
    val ms = MemoryStream[Event]
    val q = EventStreams.dailyAggToJdbcSink(
      EventStreams.withWatermark(ms.toDF(), "1 minute"), url, "daily_agg").start()
    try {
      // a date's events arrive across TWO micro-batches: the sink must
      // merge additively with the already-landed slice (not clobber it
      // with the batch-local aggregate), so the final table equals the
      // full-batch aggregate
      val (b1, b2) = batch.splitAt(2)
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = JdbcDemo.readTable(spark, url, "daily_agg")
      .orderBy($"event_date", $"event_type").collect()
    val expect = batch.toDF()
      .groupBy(to_date($"ts").as("event_date"), $"event_type")
      .agg(count(lit(1)).as("n_events"), graft.functions.moneySum($"value").as("value_sum"))
      .orderBy($"event_date", $"event_type").collect()
    assert(back.length == expect.length)
    back.zip(expect).foreach { case (g, e) =>
      assert(g.getAs[Any]("event_date") == e.getAs[Any]("event_date"))
      assert(g.getAs[String]("event_type") == e.getAs[String]("event_type"))
      assert(g.getAs[Long]("n_events") == e.getAs[Long]("n_events"))
      assert(math.abs(g.getAs[Double]("value_sum") - e.getAs[Double]("value_sum")) < 1e-9)
    }
  }

  test("session_window closes on gap > 30min (batch)") {
    val sessions = EventStreams.sessionCounts(batch.toDF())
      .orderBy($"user_id", $"session_start").collect()
    assert(sessions.length == 3) // user1: 2 sessions, user2: 1
    val first = sessions(0)
    assert(first.getAs[Long]("n_events") == 2)
    assert(first.getAs[Timestamp]("session_end") ==
      Timestamp.valueOf("2024-01-01 00:50:00")) // last event + 30min gap
  }

  test("stateful sessionization emits closed sessions as watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val sessions = EventStreams.sessionizeStateful(
      spark, ms.toDF().withWatermark("ts", "0 seconds"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 00:05:00", 1, 1.0), ev(2, "2024-01-01 00:20:00", 1, 2.0))
      q.processAllAvailable()
      // watermark jumps far past the session's timeout → session closes
      ms.addData(ev(9, "2024-01-01 06:00:00", 2, 1.0))
      q.processAllAvailable()
      ms.addData(ev(10, "2024-01-01 07:00:00", 2, 1.0))
      q.processAllAvailable()
      val out = spark.table("sess_out").filter($"user_id" === 1).collect()
      assert(out.length == 1)
      assert(out(0).getAs[Int]("n_events") == 2)
      assert(out(0).getAs[Double]("value_sum") == 3.0)
      assert(out(0).getAs[Timestamp]("session_end") ==
        Timestamp.valueOf("2024-01-01 00:50:00"))
    } finally q.stop()
  }

  test("writers: idempotent append and dynamic partition overwrite") {
    val dir = tempDir("graft-writers").toString
    val t1 = s"$dir/t1"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Writers.idempotentAppend(spark, df, t1, Seq("id"))
    Writers.idempotentAppend(spark, df, t1, Seq("id")) // re-run: no-op
    assert(spark.read.parquet(t1).count() == 2)
    Writers.idempotentAppend(spark, Seq((3L, "c")).toDF("id", "v"), t1, Seq("id"))
    assert(spark.read.parquet(t1).count() == 3)

    val t2 = s"$dir/t2"
    val day1 = Seq(("2024-01-01", 10L), ("2024-01-02", 20L)).toDF("d", "n")
    Writers.overwritePartitions(day1, t2, Seq("d"))
    // recompute only day 2; day 1 must survive
    val day2fix = Seq(("2024-01-02", 99L)).toDF("d", "n")
    Writers.overwritePartitions(day2fix, t2, Seq("d"))
    // partition column type inference turns d into a DATE on read-back
    val out = spark.read.parquet(t2)
      .select($"d".cast("string"), $"n").orderBy($"d").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toList ==
      List(("2024-01-01", 10L), ("2024-01-02", 99L)))
  }

  test("JSON-lines source round-trips with an explicit schema") {
    // third source format next to parquet and CSV; schema is declared (no
    // inference pass — one scan, deterministic types)
    val dir = tempDir("graft-jsonl").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0), (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "score")
    df.write.mode("overwrite").json(dir)
    val back = spark.read.schema(df.schema).json(dir)
    // JSON sources surface every field as nullable; names and types round-trip
    assert(back.schema.map(f => (f.name, f.dataType)) == df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy($"id").collect().toSeq == df.orderBy($"id").collect().toSeq)
  }

  test("multimodal metadata stub is deterministic and correct") {
    val d = Seq((1L, "ab")).toDF("doc_id", "text")
    val meta = graft.multimodal.Multimodal.extractMetadata(
      spark, graft.multimodal.Multimodal.asBinaryPayloads(d)).head()
    assert(meta.n_bytes == 2)
    assert(meta.payload_sha ==
      "fb8e20fc2e4c3f248c60c39bd652f3c1347298bb977b8b4d5903b85055620603") // sha256("ab")
    assert(meta.width == 64 + 2 % 512 && meta.height == 64 + (2 / 7) % 512)
  }

  test("audio PCM round-trip: features from decoded bytes match the closed form") {
    import graft.multimodal.Multimodal
    val docId = 3L // p = 67, a = 5, 7 frames of 256
    val clips = Multimodal.asPcmClips(spark, Seq((docId, "x")).toDF("doc_id", "text"))
    val feat = Multimodal.audioFeatures(spark, clips).head()
    val n = 256 * (4 + docId % 5).toInt
    assert(feat.n_samples == n && feat.n_frames == n / 256)
    // every fifth frame is muted by construction: frame 4 of 0..6
    assert(feat.n_silent_frames == 1)
    // closed-form twin computed directly (no byte round-trip)
    val samples = Array.tabulate(n)(i => Multimodal.pcmSample(docId, i))
    val energyWant = samples.map(s => s.toLong * s).sum
    val zcWant = (0 until n - 1).count(i =>
      (i + 1) % 256 != 0 && samples(i) * samples(i + 1) < 0)
    assert(feat.energy == energyWant, s"energy ${feat.energy} != $energyWant")
    assert(feat.zero_crossings == zcWant)
    // the bytes really are 16-bit little-endian PCM: decode sample 7 by hand
    val payload = clips.head().payload
    val s7 = ((payload(15).toInt << 8) | (payload(14) & 0xFF))
    assert(s7 == Multimodal.pcmSample(docId, 7))
  }

  test("real image decode: PNG geometry round-trips and feeds true pixels") {
    import graft.multimodal.Multimodal
    val png = Multimodal.syntheticPng(42L, 40, 30)
    val decoded = Multimodal.decodeImage(png)
    assert(decoded.isDefined)
    val (w, h, px) = decoded.get
    assert(w == 40 && h == 30 && px.length == 1200)
    // deterministic generator: same seed → identical codec bytes
    assert(java.util.Arrays.equals(png, Multimodal.syntheticPng(42L, 40, 30)))
    // a real edit changes few pixels, and only those
    val edited = Multimodal.decodeImage(Multimodal.syntheticPng(42L, 40, 30, perturb = true)).get._3
    val changed = px.zip(edited).count { case (a, b) => a != b }
    assert(changed > 0 && changed <= 8, s"changed=$changed")
    // non-image payloads decline instead of faking geometry
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    // extractMetadata reports the REAL geometry for images (the non-image
    // fallback's fake geometry starts at 64 — disjoint from 40×30)
    val df = Seq((1L, png)).toDF("doc_id", "payload")
    val m = Multimodal.extractMetadata(spark, df).head()
    assert(m.width == 40 && m.height == 30 && m.n_bytes == png.length)
    // area-mean resample: exact on a constant region, right output size
    assert(Multimodal.areaMean(4, 4, Array.fill(16)(100.toByte), 2, 2).toSeq ==
      Seq.fill(4)(100.toByte))
  }

  test("multimodal frame sampling slices the payload at the stride, capped") {
    import graft.multimodal.Multimodal
    // 600 bytes → frames of 256+256+88; 5000 bytes → capped at MaxFrames
    val d = Seq((1L, "x" * 600), (2L, "y" * 5000)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, Multimodal.asBinaryPayloads(d))
      .collect().groupBy(_.doc_id)
    assert(frames(1L).sortBy(_.frame_idx).map(_.frame.length).toSeq == Seq(256, 256, 88))
    assert(frames(2L).length == Multimodal.MaxFrames)
    assert(frames(2L).forall(_.frame.length == Multimodal.FrameStride))
    // resize: fixed-size output regardless of input size (truncate or pad)
    assert(Multimodal.resizeStub(Array[Byte](1, 2, 3), 2, 2).toSeq == Seq[Byte](1, 2, 3, 0))
    assert(Multimodal.resizeAll(spark, Multimodal.asBinaryPayloads(d), 8, 8)
      .collect().forall(_.payload.length == 64))
  }

  test("perceptual hash: identical payloads collide, perturbation stays near, noise lands far") {
    import graft.multimodal.Multimodal
    val base = Array.tabulate(2048) { i =>
      val h = i * 2654435761L + 123456789L; ((h >> 16) & 0xFF).toByte
    }
    val near = base.clone(); (100 until 108).foreach(i => near(i) = (near(i) + 24).toByte)
    val far = Array.tabulate(2048)(i => ((i * i * 17 + 3) % 251).toByte)
    val df = Seq((1L, base), (2L, base.clone()), (3L, near), (4L, far))
      .toDF("doc_id", "payload")
    val ph = Multimodal.perceptualHash(spark, df).collect()
      .map(r => r.doc_id -> r.phash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(ph(a) ^ ph(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) > 0 && ham(1L, 3L) <= 10, s"near hamming ${ham(1L, 3L)}")
    assert(ham(1L, 4L) > 10, s"far hamming ${ham(1L, 4L)}")
    // banded pairing surfaces the identical and near pairs, never the far one
    val pairs = graft.operators.Dedup
      .hamming64BandedPairs(Multimodal.perceptualHash(spark, df).toDF(),
        "doc_id", "phash", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("intervalJoin window bounds are closed on both ends") {
    def e(id: Long, t: String, typ: String) =
      Event(id, Timestamp.valueOf(t), 1, typ, 0.0, "{}")
    val clicks = Seq(e(1, "2024-01-01 00:00:00", "click")).toDF()
    val purchases = Seq(
      e(10, "2024-01-01 00:00:00", "purchase"), // at click ts → in
      e(11, "2024-01-01 00:10:00", "purchase"), // exactly +10min → in
      e(12, "2024-01-01 00:10:00.000001", "purchase"), // 1µs past → out
      e(13, "2023-12-31 23:59:59", "purchase")  // before click → out
    ).toDF()
    val got = EventStreams.intervalJoin(clicks, purchases)
      .select("purchase_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(10L, 11L))
  }

  test("streamed left-outer interval join flushes unmatched clicks once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    def e(id: Long, t: String, typ: String, user: Long) =
      Event(id, Timestamp.valueOf(t), user, typ, 0.0, "{}")
    val ms = MemoryStream[Event]
    val wm = EventStreams.withWatermark(ms.toDF())
    val clicks = wm.filter($"event_type" === "click")
    val purchases = wm.filter($"event_type" === "purchase")
    val q = EventStreams.intervalJoinLeft(clicks, purchases)
      .writeStream.format("memory").queryName("lj_out").outputMode("append").start()
    try {
      ms.addData(
        e(1, "2024-01-01 00:00:00", "click", 1), // purchase at +5min → matched
        e(2, "2024-01-01 00:00:00", "click", 2), // no purchase → null row after watermark
        e(10, "2024-01-01 00:05:00", "purchase", 1))
      q.processAllAvailable()
      // The event_type filters push BELOW the watermark operators, so each
      // side's watermark advances only on its own type: drive both with a
      // late click+purchase pair, then one more batch (state evicts, and
      // outer rows emit, in the batch AFTER the watermark update).
      ms.addData(
        e(98, "2024-01-01 02:00:00", "click", 8),
        e(97, "2024-01-01 02:00:00", "purchase", 7))
      q.processAllAvailable()
      ms.addData(
        e(96, "2024-01-01 04:00:00", "click", 6),
        e(95, "2024-01-01 04:00:00", "purchase", 5))
      q.processAllAvailable()
      val rows = spark.table("lj_out").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // clicks 1, 2 and 98 are all behind the final watermark (03:50) by
      // more than the 10 min window; clicks 96 stays buffered.
      assert(rows == Set((1L, 10L), (2L, -1L), (98L, -1L)))
    } finally q.stop()
  }

  test("checkpointed stream restarts exactly-once: stop, append data, resume, no dups") {
    val dir = Files.createTempDirectory("graft_restart_src").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toFile.getAbsolutePath
    // stage each batch as a FLAT file in the watched dir (the file stream
    // source lists the directory, not nested subdirs)
    def write(events: Seq[Event], part: String): Unit = {
      val tmp = Files.createTempDirectory("graft_restart_stage").toFile
      events.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      tmp.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, s"$part.parquet"))
      }
    }
    write(Seq(ev(1, "2024-01-01 00:05:00", 1, 1.0), ev(2, "2024-01-01 00:20:00", 1, 2.0)), "p1")
    def start() = EventStreams.tumblingCounts(
      EventStreams.withWatermark(
        spark.readStream.schema(graft.schema.Schemas.events).parquet(dir), "1 minute"))
      .writeStream.format("memory").queryName("restart_out")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = spark.table("restart_out").agg(sum($"n_events")).head.getLong(0)
    assert(afterFirst == 2L)
    // new file lands while the stream is DOWN; restart from the checkpoint
    write(Seq(ev(3, "2024-01-01 00:25:00", 1, 4.0)), "p2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.table("restart_out").orderBy($"bucket").collect()
    // bucket 00:00 has events 1,2,3 → total count 3, NOT 5 (no reprocessing dups)
    assert(rows.map(_.getAs[Long]("n_events")).sum == 3L)
  }

  test("transformWithState running totals carry state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    Session.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val ms = MemoryStream[Event]
      val q = ms.toDS().groupByKey(_.user_id)
        .transformWithState(
          new EventStreams.RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream.format("memory").queryName("tws_out").outputMode("append").start()
      try {
        ms.addData(
          ev(2, "2024-01-01 00:10:00", 1, 5.0), // same batch, later ts → seq 2
          ev(1, "2024-01-01 00:00:00", 1, 2.0)) // sorted first within the batch
        q.processAllAvailable()
        ms.addData(ev(3, "2024-01-01 00:20:00", 1, 1.0)) // second batch resumes state
        q.processAllAvailable()
        val rows = spark.table("tws_out").orderBy($"seq").collect()
          .map(r => (r.getAs[Long]("event_id"), r.getAs[Int]("seq"), r.getAs[Double]("running_value")))
        assert(rows.toSeq == Seq((1L, 1, 2.0), (2L, 2, 7.0), (3L, 3, 8.0)))
      } finally q.stop()
    }
  }

  test("KLL sketch state survives micro-batch splits losslessly") {
    // the sketch IS the streaming aggregation state: two batches update
    // the same hour window, and the final sketch must have seen every
    // value exactly once (kll_n is exact through state-store round-trips)
    // with exact-mode quantiles (n << k=200)
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Kll._
    val ms = MemoryStream[Event]
    val q = EventStreams.windowQuantileSketches(ms.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("kll_stream_out").outputMode("complete").start()
    try {
      ms.addData((1 to 60).map(i => ev(i, "2024-01-01 00:30:00", 1, i.toDouble)): _*)
      q.processAllAvailable()
      ms.addData((61 to 100).map(i => ev(i, "2024-01-01 00:45:00", 1, i.toDouble)): _*)
      q.processAllAvailable()
      val r = spark.table("kll_stream_out")
        .select($"bucket", $"n_events", kllN($"sk").as("kn"),
          kllQuantile($"sk", lit(0.5)).as("p50"))
        .head()
      assert(r.getAs[Timestamp]("bucket") == Timestamp.valueOf("2024-01-01 00:00:00"))
      assert(r.getAs[Long]("n_events") == 100L && r.getAs[Long]("kn") == 100L)
      assert(r.getAs[Double]("p50") == 50.0) // exact mode: value at rank ceil(0.5*100)
    } finally q.stop()
  }

  test("frequent-items sketch state survives micro-batch splits losslessly") {
    // the Misra–Gries sketch IS the streaming aggregation state: two
    // batches update the same hour window; the merged sketch must have
    // seen every event exactly once (freq_n lossless through state-store
    // round-trips), keep the k=32 type sketch exact, and honor
    // NO_FALSE_NEGATIVES on the purging k=8 user sketch
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Freq._
    val ms = MemoryStream[Event]
    val q = EventStreams.windowFreqSketches(ms.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("freq_stream_out").outputMode("complete").start()
    try {
      // batch 1: 30 clicks from users 1..15; batch 2: 20 views from users
      // 10..29 plus 10 purchases from user 1 (the heavy hitter)
      ms.addData((1 to 30).map(i =>
        ev(i, "2024-01-01 00:10:00", 1 + (i - 1) % 15, 1.0).copy(event_type = "click")): _*)
      q.processAllAvailable()
      ms.addData(((31 to 50).map(i =>
        ev(i, "2024-01-01 00:40:00", i - 21, 1.0).copy(event_type = "view")) ++
        (51 to 60).map(i =>
          ev(i, "2024-01-01 00:50:00", 1, 1.0).copy(event_type = "purchase"))): _*)
      q.processAllAvailable()
      val r = spark.table("freq_stream_out")
        .select($"bucket", $"n_events",
          freqN($"sk_type").as("nt"), freqN($"sk_user").as("nu"),
          freqItems($"sk_type").as("types"),
          freqItems($"sk_user").as("users"),
          freqMaxError($"sk_user").as("err"))
        .head()
      assert(r.getAs[Timestamp]("bucket") == Timestamp.valueOf("2024-01-01 00:00:00"))
      assert(r.getAs[Long]("n_events") == 60L)
      assert(r.getAs[Long]("nt") == 60L && r.getAs[Long]("nu") == 60L)
      // k=32 type sketch stays exact: 3 types with exact collapsed bounds
      val types = r.getSeq[org.apache.spark.sql.Row](4).map(t =>
        t.getAs[String]("item") -> (t.getAs[Long]("est"), t.getAs[Long]("lb"), t.getAs[Long]("ub"))).toMap
      assert(types == Map(
        "click" -> ((30L, 30L, 30L)), "view" -> ((20L, 20L, 20L)),
        "purchase" -> ((10L, 10L, 10L))))
      // k=8 user sketch purged (29 users > capacity): user 1 has true
      // count 12 = 2 clicks + 10 purchases; NO_FALSE_NEGATIVES says any
      // user with count > maxError must be returned with bracketing bounds
      val err = r.getAs[Long]("err")
      val users = r.getSeq[org.apache.spark.sql.Row](5).map(u =>
        u.getAs[String]("item") -> (u.getAs[Long]("est"), u.getAs[Long]("lb"), u.getAs[Long]("ub"))).toMap
      assert(12L > err, s"fixture must exceed maxError=$err to exercise NFN")
      assert(users.contains("1"))
      val (e1, l1, u1) = users("1")
      assert(l1 <= 12L && 12L <= u1 && l1 <= e1 && e1 <= u1)
    } finally q.stop()
  }

  test("streaming PSI bin counts equal the batch binning across micro-batch splits") {
    // frozen reference edges baked into the stream: two micro-batches
    // update the same hour window and the final per-bin counts must be
    // exactly the batch binning of the union (split-invariant state)
    implicit val sqlCtx = spark.sqlContext
    val edges = Seq(2.0, 4.0, 6.0)
    val ms = MemoryStream[Event]
    val q = EventStreams.windowPsiCounts(ms.toDF().withWatermark("ts", "10 minutes"), edges)
      .writeStream.format("memory").queryName("psi_stream_out").outputMode("complete").start()
    try {
      ms.addData((1 to 6).map(i => ev(i, "2024-01-01 00:10:00", 1, i.toDouble)): _*)
      q.processAllAvailable()
      ms.addData((7 to 8).map(i => ev(i, "2024-01-01 00:40:00", 1, i.toDouble)): _*)
      q.processAllAvailable()
      val got = spark.table("psi_stream_out").orderBy($"bucket", $"bin").collect()
        .map(r => (r.getAs[Timestamp]("bucket"), r.getAs[Int]("bin"), r.getAs[Long]("cnt")))
      // values 1..8 vs edges (2,4,6): bin = (v>2)+(v>4)+(v>6) →
      // {1,2}→0, {3,4}→1, {5,6}→2, {7,8}→3: two per bin, one window
      val b0 = Timestamp.valueOf("2024-01-01 00:00:00")
      assert(got.toSeq == Seq((b0, 0, 2L), (b0, 1, 2L), (b0, 2, 2L), (b0, 3, 2L)))
    } finally q.stop()
  }

  test("streaming daily sums feed the batch CUSUM: split-invariant, step recovered") {
    // two micro-batches split MID-DAY: the per-day (n, decimal sum) state
    // must equal the batch daily agg of the union, and the batch-side
    // CUSUM fold over the sink must locate the planted level step
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = EventStreams.windowDailyMoneySums(ms.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("cusum_stream_out").outputMode("complete").start()
    try {
      // days 1-3 at 100/day (two 50s), days 4-6 at 300/day (two 150s);
      // the first batch ends halfway through day 2
      val evs = (0 until 6).flatMap(day => Seq(0, 1).map(h =>
        ev(day * 2 + h + 1, f"2024-01-0${day + 1}%d 0$h%d:00:00", 1,
          if (day < 3) 50.0 else 150.0)))
      ms.addData(evs.take(3): _*)
      q.processAllAvailable()
      ms.addData(evs.drop(3): _*)
      q.processAllAvailable()
      val sums = spark.table("cusum_stream_out").toDF("bucket", "n", "rev")
      assert(sums.count() == 6)
      assert(sums.orderBy($"bucket").collect().map(_.getAs[java.math.BigDecimal]("rev").doubleValue()).toSeq
        == Seq(100.0, 100.0, 100.0, 300.0, 300.0, 300.0))
      val cp = graft.operators.TimeSeries.cusumChangepoint(
        sums, col("bucket"), col("rev")).collect()(0)
      assert(cp.getAs[Timestamp]("cp_day") == Timestamp.valueOf("2024-01-03 00:00:00"))
      assert(cp.getAs[Double]("mean_before") == 100.0 &&
        cp.getAs[Double]("mean_after") == 300.0)
    } finally q.stop()
  }

  test("forward as-of join picks the earliest right row at or after each left row") {
    val events = Seq(
      ev(1, "2024-01-01 00:00:00", 1, 0).copy(event_type = "click"),
      ev(2, "2024-01-01 00:10:00", 1, 0).copy(event_type = "purchase"), // next for click 1
      ev(3, "2024-01-01 00:10:00", 1, 0).copy(event_type = "click"), // ties with purchase 2 → matches it
      ev(4, "2024-01-01 00:30:00", 1, 0).copy(event_type = "purchase"),
      ev(5, "2024-01-01 01:00:00", 2, 0).copy(event_type = "click")) // user 2: no purchase → null
      .toDF()
    val byId = graft.operators.AsOfJoin.eventsAsOfForward(events, "click", "purchase")
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(1).getAs[Timestamp]("next_right_ts") == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(byId(1).getAs[Long]("gap_us") == 10L * 60 * 1000 * 1000)
    assert(byId(3).getAs[Timestamp]("next_right_ts") == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(byId(3).getAs[Long]("gap_us") == 0L) // >= tie matches
    assert(byId(5).getAs[Timestamp]("next_right_ts") == null)
  }

  test("as-of join picks the latest right row at or before each left row") {
    val events = Seq(
      ev(1, "2024-01-01 00:00:00", 1, 0).copy(event_type = "click"),
      ev(2, "2024-01-01 00:10:00", 1, 0).copy(event_type = "click"),
      ev(3, "2024-01-01 00:10:00", 1, 0).copy(event_type = "purchase"), // ties with click 2 → matches it
      ev(4, "2024-01-01 01:00:00", 1, 0).copy(event_type = "purchase"),
      ev(5, "2024-01-01 00:05:00", 2, 0).copy(event_type = "purchase")) // user 2: no prior click
      .toDF()
    val rows = graft.operators.AsOfJoin.eventsAsOf(events, "purchase", "click").collect()
    val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(3).getAs[Timestamp]("last_right_ts") == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(byId(3).getAs[Long]("gap_us") == 0L)
    assert(byId(4).getAs[Timestamp]("last_right_ts") == Timestamp.valueOf("2024-01-01 00:10:00"))
    assert(byId(4).getAs[Long]("gap_us") == 50L * 60 * 1000 * 1000)
    assert(byId(5).getAs[Timestamp]("last_right_ts") == null)
  }

  test("Session.withConf restores a set key and unsets an absent one, also when the body throws") {
    val (set, absent) = ("graft.test.withConf.set", "graft.test.withConf.absent")
    spark.conf.set(set, "before")
    spark.conf.unset(absent)
    def restored(): Unit = {
      assert(spark.conf.get(set) == "before")
      assert(!spark.conf.getAll.contains(absent))
    }
    try {
      Session.withConf(spark, set -> "inside", absent -> "inside") {
        assert(spark.conf.get(set) == "inside")
        assert(spark.conf.get(absent) == "inside")
      }
      restored()
      intercept[IllegalStateException] {
        Session.withConf(spark, set -> "inside", absent -> "inside") {
          throw new IllegalStateException("body failed")
        }
      }
      restored()
    } finally spark.conf.unset(set)
  }

  test("Replay.stage writes one stamped file per part and builds the parts once per key") {
    val src = Files.createTempDirectory("graft-replay-src").toFile
    val df = (0L until 9L).map(i => (i, s"row$i")).toDF("id", "tag")
    val parts = (0 until 3).map(i => df.filter($"id" % 3 === i))
    var builds = 0
    def stage() = Replay.stage("replay-spec", src.toString) { builds += 1; parts }
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    val dir = stage()
    try {
      assert(builds == 1)
      assert(dir.list().toSeq.sorted ==
        Seq("batch-00.parquet", "batch-01.parquet", "batch-02.parquet"))
      for ((part, i) <- parts.zipWithIndex) {
        val f = new java.io.File(dir, f"batch-$i%02d.parquet")
        assert(f.lastModified == 1700000000000L + i * 600000L, f.getName)
        assert(rows(spark.read.parquet(f.toString)) == rows(part), f.getName)
      }
      assert(stage() == dir)
      assert(builds == 1)
    } finally {
      graft.sources.Staging.rmTree(dir)
      graft.sources.Staging.rmTree(src)
    }
  }

  test("Replay.drain rethrows the failing batch's throwable and leaves no query running") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Int]
    ms.addData(1, 2, 3)
    val boom = new IllegalStateException("first batch fails")
    val writer = ms.toDF().writeStream.foreachBatch { (_: DataFrame, _: Long) =>
      throw boom
    }
    val e = intercept[StreamingQueryException](Replay.drain(spark, writer))
    assert(e.getCause eq boom)
    assert(spark.streams.active.isEmpty)
  }

  /** A small events + documents table set in the contract's table layout
    * (`<dir>/<table>.parquet`). The on-time max (01:40) and the row before
    * it (01:30) share an hour after the 10-minute delay, as the late-audit
    * schedule requires; user 3 is the late slice. */
  private lazy val streamTables: String = {
    val dir = Files.createTempDirectory("graft-stream-tables").toString
    Seq(
      ev(1, "2024-01-01 00:05:00", 1, 1.0), ev(2, "2024-01-01 00:40:00", 2, 2.0),
      ev(3, "2024-01-01 01:10:00", 1, 3.0), ev(4, "2024-01-01 01:30:00", 2, 4.0),
      ev(5, "2024-01-01 01:40:00", 1, 5.0), ev(6, "2024-01-01 00:30:00", 3, 6.0),
      ev(7, "2024-01-01 01:35:00", 3, 7.0))
      .toDF().write.parquet(s"$dir/events.parquet")
    val fox = "the quick brown fox jumps over the lazy dog"
    Seq(
      (1L, fox, "en", "web"), (2L, fox + " again", "en", "web"),
      (3L, "streaming state stores commit once per micro-batch", "en", "books"),
      (4L, fox, "en", "forum"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("contract stream entries leave the session conf exactly as they found it") {
    for (name <- Seq("q_events_late_drop", "q_dedup_ingest_stream")) {
      val before = spark.conf.getAll
      assert(SparkEntry.queries(name)(spark, streamTables).collect().nonEmpty, name)
      assert(spark.conf.getAll == before, name)
    }
  }

  test("every job a stream run starts carries that run's job group, sink fan-outs included") {
    // Spark sets the stream thread's job group to the run id; a sink write
    // on a reused pool thread would carry an earlier run's group instead
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.add(
        "job" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: StreamingQueryListener.QueryStartedEvent => events.add("start" -> s.runId.toString)
        case t: StreamingQueryListener.QueryTerminatedEvent => events.add("end" -> t.runId.toString)
        case _ => ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val query = Suite.resolve(Seq("q_dedup_ingest_stream"), benchForm = true).head
      (1 to 2).foreach(_ => assert(query(spark, streamTables).collect().nonEmpty))
      ListenerBusDrain(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.unset(CartesianGuard.ConfKey)
    }
    // (run id, job groups of the jobs started between its start and end)
    val runs = events.asScala.foldLeft(List.empty[(String, List[String])] -> false) {
      case ((rs, _), ("start", id)) => ((id, Nil) :: rs) -> true
      case ((rs, open), ("end", id)) => assert(open && rs.head._1 == id); rs -> false
      case (((id, gs) :: rs, true), (_, group)) => ((id, group :: gs) :: rs) -> true
      case (acc, _) => acc
    }._1
    assert(runs.size == 2)
    runs.foreach { case (id, groups) =>
      assert(groups.nonEmpty)
      val stray = groups.filterNot(_ == id)
      assert(stray.isEmpty,
        s"run $id: ${stray.size} of ${groups.size} jobs carry job group ${stray.distinct}")
    }
  }

  test("a bench-form dedup ingest run leaves at most one widening barrier per trigger persisted") {
    // each trigger releases the checkpoints its frames scan; what may stay
    // is the Widen.cpuWide barrier under Dedup.shingleSets (a checkpoint
    // straight over a round-robin shuffle), which none of those frames
    // scans; the context cleaner frees it once it is garbage
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val row = DedupIngest.runStreamDedupIngest(spark, streamTables, assertFull = false).head()
    assert(row.getBoolean(1))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }.values
    assert(left.size <= 2, left.map(_.toDebugString).mkString("\n"))
    left.foreach(r =>
      assert(r.dependencies.exists(_.rdd.isInstanceOf[ShuffledRowRDD]), r.toDebugString))
  }

  test("driver contract: entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
