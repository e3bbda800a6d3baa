package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.Pipeline
import graft.plans.CartesianGuard

/** Benchmark harness: one process, one closed-loop client. Reads a plan
  * written by `perfbench/run.py` (`plan.json`: timed passes, each op with
  * its inputs, run length, trace flag), runs it against the
  * library's public entry points and writes `result.json`. Every op's full
  * result is collected and timed; its canonical form is dumped once per
  * distinct digest for the checker, outside the timed region.
  *
  * Usage: `perfbench.Main <plan.json>`, or `perfbench.Main --setup-only
  * <plan.json>` to time one set-up (JVM start to a ready session with the
  * contract object initialized) and exit.
  */
object Main {
  private val json = new ObjectMapper()
  val GuardBytes = "65536" // the value graft.Bench arms

  def main(args: Array[String]): Unit = {
    val probe = args(0) == "--setup-only"
    val plan = json.readTree(Paths.get(args.last).toFile)
    val spark = session(plan)
    // the contract object is initialized as part of set-up, for the
    // workloads whose ops go through it
    val contract = plan.get("passes").asScala.flatMap(_.asScala)
      .filter(_.get("kind").asText == "contract").map(_.get("name").asText).toSeq.distinct
    val oracle = new java.util.LinkedHashMap[String, String]()
    contract.foreach(n => oracle.put(n, SparkEntry.oracleSql.getOrElse(n, null)))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (probe) {
      println(s"setup_s $setupS")
      spark.stop()
      return
    }
    val work = Paths.get(plan.get("work").asText)
    json.writeValue(work.resolve("oracle.json").toFile, oracle)
    val streams = new StreamTrace
    spark.streams.addListener(streams)
    val runner = new Runner(spark, plan, streams)

    // Warm-up on inputs of another seed: the JIT, Spark's code-generation
    // cache and the class loaders are warm when timing starts, while no
    // timed op can reuse anything computed from its own inputs.
    val w0 = System.nanoTime()
    val warm = plan.get("warmup").asScala.map(p => runner.pass(p, traced = false, warmup = true)).toList.asJava
    val warmupS = (System.nanoTime() - w0) / 1e9

    val seconds = plan.get("seconds").asDouble * 1000
    val traceRun = plan.get("trace").asInt == 1
    val passes = plan.get("passes").asScala.toIndexedSeq
    val t0 = System.nanoTime()
    val done = new java.util.ArrayList[AnyRef]()
    var last = 0.0
    var i = 0
    // Whole passes only: a new pass starts while it is expected to end within
    // the run length. A traced run makes at least two passes, untraced and
    // traced in turn: the first traced pass gives the per-layer figures, it
    // and the untraced pass before it the tracing overhead.
    def more = i < passes.size && (i == 0 || (traceRun && i < 2) ||
      (System.nanoTime() - t0) / 1e6 + last <= seconds)
    while (more) {
      val p0 = System.nanoTime()
      done.add(runner.pass(passes(i), traced = traceRun && i % 2 == 1, warmup = false))
      last = (System.nanoTime() - p0) / 1e6
      i += 1
    }
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("setup_s", Double.box(setupS))
    out.put("warmup_s", Double.box(warmupS))
    out.put("warmup", warm)
    out.put("passes", done)
    out.put("peak_rss_mb", Double.box(peakRssMb()))
    out.put("heap_peak_mb", Double.box(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0))
    json.writeValue(Paths.get(plan.get("out").asText).toFile, out)
    spark.stop()
  }

  def session(plan: JsonNode): SparkSession = {
    val cores = plan.get("cores").asInt
    val work = Paths.get(plan.get("work").asText)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** VmHWM of this process: the peak resident set size. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final class Runner(spark: SparkSession, plan: JsonNode, streams: StreamTrace) {
  private val dumps = Paths.get(plan.get("dumps").asText)
  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
  // lazy: only contract ops pay for initializing the contract object
  private lazy val queries = SparkEntry.queries
  private lazy val guardExempt = SparkEntry.cartesianAllow -- SparkEntry.benchOverrides.keySet
  private val dumped = scala.collection.mutable.Set[String]()
  private val trace = new Trace

  def pass(ops: JsonNode, traced: Boolean, warmup: Boolean): AnyRef = {
    if (traced) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val t0 = System.nanoTime()
    val recs = ops.asScala.map(op => runOp(op, traced, warmup)).toList.asJava
    val wall = (System.nanoTime() - t0) / 1e6
    if (traced) {
      spark.sparkContext.removeSparkListener(trace)
      spark.listenerManager.unregister(trace)
    }
    Map[String, AnyRef]("traced" -> Boolean.box(traced), "wall_ms" -> Double.box(wall), "ops" -> recs).asJava
  }

  private def ms(t0: Long, t1: Long): java.lang.Double = Double.box((t1 - t0) / 1e6)

  private def runOp(op: JsonNode, traced: Boolean, warmup: Boolean): AnyRef = {
    val kind = op.get("kind").asText
    val name = if (kind == "contract") op.get("name").asText else kind + ":" + op.path("call").asText
    val rec = new java.util.LinkedHashMap[String, AnyRef]()
    rec.put("id", op.get("id").asText)
    rec.put("name", name)
    val guardOff = kind == "contract" && guardExempt(name)
    if (guardOff) spark.conf.unset(CartesianGuard.ConfKey)
    else spark.conf.set(CartesianGuard.ConfKey, Main.GuardBytes)
    val started0 = streams.started
    val before = if (kind == "etl") listing(Paths.get(op.get("wh").asText)) else Map.empty[String, (Long, Long)]
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    if (traced) { trace.reset(); streams.synchronized { streams.startMs.clear(); streams.stopMs.clear() } }
    val gc0 = Main.gcMs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var result: Option[(org.apache.spark.sql.types.StructType, Array[Row])] = None
    try kind match {
      case "contract" =>
        val df = queries(name)(spark, op.get("data").asText)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        rec.put("ms", ms(t0, t2)); rec.put("build_ms", ms(t0, t1)); rec.put("collect_ms", ms(t1, t2))
        result = Some((df.schema, rows))
      case "etl" =>
        val counts = Pipeline.run(spark, Pipeline.Config(op.get("csv").asText, op.get("wh").asText))
        rec.put("ms", ms(t0, System.nanoTime()))
        rec.put("counts", counts.map { case (k, v) => k -> Long.box(v) }.asJava)
    } catch {
      case e: Throwable =>
        rec.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000))
        System.err.println(s"[perfbench] op $name FAILED: ${e.getMessage}")
        e.printStackTrace()
    }
    val w1 = System.currentTimeMillis()
    System.err.println(s"[perfbench] ${op.get("id").asText} ${w1 - w0} ms streams=${streams.started - started0}")
    // --- untimed from here: leak accounting, then the between-op cleanup
    rec.put("streams_started", Long.box(streams.started - started0))
    val sc = spark.sparkContext
    rec.put("persisted_bytes_after", Long.box(sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum))
    rec.put("persisted_rdds_after", Int.box(sc.getPersistentRDDs.size))
    rec.put("leftover_ckpt_dirs", Int.box(Option(tmpDir.toFile.list()).map(_.count(_.startsWith("temporary-"))).getOrElse(0)))
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    rec.put("batch_trigger_ms", streams.synchronized(streams.progress.filter(_._2 >= w0)
      .map(p => Long.box(p._3.getOrElse("triggerExecution", 0L))).asJava))
    if (traced) {
      val t = new java.util.LinkedHashMap[String, AnyRef]()
      trace.snapshot(w0, w1).foreach { case (k, v) => t.put(k, toJava(v)) }
      t.put("driver_gc_ms", Long.box(Main.gcMs() - gc0))
      t.put("op_wall_ms", Long.box(w1 - w0))
      t.put("streams", streamStats(w0))
      rec.put("trace", t)
    }
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (kind == "etl") {
      val after = listing(Paths.get(op.get("wh").asText))
      val written = after.filter { case (p, v) => !before.get(p).contains(v) }
      rec.put("bytes_written", Long.box(written.values.map(_._1).sum))
      rec.put("files_written", Int.box(written.size))
      rec.put("csv_bytes", Long.box(listing(Paths.get(op.get("csv").asText)).values.map(_._1).sum))
    }
    // warm-up results are not checked
    if (!warmup) result.foreach { case (schema, rows) =>
      val c = Canon(schema, rows)
      rec.put("rows", Int.box(rows.length))
      rec.put("digest", c.digest)
      val key = s"${name}__${c.digest}"
      val path = dumps.resolve(s"$key.json")
      if (dumped.add(key)) Canon.write(path, c)
      rec.put("dump", path.toString)
    }
    rec
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case l: List[_] => l.map(toJava).asJava
    case i: Int => Long.box(i.toLong)
    case l: Long => Long.box(l)
    case other => other.asInstanceOf[AnyRef]
  }

  /** Streaming progress of the op that started at `since` (epoch ms). */
  private def streamStats(since: Long): AnyRef = streams.synchronized {
    val ps = streams.progress.filter(_._2 >= since)
    def d(k: String) = Long.box(ps.map(_._3.getOrElse(k, 0L)).sum)
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    m.put("queries", Long.box(ps.map(_._1).distinct.size.toLong))
    m.put("batches", Long.box(ps.size.toLong))
    m.put("input_rows", Long.box(ps.map(_._4).sum))
    m.put("trigger_ms", d("triggerExecution"))
    m.put("add_batch_ms", d("addBatch"))
    m.put("query_planning_ms", d("queryPlanning"))
    m.put("wal_commit_ms", d("walCommit"))
    m.put("latest_offset_ms", d("latestOffset"))
    m.put("get_batch_ms", d("getBatch"))
    m.put("state_commit_ms", Long.box(ps.map(_._5).sum))
    m.put("state_rows", Long.box(ps.map(_._6).sum))
    m.put("state_bytes", Long.box(ps.map(_._7).sum))
    m.put("start_ms", Long.box(streams.startMs.sum))
    m.put("stop_ms", Long.box(streams.stopMs.sum))
    streams.startMs.clear(); streams.stopMs.clear()
    m
  }

  /** path -> (size, mtime) of every regular file under `dir`. */
  private def listing(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally s.close()
    }
}
