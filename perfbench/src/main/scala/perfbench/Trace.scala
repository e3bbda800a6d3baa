package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op scheduler, task, storage and Catalyst counters, from Spark's
  * public listener APIs. Registered only for traced passes; the harness
  * drains the listener bus at the end of each op, reads [[snapshot]] and
  * calls [[reset]] before the next op. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map[Int, (Long, String)]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long, String)]()
  private val c = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  private val rddBlocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  private var blockPeak = 0L

  def reset(): Unit = synchronized {
    jobStarts.clear(); jobSpans.clear(); c.clear(); blockPeak = blockBytes
  }

  private val execSites = mutable.Map[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId.toString) = s.description }
    case _ =>
  }

  /** The job's short call site ("collect at X.scala:12"): the one a stream
    * sets for its micro-batches, else the one of the SQL action the job
    * belongs to (adaptive execution submits stage jobs from a pool thread),
    * else the result stage's name. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.short")
      .orElse(prop("spark.sql.execution.id").flatMap(execSites.get).filter(_.contains(".scala:")))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobStarts(e.jobId) = (e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, site) => jobSpans += ((t0, e.time, site)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    c("stages") += 1
    val m = si.taskMetrics
    if (si.numTasks == 1 && m != null &&
        m.inputMetrics.bytesRead + m.shuffleReadMetrics.totalBytesRead > (1L << 20))
      c("single_task_stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms") += m.executorRunTime
      c("task_cpu_ns") += m.executorCpuTime
      c("task_gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle_fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("scan_bytes") += m.inputMetrics.bytesRead
      c("scan_rows") += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      blockBytes -= rddBlocks.remove(id).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        rddBlocks(id) = size
        blockBytes += size
      }
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    c("executions") += 1
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => c(s"${p}_ms") += s.durationMs)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { c("executions") += 1 }

  /** Counters of the op that ran in `[t0, t1]` (epoch ms). Job time is the
    * union of the job intervals clipped to the op, so busy + gap = wall. */
  def snapshot(t0: Long, t1: Long): Map[String, Any] = synchronized {
    val spans = jobSpans.map { case (a, b, s) => (math.max(a, t0), math.min(b, t1), s) }
      .filter { case (a, b, _) => b >= a }.sortBy(_._1)
    var busy = 0L
    var cur = (Long.MinValue, Long.MinValue)
    spans.foreach { case (a, b, _) =>
      if (a > cur._2) { if (cur._2 > cur._1) busy += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) busy += cur._2 - cur._1
    val byFile = spans.groupBy { case (_, _, s) => fileOf(s) }.map { case (f, js) =>
      f -> List(js.size, js.map { case (a, b, _) => b - a }.sum)
    }
    val verify = spans.filter(_._3.startsWith("count at Pipeline.scala")).map { case (a, b, _) => b - a }.sum
    c.toMap ++ Map(
      "jobs" -> jobSpans.size, "job_busy_ms" -> busy, "jobs_by_file" -> byFile,
      "cached_bytes_peak" -> blockPeak, "pipeline_count_ms" -> verify)
  }

  private def fileOf(site: String): String = {
    val i = site.lastIndexOf(" at ")
    val s = if (i >= 0) site.substring(i + 4) else site
    s.takeWhile(_ != ':')
  }
}

/** Streaming observer, registered for the whole run: counts queries started
  * (the start callback runs synchronously inside `start()`, so an op's
  * kind is known as soon as it returns) and keeps every progress report. */
final class StreamTrace extends StreamingQueryListener {
  @volatile var started = 0L
  private val starts = mutable.Map[java.util.UUID, Long]()
  private val lastEnd = mutable.Map[java.util.UUID, Long]()
  val progress = mutable.ArrayBuffer[(java.util.UUID, Long, Map[String, Long], Long, Long, Long, Long)]()
  val startMs = mutable.ArrayBuffer[Long]()
  val stopMs = mutable.ArrayBuffer[Long]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    started += 1
    starts(e.runId) = System.currentTimeMillis()
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    val durs = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala.map { case (k, v) => k -> v.longValue }.toMap
    val trigger0 = java.time.Instant.parse(p.timestamp).toEpochMilli
    if (!lastEnd.contains(p.runId)) starts.get(p.runId).foreach(s => startMs += math.max(0L, trigger0 - s))
    lastEnd(p.runId) = trigger0 + durs.getOrElse("triggerExecution", 0L)
    val ops = p.stateOperators
    progress += ((p.runId, trigger0, durs, p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    lastEnd.remove(e.runId).foreach(t => stopMs += math.max(0L, System.currentTimeMillis() - t))
    starts.remove(e.runId)
  }
}
