package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Scratch, Session, Suite}

/** One probe over the Bench suite: where a query's wall time goes, and
  * what plan it runs. Query names resolve exactly as in Bench
  * ([[Suite.resolve]], bench form, CartesianGuard armed).
  *
  *  - `run q…`: one untimed warm run, then three timed runs, each followed
  *    by Bench's unpersist. Prints each run's wall time, rows and job
  *    count, and the min; for the last run also every job (wall, tasks,
  *    description, and each stage's wall and summed task time), the total
  *    idle time between jobs, and every micro-batch's `durationMs`,
  *    state-commit ms and input rows.
  *  - `plan q…`: the formatted explain, then one execution, then the
  *    AQE-final executed plan with its Exchange / ReusedExchange / Scan
  *    counts.
  *
  * Reads `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS` with Bench's defaults.
  * Conf A/B runs set Spark's own JVM properties, e.g.
  * {{{
  * sbt 'set run / javaOptions += "-Dspark.sql.adaptive.enabled=false"' \
  *     "runMain graft.tools.Probe run q_louvain_rounds"
  * }}}
  */
object Probe {

  val TimedRuns = 3

  final case class Stage(id: Int, wallMs: Long, taskMs: Long, tasks: Int, name: String)

  final case class Job(id: Int, wallMs: Long, desc: String, stages: Seq[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
  }

  final case class Batch(query: String, id: Long, durationMs: Map[String, Long],
      stateCommitMs: Long, inputRows: Long)

  /** One run: wall time, result rows, its jobs, the run time during which
    * no job was running, and its stream micro-batches. */
  final case class Run(wallS: Double, rows: Long, jobs: Seq[Job], gapMs: Long,
      batches: Seq[Batch])

  final case class Record(name: String, warm: Run, runs: Seq[Run]) {
    def minS: Double = runs.map(_.wallS).min

    def lines: Seq[String] = {
      val perRun = runs.zipWithIndex.map { case (r, i) =>
        f"[probe] $name run ${i + 1}: wall ${r.wallS}%.3f s, ${r.rows} rows, ${r.jobs.size} jobs"
      }
      val last = runs.last
      val jobs = last.jobs.flatMap { j =>
        f"[probe]   job ${j.id}%5d ${j.wallMs}%6d ms ${j.tasks}%5d tasks  ${j.desc.take(160)}" +:
          j.stages.map(s => f"[probe]     stage ${s.id}%5d wall ${s.wallMs}%6d ms " +
            f"taskSum ${s.taskMs}%7d ms ${s.tasks}%4d tasks  ${s.name.take(100)}")
      }
      val batches = last.batches.map { b =>
        val d = b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
        s"[probe]   batch ${b.query} ${b.id}: $d stateCommit=${b.stateCommitMs} rows=${b.inputRows}"
      }
      perRun ++ Seq(f"[probe] $name min ${minS}%.3f s; last run:") ++ jobs ++
        Seq(s"[probe]   ${last.jobs.size} jobs, sum ${last.jobs.map(_.wallMs).sum} ms, " +
          s"gaps between jobs ${last.gapMs} ms") ++
        batches ++
        (if (last.batches.isEmpty) Nil
         else Seq(s"[probe]   ${last.batches.size} micro-batches, sum triggerExecution " +
           s"${last.batches.map(_.durationMs.getOrElse("triggerExecution", 0L)).sum} ms"))
    }
  }

  private final case class Started(at: Long, desc: String, stageIds: Seq[Int])

  /** The one job/stage listener and the one stream-progress listener. Read
    * only after [[ListenerBusDrain]]: both are fed asynchronously. */
  private final class Recorder(spark: SparkSession) {
    private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Started]()
    private val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    private val batches = new ConcurrentLinkedQueue[Batch]()

    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).distinct.take(3).mkString("; "))
        starts.put(e.jobId, Started(e.time, desc, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val wall = (for (a <- s.completionTime; b <- s.submissionTime) yield a - b).getOrElse(-1L)
        stages.put(s.stageId,
          Stage(s.stageId, wall, s.taskMetrics.executorRunTime, s.numTasks, s.name))
      }
    }
    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(Option(p.name).getOrElse(p.id.toString), p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum, p.numInputRows))
      }
    }
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)

    def clear(): Unit = {
      ListenerBusDrain(spark.sparkContext)
      starts.clear(); ends.clear(); stages.clear(); batches.clear()
    }

    /** Everything recorded since [[clear]], over the run window [t0, t1]
      * (listener clock, epoch ms). */
    def run(wallS: Double, rows: Long, t0: Long, t1: Long): Run = {
      ListenerBusDrain(spark.sparkContext)
      val js = starts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
        Job(id, ends.asScala.get(id).map(_ - s.at).getOrElse(-1L), s.desc,
          s.stageIds.sorted.flatMap(i => Option(stages.get(i))))
      }
      val spans = starts.asScala.toSeq.map { case (id, s) =>
        (math.max(t0, s.at), math.min(t1, ends.asScala.getOrElse(id, t1)))
      }.filter { case (a, b) => b > a }.sorted
      val busy = spans.foldLeft((0L, t0)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1
      Run(wallS, rows, js, (t1 - t0) - busy,
        batches.asScala.toSeq.sortBy(b => (b.query, b.id)))
    }

    def detach(): Unit = {
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  /** One warm run, then [[TimedRuns]] timed runs of `query` over `dir`. */
  def run(spark: SparkSession, query: Suite.Query, dir: String): Record = {
    val rec = new Recorder(spark)
    def once(): Run = {
      rec.clear()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val rows = query(spark, dir).count()
      val wallS = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      Suite.release(spark)
      rec.run(wallS, rows, t0, t1)
    }
    try {
      val warm = once()
      Record(query.name, warm, Seq.fill(TimedRuns)(once()))
    } finally rec.detach()
  }

  /** The formatted explain of `query` over `dir`, then — after one
    * execution — its AQE-final executed plan and node counts. */
  def plan(spark: SparkSession, query: Suite.Query, dir: String): String = {
    val qe = query(spark, dir).queryExecution
    val explain = qe.explainString(FormattedMode)
    SQLExecution.withNewExecutionId(qe, Some(s"probe plan ${query.name}")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
    Suite.release(spark)
    val executed = qe.executedPlan.toString
    def count(re: String): Int = re.r.findAllIn(executed).size
    s"""=== ${query.name} (sf=$dir) ===
       |$explain
       |=== executed (AQE final) ===
       |$executed
       |Exchange nodes: ${count("(?m)^.*Exchange")}
       |ReusedExchange nodes: ${count("ReusedExchange")}
       |Scan nodes: ${count("FileScan|Scan parquet")}
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("run", "plan")(args(0)), "usage: Probe run|plan <query>...")
    val queries = Suite.resolve(args.tail.toSeq, benchForm = true)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus)
      .config(Scratch.tmpfs().map("spark.local.dir" -> _).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try queries.foreach { q =>
      if (args(0) == "run") run(spark, q, dir).lines.foreach(println)
      else print(plan(spark, q, dir))
    } finally spark.stop()
  }
}
