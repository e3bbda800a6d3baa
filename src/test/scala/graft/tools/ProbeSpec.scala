package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, Suite}
import graft.plans.CartesianGuard

/** The record Probe prints: its rows, jobs and micro-batches must be the
  * ones the run produced, checked against the query and an independent
  * listener. */
class ProbeSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  // q_events_late_drop's late-audit split row needs the sf0.01 event spread
  // (at sf0.001 its two watermarks straddle an hour and the query refuses)
  private val streamSf = "/root/testdata/sf0.01"

  /** Probe's record of `name` over `sf`, and every job id another listener
    * saw end while Probe ran. */
  private def probed(name: String, sf: String): (Probe.Record, Seq[Int]) = {
    val sc = spark.sparkContext
    val ended = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val query = Suite.resolve(Seq(name), benchForm = true).head
    try {
      val record = Probe.run(spark, query, sf)
      ListenerBusDrain(sc)
      (record, ended.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.unset(CartesianGuard.ConfKey)
    }
  }

  /** `count()` of `name`'s bench-form plan, run outside Probe. */
  private def count(name: String, sf: String): Long =
    try Suite.resolve(Seq(name), benchForm = true).head(spark, sf).count()
    finally spark.conf.unset(CartesianGuard.ConfKey)

  private def checkJobs(record: Probe.Record, ended: Seq[Int]): Unit = {
    val all = record.warm +: record.runs
    val ids = all.flatMap(_.jobs.map(_.id))
    assert(ids.distinct.size == ids.size, "a job is recorded in two runs")
    assert(ids.toSet == ended.toSet)
    assert(ids.size == ended.size)
    // each run's jobs are exactly the jobs that ended between its first
    // and last one: none missed inside a run, none from another run
    all.foreach { r =>
      assert(r.jobs.nonEmpty)
      val (lo, hi) = (r.jobs.map(_.id).min, r.jobs.map(_.id).max)
      assert(r.jobs.size == ended.count(id => id >= lo && id <= hi))
      assert(r.jobs.forall(_.wallMs >= 0))
    }
  }

  test("batch query: rows equal count(), jobs equal the job-end events") {
    val (record, ended) = probed("q_scan_project", sf)
    assert(record.runs.size == Probe.TimedRuns)
    val rows = count("q_scan_project", sf)
    assert(rows > 0)
    assert(record.runs.forall(_.rows == rows))
    checkJobs(record, ended)
    assert(record.runs.forall(_.batches.isEmpty))
    assert(record.lines.exists(_.contains(s"$rows rows")))
  }

  test("stream query: every micro-batch reports triggerExecution") {
    val (record, ended) = probed("q_events_late_drop", streamSf)
    val rows = count("q_events_late_drop", streamSf)
    assert(record.runs.forall(_.rows == rows))
    checkJobs(record, ended)
    record.runs.foreach { r =>
      assert(r.batches.nonEmpty)
      assert(r.batches.forall(_.durationMs.contains("triggerExecution")), r.batches)
      assert(r.gapMs >= 0 && r.gapMs <= (r.wallS * 1000).toLong + 1000)
    }
  }

  test("scale: 10x tables hold exactly 10x rows; the MK domain and the ingest pairs hold") {
    // at sf0.01: one family on the order substrate, one on the tagged documents
    val scaled =
      try Probe.scale(spark, streamSf, Seq("mk", "dedup_ingest"), runs = 1)
      finally spark.conf.unset(CartesianGuard.ConfKey)
    assert(scaled.map(_.family) == Seq("mk", "dedup_ingest"))
    scaled.foreach { s =>
      assert(s.one.rows > 0, s)
      assert(s.ten.rows == 10 * s.one.rows, s)
      assert(s.one.flat == s.ten.flat, s)
    }
    val mk = scaled.head
    assert(mk.one.flat > 0)
    assert(mk.lines.exists(_.contains("t(10x)/t(1x)")))
    intercept[IllegalArgumentException](Probe.scale(spark, streamSf, Seq("nope")))
  }
}
