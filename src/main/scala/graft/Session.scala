package graft

import java.util.concurrent.{ExecutionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession

/** The house SparkSession settings, scoped session-conf changes, and
  * independent jobs run concurrently on one session. */
object Session {

  /** The settings every graft session shares: `local[cpus]` with one
    * shuffle partition per core, UTC, the two parquet timestamp flags the
    * testdata needs (INT64-nanos columns read as long and are normalized
    * in [[graft.sources.Tables.events]]; µs-NTZ columns read as plain
    * TIMESTAMP so pushdown survives), no UI, and the graft SQL extensions.
    * Callers add only what is their own (local dir, warehouse dir). */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Runs `body` with the given session confs set, then restores each key
    * to what it was before, also when `body` throws: a key that was
    * explicitly set gets its old value back, a key that was unset is unset
    * again. */
  def withConf[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val before = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> before.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `tasks` on a pool of at most `defaultParallelism` threads made
    * for this call and returns their results in order once every task has
    * ended.
    * The threads are created by the calling thread, so they inherit its
    * Spark local properties (job group, description, scheduler pool) and
    * active session. If tasks fail, the first failing task's own exception
    * is rethrown, with the later failures attached as suppressed. */
  def runAll[A](spark: SparkSession, tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)))
    try {
      val futures = tasks.map(t => pool.submit[A](() => t()))
      val results = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      results.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => results.map(_.get)
      }
    } finally pool.shutdown()
  }
}
