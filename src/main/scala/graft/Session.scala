package graft

import org.apache.spark.sql.SparkSession

/** The house SparkSession settings and scoped session-conf changes. */
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
}
