package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Session
import graft.sources.{Staging, Tables}
import graft.transform.Transforms

/** Continuous SCD Type 2 maintenance — the streaming face of
  * [[Transforms.scdType2]]: status snapshots arrive as a date-striped
  * file stream (CDC order: a key's later snapshots land in later
  * batches), and every micro-batch merges into the at-rest versioned
  * dimension INCREMENTALLY — only the batch's keys are touched, and of
  * those only the OPEN (is_current) version can change: it closes at the
  * first differing new snapshot's date, new versions append after it,
  * and closed history is immutable, never re-read and never rewritten.
  * Per-batch cost is |batch keys| × (1 current row + batch rows) — the
  * shape a dimension store maintains continuously under a CDC feed.
  *
  * The merge re-derives each affected key's tail by running the SAME
  * change-detection (lag ≠) over {current version as a pseudo-snapshot}
  * ∪ {batch snapshots}; since all batch timestamps are ≥ the current
  * version's valid_from (date-striped replay) and closed history is by
  * construction the full-input result's prefix, stream-merge ≡ one-shot
  * [[Transforms.scdType2]] over the whole input EXACTLY, whatever the
  * batch split — `q_scd2_ingest_stream` asserts that parity row-for-row
  * in-plan (key, status, valid_from, valid_to, is_current); the oracle
  * pins key cardinality and the booleans.
  *
  * At 100 TB the dimension would rest partitioned by key hash-bucket and
  * the per-batch rewrite would be a dynamic partition overwrite of the
  * buckets containing the batch's keys (the
  * [[graft.sources.Writers.overwritePartitions]] shape); locally each
  * batch writes a fresh versioned dir and atomically advances a pointer —
  * same swap semantics, one dir instead of per-bucket dirs.
  */
object ScdIngest {

  /** The q_scd2 snapshot prep: per-customer per-date order status, same-day
    * conflicts collapsed to the max-orderkey row. Collapse is per
    * (key, date), so a DATE-striped split computes it identically to the
    * whole-input pass. */
  private def snapshots(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderstatus").as("status"))
      .withColumn("__nd", lead(col("o_orderdate"), 1).over(w))
      .filter(col("__nd").isNull || col("__nd") =!= col("o_orderdate"))
      .drop("__nd", "o_orderkey")
  }

  /** Replay the snapshots as `nBatches` CONTIGUOUS-date-range parquet
    * files (memoized per data dir): every row of one date lands in one
    * batch, and a key's later dates land in later batches — the CDC
    * ordering contract the incremental merge needs. */
  private def stagedSnapshots(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"scd-ingest-$nBatches", dir) {
      val snap = snapshots(spark, dir)
      // date → stripe via rank over the DISTINCT date domain (bounded,
      // calendar-sized — the single-partition window is over dates, never
      // rows), joined back broadcast. Everything stays in-plan; no typed
      // driver values.
      val dates = snap.select(col("o_orderdate")).distinct()
      val nDates = dates.count()
      val striped = snap.join(
        broadcast(dates.withColumn("__r",
          row_number().over(Window.orderBy(col("o_orderdate"))))),
        Seq("o_orderdate"))
        .withColumn("__b", least(
          floor((col("__r") - 1) * nBatches / nDates), lit(nBatches - 1)))
      (0 until nBatches).map(i => striped.filter(col("__b") === i).drop("__r", "__b"))
    }

  private def readOrEmpty(
      spark: SparkSession, dir: java.io.File,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (dir.exists()) spark.read.schema(schema).parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Run the SCD2 ingest stream to completion and return ONE materialized
    * row `(n_keys, versions_nonempty, parity_ok)`; `parity_ok` is the
    * streamed-dimension ≡ whole-input-scdType2 row equality. The result is
    * collected (1 row, bounded) before the run's scratch dir is deleted —
    * the versioned dim dirs are per-run MUTABLE state (Staging is
    * input-only).
    *
    * `assertFull = false` (the bench-mode form, the record's
    * `benchPlan`) times the ingest stream alone: the whole-input
    * recompute is the verification harness — a dimension store never
    * re-derives its full history per batch. */
  def runStreamScdIngest(
      spark: SparkSession, dir: String,
      nBatches: Int = 2, assertFull: Boolean = true): DataFrame = {
    val staged = stagedSnapshots(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-scd-ingest").toFile
    val snapSchema = snapshots(spark, dir).schema
    // validity bounds inherit o_orderdate's type (timestamp in this data —
    // deriving instead of hardcoding keeps the empty-dim read consistent)
    val tsType = snapSchema("o_orderdate").dataType
    val dimSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_custkey",
        snapSchema("o_custkey").dataType),
      org.apache.spark.sql.types.StructField("status", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("valid_from", tsType),
      org.apache.spark.sql.types.StructField("valid_to", tsType),
      org.apache.spark.sql.types.StructField("is_current", org.apache.spark.sql.types.BooleanType)))
    // the versioned-dir pointer: batch i reads v(i), writes v(i+1)
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    def dimDir(v: Int) = new java.io.File(out, s"dim-v$v")

    try Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, snapSchema, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          val v = version.get()
          val dim = readOrEmpty(s, dimDir(v), dimSchema)
          val keys = batch.select(col("o_custkey")).distinct()
          // untouched: every row of unaffected keys + affected keys'
          // CLOSED history (immutable once valid_to is set)
          val untouched = dim.join(keys, Seq("o_custkey"), "left_anti")
            .unionByName(dim.filter(!col("is_current"))
              .join(keys, Seq("o_custkey"), "left_semi"))
          // re-derive each affected key's tail: current version replayed
          // as a pseudo-snapshot at its valid_from, then the batch rows
          val tail = Transforms.scdType2(
            dim.filter(col("is_current"))
              .join(keys, Seq("o_custkey"), "left_semi")
              .select(col("o_custkey"), col("valid_from").as("o_orderdate"), col("status"))
              .unionByName(batch),
            "o_custkey", "o_orderdate", "status")
            .select(col("o_custkey"), col("status"),
              col("valid_from"), col("valid_to"), col("is_current"))
          untouched.unionByName(tail)
            .write.mode("overwrite").parquet(dimDir(v + 1).toString)
          version.incrementAndGet()
          ()
        })

      val streamedRaw = readOrEmpty(spark, dimDir(version.get()), dimSchema)
      val row =
        if (assertFull) {
          // grouped with multiplicity (verify path only) so a replayed /
          // double-merged micro-batch — identical version rows twice —
          // fails parity instead of value-matching
          val streamed = streamedRaw
            .groupBy(col("o_custkey"), col("status"), col("valid_from"),
              col("valid_to"), col("is_current"))
            .agg(count(lit(1)).as("mult_s"))
          val full = Transforms.scdType2(snapshots(spark, dir),
            "o_custkey", "o_orderdate", "status")
            .select(col("o_custkey").as("f_key"), col("status").as("f_status"),
              col("valid_from").as("f_from"), col("valid_to").as("f_to"),
              col("is_current").as("f_cur")).withColumn("in_f", lit(1L))
          // NULL-SAFE equality (<=>): valid_to is NULL on every open
          // version, and null join keys never match under plain equality —
          // a Seq-keys join here would fail parity for every current row
          streamed.withColumn("in_s", lit(1L))
            .join(full,
              col("o_custkey") <=> col("f_key") && col("status") <=> col("f_status")
                && col("valid_from") <=> col("f_from") && col("valid_to") <=> col("f_to")
                && col("is_current") <=> col("f_cur"), "full")
            .agg(
              coalesce(sum(col("mult_s")), lit(0L)).as("n_versions"),
              (coalesce(sum(when(col("in_s").isNull || col("in_f").isNull
                || col("mult_s") =!= 1L, 1L)), lit(0L)) === 0L)
                .as("parity_ok"))
            .head()
        } else {
          streamedRaw.agg(count(lit(1)).as("n_versions"),
            lit(true).as("parity_ok")).head()
        }
      // every key owns ≥1 version, so the key domain is readable off the
      // merged dimension itself — no re-derivation of the snapshot feed
      val nKeys = streamedRaw.select(col("o_custkey")).distinct().count()
      import spark.implicits._
      Seq((nKeys, row.getLong(0) > 0L, row.getBoolean(1)))
        .toDF("n_keys", "versions_nonempty", "parity_ok")
    } finally Staging.rmTree(out)
  }
}
