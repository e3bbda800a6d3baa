package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.Dedup
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous near-dup ingestion — the streaming face of
  * [[graft.operators.Dedup.minHashIncrementalPairs]]: documents arrive as
  * a replayed file stream and every micro-batch runs the per-batch index
  * path — probe the PERSISTED band index with the batch's banding rows
  * (equi-join on (band, bucket)), verify candidates with exact Jaccard,
  * emit the batch's near-dup pairs, then APPEND the batch's banding rows
  * and shingles to the index. The accepted corpus is never rescanned;
  * per-batch cost is |batch| × bands probe rows — the shape a 100 TB
  * ingest pipeline runs continuously.
  *
  * The band index rests PARTITIONED by `pbkt = pmod(hash(band, bucket), N)`
  * ([[Dedup.bandPartition]], the same at-rest posture as the IVF cell
  * layout): the probe derives the same hash map-side and joins on it, so
  * the per-batch index scan prunes to the buckets the batch can actually
  * hit instead of re-reading the whole index every trigger. The SHINGLE
  * store rests partitioned the same way by `sbkt = pmod(hash(doc_id), N)`
  * ([[Dedup.shinglePartition]]), so the exact-Jaccard verify join-back
  * prunes to the partitions holding the trigger's CANDIDATE ids — both
  * index scans are trigger-footprint-sized, measured 4.9% of store rows
  * at 10× under the ruled layout (`Probe scale dedup_ingest`).
  *
  * Every unordered pair is examined exactly once (when its LATER document
  * arrives: earlier-batch partners via the index probe, same-batch
  * partners via the in-batch self-join), and banding is per-document — so
  * the UNION of all batches' pairs equals the whole-corpus operator's
  * pair set exactly, whatever the batch split. `q_dedup_ingest_stream`
  * asserts that equality (ids, verified jaccard values, AND multiplicity —
  * a replayed/double-appended micro-batch fails the parity boolean)
  * in-plan.
  */
object DedupIngest {

  /** The at-rest partition columns of the band index and of the shingle
    * store: one level (`pbkt`, `sbkt`), or two when `nSub > 1`. */
  private[graft] def partitionCols(nSub: Int): (Seq[String], Seq[String]) =
    if (nSub > 1) (Seq("pbkt", "sbb"), Seq("sbkt", "ssb")) else (Seq("pbkt"), Seq("sbkt"))

  /** One trigger's work before its sinks: shingle the batch, band it ONCE
    * (checkpointed, shared by the index append and the probe), plan the
    * pruned probe from that banding, and build the batch's verified pairs
    * against the pinned snapshots. Returns (shingles, bands, pairs).
    *
    * The probe plan is a bounded distinct over the banding, collected
    * driver-side: the level-1 bucket list (≤ `nPart` values), or for
    * two-level stores the combined cell-id list ([[Dedup.autoBandLayout]];
    * ≤ 4096 values — past that the probe falls back to the level-1 prune,
    * so collecting more is pointless). Planning from the banding itself
    * lets the pair write run concurrently with both appends instead of
    * behind the band append's directory diff. `Probe scale dedup_ingest`
    * times this function against a 1× and a 10× index. */
  private[graft] def triggerPairs(batch: DataFrame, bandsSnap: DataFrame,
      shSnap: DataFrame, nPart: Int, nSub: Int): (DataFrame, DataFrame, DataFrame) = {
    val newSh = Dedup.shingleSets(batch, n = 3)
    val newBands = Dedup.bandRows(newSh).localCheckpoint(false)
    val cells =
      if (nSub > 1)
        Some(newBands.select(Dedup.bandCell(nPart, nSub).as("c"))
          .distinct().limit(4097).collect().map(_.getInt(0)).toSeq)
      else None
    val bkts =
      if (nSub > 1) Nil
      else newBands.select(Dedup.bandPartition(nPart).as("pbkt"))
        .distinct().collect().map(_.getInt(0)).toSeq
    val pairs = Dedup.minHashIncrementalPairsPreBanded(
      newSh, newBands, bandsSnap, shSnap,
      probeBuckets = if (nSub > 1) None else Some(bkts),
      bandBuckets = nPart,
      shingleBuckets = nPart, bandSubBuckets = nSub,
      probeCells = cells, shingleSubBuckets = nSub)
    (newSh, newBands, pairs)
  }

  /** Frees the blocks of each `localCheckpoint` that `frames` scan and
    * whose RDD is not in `kept`: given the session's persisted RDD ids
    * from before a trigger planned `frames`, only the checkpoints that
    * trigger made are released, never a shared or earlier frame's.
    * `Dataset.unpersist` does not free them: a checkpoint is an RDD the
    * plan reads (`LogicalRDD`), not a cached plan. */
  private def releaseCheckpoints(frames: Seq[DataFrame], kept: collection.Set[Int]): Unit =
    frames.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD if r.rdd.getStorageLevel.isValid && !kept.contains(r.rdd.id) =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    })

  /** Run the ingest stream to completion and return ONE materialized row:
    * `(n_docs, pairs_nonempty, match_full)` where `match_full` is the
    * streamed-pairs ≡ whole-corpus-operator equality (both directions,
    * jaccard values AND row multiplicity included). The result is
    * collected (1 row, bounded) before the run's scratch dirs are deleted
    * — the stream's index and pair sinks are per-run MUTABLE state and
    * must not outlive it (Staging is input-only).
    *
    * `assertFull = false` (the bench-mode form, the record's
    * `benchPlan`) times the ingest stream alone: the
    * whole-corpus recompute is the verification harness, not the operator —
    * a continuous pipeline never rescans its accepted corpus. */
  def runStreamDedupIngest(
      spark: SparkSession, dir: String,
      nBatches: Int = 2, assertFull: Boolean = true,
      layoutOverride: Option[(Int, Int)] = None): DataFrame = {
    // the documents replayed as `nBatches` doc_id-striped files
    val staged = Replay.stage(s"docs-ingest-$nBatches", dir) {
      val docs = Tables.documents(spark, dir)
      (0 until nBatches).map(i => docs.filter(pmod(col("doc_id"), lit(nBatches)) === i))
    }
    // the at-rest layout's partition count from the capacity rule: the
    // corpus size is known at stream bootstrap (it is the staged input),
    // and the count is reused by the final readout. At the verify SFs
    // the rule returns the legacy 16, so gate behavior is unchanged.
    val nDocs = Tables.documents(spark, dir).count()
    // nSub = 1 everywhere below the 4096 cap (every verify SF); past it
    // the layout goes two-level (pbkt × sbb, Dedup.autoBandLayout) and
    // the probe plans both levels — same code path, no special casing.
    // `layoutOverride` forces a layout regardless of corpus size — the
    // ScaleSpec two-level ingest test uses it to drive the past-cap
    // write/probe shape end-to-end at a verify SF.
    val (nPart, nSub) =
      layoutOverride.getOrElse(Dedup.autoBandLayout(nDocs * 16L))
    val out = java.nio.file.Files.createTempDirectory("graft-ingest").toFile
    val bandDir = new java.io.File(out, "bands")
    val shDir = new java.io.File(out, "shingles")
    val pairDir = new java.io.File(out, "pairs")
    // sink schemas, derived lazily from the table schema (no jobs, and
    // no checkpoint left registered).
    // The shingle store rests partitioned by sbkt (shinglePartition) so
    // the verify join-back prunes to candidate-held partitions — the
    // same at-rest posture as the band index's pbkt.
    val shRows = Dedup.shingleRows(Tables.documents(spark, dir).limit(0), n = 3)
    val shSchema = Dedup.withShingleLayout(shRows, nPart, nSub).schema
    val bandSchema = Dedup.withBandLayout(Dedup.bandRows(shRows), nPart, nSub).schema
    val (bandPartCols, shPartCols) = partitionCols(nSub)

    try Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, Schemas.documents, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          // pin the pre-batch index snapshot, then run the sinks
          // concurrently — the probe reads only the pinned files, so the
          // appends cannot race it into seeing this batch's own rows
          val pinnedBands = Replay.listParquet(bandDir).toSet
          val bandsSnap = Replay.snapshotRead(s, bandDir, bandSchema, pinnedBands.toSeq)
          val shSnap = Replay.snapshotRead(s, shDir, shSchema, Replay.listParquet(shDir))
          val kept = s.sparkContext.getPersistentRDDs.keySet
          val (newSh, newBands, pairs) = triggerPairs(batch, bandsSnap, shSnap, nPart, nSub)
          // one file per bucket dir per trigger: the append is tiny and
          // per-task dynamic-partition fan-out would 16× the file count
          try Session.runAll(s, Seq(
            () => Dedup.withBandLayout(newBands, nPart, nSub)
              .coalesce(1).write.partitionBy(bandPartCols: _*)
              .mode("append").parquet(bandDir.toString),
            () => Dedup.withShingleLayout(newSh, nPart, nSub)
              .coalesce(1).write.partitionBy(shPartCols: _*).mode("append")
              .parquet(shDir.toString),
            () => pairs.write.mode("append").parquet(pairDir.toString)))
          finally releaseCheckpoints(Seq(newSh, newBands, pairs), kept)
          ()
        })

      val streamedSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard", org.apache.spark.sql.types.DoubleType)))
      val streamedRaw =
        Replay.snapshotRead(spark, pairDir, streamedSchema, Replay.listParquet(pairDir))
      val row =
        if (assertFull) {
          // grouped with multiplicity (verify path only — bench times the
          // operator, not the parity harness)
          val streamed = streamedRaw
            .groupBy(col("doc_a"), col("doc_b"), col("jaccard").as("j_s"))
            .agg(count(lit(1)).as("mult_s"))
          val full = Dedup.minHashPairsFromShingles(
            Dedup.shingleSets(Tables.documents(spark, dir), n = 3))
            .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_f"))
            .withColumn("in_f", lit(1L))
          // exactly-once included: a replayed/double-appended batch shows
          // up as mult_s > 1 and fails match_ok even though the dup row
          // value-matches its full-side partner
          streamed.withColumn("in_s", lit(1L))
            .join(full, Seq("doc_a", "doc_b"), "full")
            .agg(
              coalesce(sum(col("mult_s")), lit(0L)).as("n_pairs"),
              (coalesce(sum(
                when(col("in_s").isNull || col("in_f").isNull
                  || col("j_s") =!= col("j_f") || col("mult_s") =!= 1L, 1L)
                  .otherwise(0L)), lit(0L)) === 0L)
                .as("match_ok"))
            .head()
        } else {
          // bench form: the streamed pair set alone (already materialized
          // by the foreachBatch sinks above — this is a bounded 1-row agg)
          streamedRaw.agg(
            count(lit(1)).as("n_pairs"),
            lit(true).as("match_ok")).head()
        }
      import spark.implicits._
      Seq((nDocs, row.getLong(0) > 0L, row.getBoolean(1)))
        .toDF("n_docs", "pairs_nonempty", "match_full")
    } finally Staging.rmTree(out)
  }
}
