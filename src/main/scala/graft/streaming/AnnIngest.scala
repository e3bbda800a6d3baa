package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.Pq
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous ANN-index ingestion — the streaming face of
  * [[graft.operators.Pq.addToIvfPq]] (the FAISS `add` path): the coarse
  * centroids and residual codebooks train ONCE on the already-accepted
  * corpus (vec_id % 5 != 0), whose encoded rows exist at rest as
  * cell-partitioned parquet; the remaining vectors then arrive as a
  * replayed batched file stream and every micro-batch is assigned +
  * residual-encoded under that frozen model in one codegen pass and
  * APPENDED into its cell partitions. No retrain, no rescan of the
  * encoded corpus — per-batch cost is one pass over the batch, the shape
  * a 100 TB embedding pipeline runs continuously (new embeddings land in
  * the searchable index within one micro-batch).
  *
  * Encoding is per-vector under a frozen model, so stream-ingest ≡
  * rebuild-under-the-same-model EXACTLY, whatever the batch split —
  * `q_ann_ingest_stream` asserts that parity row-for-row in-plan
  * (cell_id, code bytes, and recon_nrm all compared); the oracle pins the
  * corpus size and both booleans.
  */
object AnnIngest {

  /** Replay the NEW vectors (vec_id % 5 == 0) as `nBatches` striped
    * parquet files (memoized per data dir; Staging's shutdown hook deletes
    * them). New ids are multiples of 5, so vec_id/5 indexes them densely
    * and mod-3 stripes evenly. */
  private def stagedNewVecs(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"ann-ingest-$nBatches", dir) {
      val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0)
      (0 until nBatches).map(i =>
        vecs.filter(pmod((col("vec_id") / 5).cast("long"), lit(nBatches)) === i))
    }

  /** Run the ingest stream to completion and return ONE materialized row:
    * `(n_vecs, appended_nonempty, parity_ok)` where `parity_ok` is the
    * at-rest-index ≡ rebuild-under-the-same-model row equality. The result
    * is collected (1 row, bounded) before the run's scratch dir is deleted
    * — the cell-partitioned index is per-run MUTABLE state and must not
    * outlive it (Staging is input-only).
    *
    * `assertFull = false` (the bench-mode form, the record's
    * `benchPlan`) times train + initial encode + the
    * ingest stream alone: the whole-corpus re-encode is the verification
    * harness, not the operator — a continuous pipeline never re-encodes
    * its accepted corpus. */
  def runStreamAnnIngest(
      spark: SparkSession, dir: String,
      nBatches: Int = 2, assertFull: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // The frozen model: trained once per JVM on the accepted corpus only
    // (exactly q_ivfpq_incremental's model, so recall floors carry over),
    // staged cell-partitioned at rest — the operator's INPUT state, see
    // [[graft.operators.IndexRegistry]]. Each run COPIES the staged files
    // into its scratch dir: the index is per-run MUTABLE (the stream
    // appends into it) and the staged copy is input-only.
    val idx0 = graft.operators.IndexRegistry.ivfPq80(spark, dir)
    val idxAtRest = graft.operators.IndexRegistry.ivfPq80StagedDir(spark, dir)

    val staged = stagedNewVecs(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-ann-ingest").toFile
    val encDir = new java.io.File(out, "index")

    try Session.withConf(spark, StreamConf.MonitorWidth) {
      // The accepted corpus at rest: cell-partitioned, the layout
      // ivfPqSearch prunes against (asserted in ScaleSpec for the batch
      // path; the ingest appends land in the same partition dirs).
      Staging.copyTree(idxAtRest, encDir)

      Replay.drain(Replay.source(spark, Schemas.embeddings, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the FAISS add path: assign + residual-encode under the frozen
          // model (one codegen pass over the batch), append into cells
          Pq.rebuildEncoded(batch, idx0)
            .write.partitionBy("cell_id").mode("append").parquet(encDir.toString)
          ()
        })

      val atRestRaw = spark.read.parquet(encDir.toString)
      val row =
        if (assertFull) {
          // grouped with multiplicity (verify path only) so a replayed /
          // double-appended micro-batch — same vec_id landing twice —
          // fails parity instead of value-matching
          val atRest = atRestRaw
            .groupBy(col("vec_id"), col("cell_id"), col("code"), col("recon_nrm"))
            .agg(count(lit(1)).as("mult_s"))
          val rebuilt = Pq.rebuildEncoded(emb, idx0)
            .select(col("vec_id"), col("cell_id").as("c2"),
              col("code").as("k2"), col("recon_nrm").as("n2"))
          atRest.join(rebuilt, Seq("vec_id"), "full")
            .agg(
              coalesce(sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L)), lit(0L))
                .as("n_appended"),
              (coalesce(sum(when(col("cell_id") =!= col("c2") || col("code") =!= col("k2")
                || col("recon_nrm") =!= col("n2") || col("cell_id").isNull
                || col("c2").isNull || col("mult_s") =!= 1L, 1L).otherwise(0L)), lit(0L)) === 0L)
                .as("parity_ok"))
            .head()
        } else {
          // bench form: the streamed appends alone (bounded 1-row agg)
          atRestRaw.agg(
            coalesce(sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L)), lit(0L))
              .as("n_appended"),
            lit(true).as("parity_ok")).head()
        }
      val nVecs = emb.count()
      import spark.implicits._
      Seq((nVecs, row.getLong(0) > 0L, row.getBoolean(1)))
        .toDF("n_vecs", "appended_nonempty", "parity_ok")
    } finally Staging.rmTree(out)
  }
}
