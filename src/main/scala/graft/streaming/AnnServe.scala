package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.{IndexRegistry, Pq}
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous ANN serving — the query-side face of the at-rest IVF-PQ
  * index (the ingest side is [[AnnIngest]]): query vectors arrive as a
  * replayed file stream and every micro-batch runs the BATCHED join-based
  * ADC search ([[Pq.ivfPqSearchBatch]] — probe planning map-side, cell_id
  * equi-join against the cell-partitioned codes, no driver collect of the
  * query side) and appends its top-k to the results sink. This is the
  * production batch-scoring shape — nightly-recommendation / streaming-
  * retrieval pipelines score arriving query tables against an index that
  * was built offline; per-batch cost is |batch| probe rows against
  * nProbe/nLists of the codes.
  *
  * Search is per-query-row pure (frozen index, frozen probe ranking), so
  * streamed results ≡ one batched search over the whole query set
  * EXACTLY, whatever the batch split — `q_ann_search_stream` asserts that
  * row-for-row (query, neighbor, cosine, rank) in-plan; the oracle pins
  * the query-set size and the booleans.
  */
object AnnServe {

  /** The streamed query set: vec_id ≡ 1 (mod 5), striped into `nBatches`
    * parquet files by vec_id/5 mod nBatches (memoized per data dir;
    * Staging's shutdown hook deletes them). */
  private def stagedQueries(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"ann-serve-$nBatches", dir) {
      val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 1)
      (0 until nBatches).map(i =>
        vecs.filter(pmod((col("vec_id") / 5).cast("long"), lit(nBatches)) === i))
    }

  /** Run the serving stream to completion and return ONE materialized row
    * `(n_queries, results_nonempty, parity_ok)`; `parity_ok` is the
    * streamed-results ≡ whole-set batched search row equality.
    *
    * `assertFull = false` (the bench-mode form, the record's
    * `benchPlan`) times the serving stream alone — the whole-set
    * recompute is the verification harness, not the operator. */
  def runStreamAnnServe(
      spark: SparkSession, dir: String,
      nBatches: Int = 2, assertFull: Boolean = true): DataFrame = {
    val idx = IndexRegistry.ivfPqFull(spark, dir)
    val staged = stagedQueries(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-ann-serve").toFile
    val resDir = new java.io.File(out, "results")

    try Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, Schemas.embeddings, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Pq.ivfPqSearchBatch(idx, batch, k = 5, nProbe = 8)
            .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
            .write.mode("append").parquet(resDir.toString)
          ()
        })

      val queries = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 1)
      val streamedRaw = spark.read.parquet(resDir.toString)
      val row =
        if (assertFull) {
          // grouped with multiplicity (verify path only) so a replayed /
          // double-appended micro-batch — identical rows twice — fails
          // parity instead of value-matching its full-side partner
          val streamed = streamedRaw
            .groupBy(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
            .agg(count(lit(1)).as("mult_s"))
            .withColumn("in_s", lit(1L))
          val full = Pq.ivfPqSearchBatch(idx, queries, k = 5, nProbe = 8)
            .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
            .withColumn("in_f", lit(1L))
          streamed.join(full,
            Seq("query_id", "neighbor_id", "cosine", "rank"), "full")
            .agg(
              coalesce(sum(col("mult_s")), lit(0L)).as("n_results"),
              (coalesce(sum(when(col("in_s").isNull || col("in_f").isNull
                || col("mult_s") =!= 1L, 1L)), lit(0L)) === 0L)
                .as("parity_ok"))
            .head()
        } else {
          streamedRaw.agg(
            count(lit(1)).as("n_results"),
            lit(true).as("parity_ok")).head()
        }
      val nQueries = queries.count()
      import spark.implicits._
      Seq((nQueries, row.getLong(0) > 0L, row.getBoolean(1)))
        .toDF("n_queries", "results_nonempty", "parity_ok")
    } finally Staging.rmTree(out)
  }
}
