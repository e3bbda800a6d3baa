package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.{IvfIndex, Similarity}
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous retrieval-quality monitor — the streaming face of the
  * retrieval-eval family (the [[AnnServe]] serving convention): query
  * traffic arrives as a replayed file stream, every micro-batch is
  * searched against the FROZEN at-rest IVF index AND exact-rescored
  * against the corpus (the audit twin), and the per-query IR metrics
  * (recall@k / rr / nDCG@k vs the exact gold) append to the monitor
  * sink. A degrading index — drifting traffic moving query mass into
  * poorly-probed cells — pages on the recall floor long before offline
  * re-evaluation would catch it.
  *
  * The per-batch exact twin is the VERIFICATION harness sized for the
  * monitor's deterministic traffic sample (vec_id ≡ 1 mod 5 — at 100 TB
  * the same monitor runs on a hash-thinned fraction of traffic, never
  * all of it; the IVF search itself is the cheap path). Metrics are
  * per-query pure under a frozen index and frozen corpus, so streamed
  * rows ≡ one whole-set evaluation EXACTLY, any batch split — asserted
  * in-plan with multiplicity (`parity_ok`). Monitor state is the
  * accumulated per-query metric rows: |sample| rows of integers and
  * 6dp-rounded grid values, summarized by the same integer/DECIMAL-sum
  * discipline as the batch rollup. */
object RetrievalEvalStream {

  /** The monitored traffic sample: vec_id ≡ 1 (mod 5), striped into
    * `nBatches` parquet files (memoized per data dir). */
  private def stagedQueries(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"retrieval-eval-$nBatches", dir) {
      val vecs = Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 1)
      (0 until nBatches).map(i =>
        vecs.filter(pmod((col("vec_id") / 5).cast("long"), lit(nBatches)) === i))
    }

  /** Per-query IR metrics of one query set under a frozen index — shared
    * by the per-batch fold and the whole-set parity recompute. */
  private def evalQueries(
      spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      index: IvfIndex.Index, k: Int, nProbe: Int): DataFrame = {
    val gold = Similarity.bruteForceKnn(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
    val appr = IvfIndex.search(spark, index, queries, k = k, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    Similarity.retrievalMetrics(gold, appr, k)
  }

  /** Run the monitor to completion: ONE row
    * `(n_queries, recall_ok, mrr_ok, ndcg_ok, parity_ok)` — floors far
    * under the measured tier values (tools/ProbeRetrieval at 89034bd), parity =
    * streamed per-query metric rows ≡ the whole-set evaluation
    * (multiplicity included). `assertParity = false` (the bench form)
    * times the monitor stream alone. */
  def runStreamRetrievalEval(
      spark: SparkSession, dir: String, nBatches: Int = 2,
      k: Int = 5, nProbe: Int = 8,
      assertParity: Boolean = true): DataFrame = {
    // The corpus side of EVERY per-batch job (exact-gold scan, IVF cell
    // scan) otherwise runs at the raw scan's width — ONE task for the
    // single-file monitor corpus (measured: a 3.3 s single-task job per
    // micro-batch, r17 per-job decomposition, now `tools.Probe run`). Widen once, up front.
    val corpus = graft.operators.Widen.cpuWide(Tables.embeddings(spark, dir))
    // FROZEN index: built offline on the at-rest corpus before traffic.
    // The assignment frame is LAZY — without the pin each micro-batch's
    // search re-runs the full-corpus assignment pass; cpuWide's barrier
    // (or an explicit checkpoint when already wide) freezes it once.
    val index0 = IvfIndex.build(spark, corpus, nLists = 16)
    val index = index0.copy(assigned = index0.assigned.localCheckpoint(false))
    val staged = stagedQueries(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-releval").toFile
    val metDir = new java.io.File(out, "metrics")
    try {
    Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, Schemas.embeddings, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          evalQueries(batch.sparkSession, batch, corpus, index, k, nProbe)
            .write.mode("append").parquet(metDir.toString)
          ()
        })
    }

    val streamedRaw = spark.read.parquet(metDir.toString)
      .localCheckpoint(false) // summary + parity both consume it
    val summary = Similarity.retrievalMetricsSummary(streamedRaw, k)
    val parity =
      if (assertParity) {
        // multiplicity included: a replayed batch value-matches but
        // fails mult = 1
        val streamed = streamedRaw
          .groupBy(col("query_id"), col("hits"), col("recall_at_k"),
            col("rr"), col("ndcg"))
          .agg(count(lit(1)).as("mult")).withColumn("in_s", lit(1L))
        val full = evalQueries(spark,
          corpus.filter(col("vec_id") % 5 === 1), corpus, index, k, nProbe)
          .withColumn("in_f", lit(1L))
        streamed.join(full,
          Seq("query_id", "hits", "recall_at_k", "rr", "ndcg"), "full")
          .agg((coalesce(sum(when(col("in_s").isNull || col("in_f").isNull
            || col("mult") =!= 1L, 1L)), lit(0L)) === 0L).as("parity_ok"))
      } else spark.range(1).select(lit(true).as("parity_ok"))
    val row = summary.crossJoin(broadcast(parity))
      .select(col("n_queries"),
        (col("mean_recall") >= 0.6).as("recall_ok"),
        (col("mean_rr") >= 0.5).as("mrr_ok"),
        (col("mean_ndcg") >= 0.5).as("ndcg_ok"),
        col("parity_ok"))
      .collect() // 1 row — materialize before the scratch dir is deleted
    spark.createDataFrame(java.util.Arrays.asList(row: _*), row.head.schema)
    // scratch removed on EVERY exit — a failed stream run must not leak
    // temp dirs across runs
    } finally Staging.rmTree(out)
  }
}
