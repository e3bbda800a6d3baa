package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.functions.{l2Norm, PairGenerators}
import graft.operators.Clustering
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous SemDeDup — the streaming face of
  * [[graft.operators.Clustering.semDedup]], completing the index-family
  * set (band index → [[DedupIngest]], IVF-PQ → [[AnnIngest]], SCD2 →
  * [[ScdIngest]]): embeddings arrive as a replayed file stream, every
  * micro-batch assigns its vectors under the FROZEN k-means model (the
  * [[ClusterShareStream]] convention — arriving data must not move the
  * cells it is judged against), generates near-dup pairs within its own
  * cells — against the at-rest index via a cell-pruned probe plus the
  * in-batch native generator — and appends its pairs and its assignment
  * rows. The accepted corpus is never rescanned; per-batch cost is the
  * assignment projection plus one equi-join against ONLY the batch's
  * cell partitions.
  *
  * The at-rest index rests PARTITIONED by cell (`cl=`), the IVF at-rest
  * posture: the probe lists only the batch's own cell directories
  * (≤ k ids, collected from the batch's bounded distinct), so the
  * per-batch index scan structurally cannot touch any other cell.
  *
  * Every unordered within-cell pair is examined exactly once — when its
  * LATER vector arrives: earlier-batch partners via the pinned-snapshot
  * probe, same-batch partners via the in-batch generator — so the UNION
  * of all batches' pairs equals the whole-corpus
  * [[Clustering.semDedupPairs]] set exactly, whatever the batch split.
  * The keeper rule then applies to the accumulated pair table at
  * readout ([[Clustering.victimsFromPairs]] — the same key-minimum
  * spelling), which also makes eviction RETROACTIVE for free: an
  * at-rest vector that loses to a smaller-key late arrival becomes a
  * victim of that pair, exactly as in the whole-corpus run.
  * `q_semdedup_ingest_stream` asserts the pair-set equality (ids,
  * cosines, AND multiplicity — a replayed/double-appended micro-batch
  * fails the parity boolean) in-plan.
  */
object SemDedupIngest {

  /** Replay the embeddings table as `nBatches` vec_id-striped parquet
    * files (memoized per (data dir, nBatches)). */
  private def stagedVecs(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"vecs-semdedup-$nBatches", dir) {
      val vecs = Tables.embeddings(spark, dir)
      (0 until nBatches).map(i => vecs.filter(pmod(col("vec_id"), lit(nBatches)) === i))
    }

  /** The probe's file list: ONLY the given cells' partition directories
    * of the at-rest index — the structural guarantee that a batch's
    * probe cannot read any cell it didn't land in (ScaleSpec asserts
    * this on `inputFiles`). */
  private[graft] def cellFiles(
      indexDir: java.io.File, cells: Seq[Int]): Seq[java.io.File] =
    cells.flatMap(c => Replay.listParquet(new java.io.File(indexDir, s"cl=$c")))

  /** Raw cosine between a batch vector and an index vector — the SAME
    * double arithmetic as the in-cell generator (sequential double dot
    * via the native kernel, product-of-norms denominator, 0 when the
    * denominator is 0), so cross-batch and in-batch pairs are
    * bit-identical with the whole-corpus form. */
  private def rawCos(vA: org.apache.spark.sql.Column, nA: org.apache.spark.sql.Column,
      vB: org.apache.spark.sql.Column, nB: org.apache.spark.sql.Column) = {
    val denom = nA * nB
    when(denom === 0.0, 0.0)
      .otherwise(graft.functions.dotProduct(vA, vB) / denom)
  }

  import org.apache.spark.sql.types._
  private[streaming] val IdxSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(FloatType)),
    StructField("nrm", DoubleType), StructField("cl", IntegerType)))

  /** One trigger's near-dup pairs: assign the batch under the frozen
    * model, probe ONLY the batch's cells' at-rest partitions for
    * cross-batch pairs, run the in-batch generator for same-batch
    * pairs. Returns (asg, pairs); the caller appends `asg` to the index
    * and sinks whatever view of `pairs` its monitor needs — shared by
    * the full ingest, the leakage monitor and `Probe scale
    * semdedup_ingest`. */
  private[graft] def batchPairs(s: SparkSession, batch: DataFrame,
      cents: Array[Array[Double]], indexDir: java.io.File,
      tau: Double): (DataFrame, DataFrame) = {
    val asg = Clustering.assign(Clustering.cleanVectors(batch), cents)
      .select(col("cl"), col("vec_id"), col("v"),
        l2Norm(col("v")).as("nrm"))
      .localCheckpoint(false)
    // the batch's cell set: bounded (≤ k ints), collected off the
    // checkpointed assignment — plans the cell-pruned probe
    val cells = asg.select(col("cl")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idxSnap = Replay.snapshotRead(s, indexDir, IdxSchema,
      cellFiles(indexDir, cells))
    // cross-batch pairs: batch ⋈ at-rest, equi-join on the cell, loose
    // raw cutoff then the exact rounded threshold (the established
    // generator pairing)
    val cross = asg.select(col("cl"), col("vec_id").as("b_id"),
        col("v").as("b_v"), col("nrm").as("b_nrm"))
      .join(idxSnap.select(col("cl"), col("vec_id").as("i_id"),
        col("v").as("i_v"), col("nrm").as("i_nrm")), Seq("cl"))
      .select(col("cl"),
        least(col("b_id"), col("i_id")).as("vec_a"),
        greatest(col("b_id"), col("i_id")).as("vec_b"),
        rawCos(col("b_v"), col("b_nrm"), col("i_v"), col("i_nrm"))
          .as("cosine"))
      .filter(col("cosine") >= tau - 1e-6)
      .filter(round(col("cosine"), 6) >= tau)
    // in-batch pairs: the native in-cell generator, one hash shuffle of
    // the batch alone
    val inBatch = asg
      .groupBy(col("cl"))
      .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm")))
        .as("members"))
      .select(col("cl"),
        PairGenerators.cosinePairs(col("members"), tau - 1e-6)
          .as(Seq("vec_a", "vec_b", "cosine")))
      .filter(round(col("cosine"), 6) >= tau)
    (asg, cross.unionByName(inBatch))
  }

  /** Run the ingest stream to completion and return the per-cluster
    * prune table (cluster, n, n_pruned, n_kept, prune_rate, parity_ok)
    * — the [[Clustering.semDedup]] output shape plus the monitor
    * family's in-plan parity: streamed pairs ≡ the whole-corpus
    * generator's pairs (ids, cosine values, AND multiplicity 1).
    *
    * `assertParity = false` (the bench-mode form) times the ingest
    * stream + readout alone: the whole-corpus pair recompute is the
    * verification harness, not the operator. */
  def runStreamSemDedupIngest(
      spark: SparkSession, dir: String, nBatches: Int = 2,
      tau: Double = Clustering.SemDedupTau,
      assertParity: Boolean = true): DataFrame = {
    // FROZEN model: trained once, offline, before any batch arrives
    val cents = Clustering.modelFor(spark, dir)
    val staged = stagedVecs(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-semdedup").toFile
    val indexDir = new java.io.File(out, "index")
    val pairDir = new java.io.File(out, "pairs")
    val pairSchema = StructType(Seq(
      StructField("cl", IntegerType), StructField("vec_a", LongType),
      StructField("vec_b", LongType), StructField("cosine", DoubleType)))

    try Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, Schemas.embeddings, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          val (asg, pairs) = batchPairs(s, batch, cents, indexDir, tau)
          // pair sink and index append run concurrently: the probe reads
          // only the pinned pre-batch files, so the append can't race it
          Session.runAll(s, Seq(
            () => pairs.write.mode("append").parquet(pairDir.toString),
            () => asg.coalesce(1)
              .write.partitionBy("cl").mode("append").parquet(indexDir.toString)))
          ()
        })

      // readout: keeper rule over the accumulated pair table, sizes from
      // the at-rest index (= every arrived valid vector)
      val pairsAll = Replay.snapshotRead(spark, pairDir, pairSchema, Replay.listParquet(pairDir))
        .localCheckpoint(false) // rollup + parity both consume it
      val idxAll = Replay.snapshotRead(spark, indexDir, IdxSchema, Replay.listParquet(indexDir))
      val sizes = idxAll.groupBy(col("cl")).agg(count(lit(1)).as("n"))
      val pruned = Clustering.victimsFromPairs(pairsAll).groupBy(col("cl"))
        .agg(countDistinct(col("victim")).as("np"))
      val table = sizes.join(pruned, Seq("cl"), "left")
        .select(col("cl").cast(IntegerType).as("cluster"), col("n"),
          coalesce(col("np"), lit(0L)).as("n_pruned"),
          (col("n") - coalesce(col("np"), lit(0L))).as("n_kept"),
          round(coalesce(col("np"), lit(0L)).cast(DoubleType) / col("n"), 6)
            .as("prune_rate"))
      val parity =
        if (assertParity) {
          // exactly-once included: a replayed batch shows up as mult > 1
          // and fails parity even though the dup row value-matches
          val streamed = pairsAll
            .groupBy(col("cl"), col("vec_a"), col("vec_b"),
              col("cosine").as("c_s"))
            .agg(count(lit(1)).as("mult"))
            .withColumn("in_s", lit(1L))
          val full = Clustering.semDedupPairs(
            Clustering.assign(
                Clustering.cleanVectors(Tables.embeddings(spark, dir)), cents)
              .select(col("cl"), col("vec_id"), col("v")), tau)
            .select(col("cl"), col("vec_a"), col("vec_b"),
              col("cosine").as("c_f"))
            .withColumn("in_f", lit(1L))
          streamed.join(full, Seq("cl", "vec_a", "vec_b"), "full")
            .agg((coalesce(sum(
              when(col("in_s").isNull || col("in_f").isNull
                || col("c_s") =!= col("c_f") || col("mult") =!= 1L, 1L)
                .otherwise(0L)), lit(0L)) === 0L).as("parity_ok"))
        } else
          spark.range(1).select(lit(true).as("parity_ok"))
      // materialize before the scratch dirs are deleted (bounded: ≤ k
      // clusters + 1 parity row)
      val rows = table.crossJoin(broadcast(parity))
        .orderBy(col("cluster")).collect()
      val outSchema = StructType(Seq(
        StructField("cluster", IntegerType), StructField("n", LongType),
        StructField("n_pruned", LongType), StructField("n_kept", LongType),
        StructField("prune_rate", DoubleType),
        StructField("parity_ok", BooleanType)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
    } finally Staging.rmTree(out)
  }

  /** CONTINUOUS semantic split-leakage monitor — the streaming face of
    * [[Clustering.semanticLeakage]], the monitor-family convention
    * (PSI / W1 / cluster-share / conformal): a contaminating crawl
    * pages someone BEFORE the next offline audit. Same frozen model,
    * same cell-pruned pair machinery as the ingest; the monitor's
    * STATE is the 3×3 (6 unordered) split-pair count grid — each
    * trigger appends its batch's ≤ 6-row grid delta, never the pairs.
    * Readout sums the deltas, derives shares and the off-diagonal
    * leak flags, and asserts the streamed grid ≡ the whole-corpus
    * audit in-plan (each unordered pair is examined exactly once, when
    * its later member arrives, so the grids match for any batch
    * split). Output: (split_a, split_b, n_pairs, share, is_leak,
    * parity_ok). */
  def runStreamSemanticLeakage(
      spark: SparkSession, dir: String, nBatches: Int = 2,
      tau: Double = Clustering.SemDedupTau,
      assertParity: Boolean = true): DataFrame = {
    val cents = Clustering.modelFor(spark, dir)
    val staged = stagedVecs(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-semleak").toFile
    val indexDir = new java.io.File(out, "index")
    val gridDir = new java.io.File(out, "grid")
    val gridSchema = StructType(Seq(
      StructField("split_a", StringType), StructField("split_b", StringType),
      StructField("n_pairs", LongType)))
    def splitOf(id: org.apache.spark.sql.Column) = {
      val h = pmod(graft.functions.PortableHash.keyHash(id), lit(100L))
      when(h < 90L, "train").when(h < 95L, "val").otherwise("test")
    }
    try Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.drain(spark, Replay.source(spark, Schemas.embeddings, staged)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          val (asg, pairs) = batchPairs(s, batch, cents, indexDir, tau)
          val sa = splitOf(col("vec_a"))
          val sb = splitOf(col("vec_b"))
          // the batch's grid DELTA: ≤ 6 rows — the monitor state is
          // model-sized, the pairs themselves are never persisted
          val delta = pairs
            .select(least(sa, sb).as("split_a"), greatest(sa, sb).as("split_b"))
            .groupBy(col("split_a"), col("split_b"))
            .agg(count(lit(1)).as("n_pairs"))
          Session.runAll(s, Seq(
            () => delta.coalesce(1).write.mode("append").parquet(gridDir.toString),
            () => asg.coalesce(1)
              .write.partitionBy("cl").mode("append").parquet(indexDir.toString)))
          ()
        })

      val grid = Replay.snapshotRead(spark, gridDir, gridSchema, Replay.listParquet(gridDir))
        .groupBy(col("split_a"), col("split_b"))
        .agg(sum(col("n_pairs")).as("n_pairs"))
        .localCheckpoint(false) // total + parity + output all consume it
      val tot = grid.agg(sum(col("n_pairs")).as("__t"))
      val table = grid.crossJoin(broadcast(tot))
        .select(col("split_a"), col("split_b"), col("n_pairs"),
          round(col("n_pairs").cast(DoubleType) / col("__t"), 6).as("share"),
          (col("split_a") =!= col("split_b")).as("is_leak"))
      val parity =
        if (assertParity) {
          val full = Clustering.semanticLeakage(
            Clustering.cleanVectors(Tables.embeddings(spark, dir)), cents, tau)
            .select(col("split_a"), col("split_b"),
              col("n_pairs").as("n_f"))
            .withColumn("in_f", lit(1L))
          grid.withColumn("in_s", lit(1L))
            .join(full, Seq("split_a", "split_b"), "full")
            .agg((coalesce(sum(
              when(col("in_s").isNull || col("in_f").isNull
                || col("n_pairs") =!= col("n_f"), 1L).otherwise(0L)),
              lit(0L)) === 0L).as("parity_ok"))
        } else
          spark.range(1).select(lit(true).as("parity_ok"))
      // bounded: ≤ 6 grid rows + 1 parity row
      val rows = table.crossJoin(broadcast(parity))
        .orderBy(col("split_a"), col("split_b")).collect()
      val outSchema = StructType(Seq(
        StructField("split_a", StringType), StructField("split_b", StringType),
        StructField("n_pairs", LongType), StructField("share", DoubleType),
        StructField("is_leak", BooleanType), StructField("parity_ok", BooleanType)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
    } finally Staging.rmTree(out)
  }
}
