package graft.operators

import org.apache.spark.sql.DataFrame

/** CPU-parallelism widening for expensive per-row projections over
  * narrow scans.
  *
  * The house idiom `df.repartition(defaultParallelism)` before a
  * compute-heavy projection (text scoring, shingle/MinHash signatures,
  * brute-force distance scans) exists so a single-file local scan does
  * not run the whole projection on one core. Measured this round
  * (tools/ProbeStreamCost, per-job decomposition): under AQE the idiom
  * SILENTLY FAILS — when the plan is materialized through
  * `localCheckpoint`/`toRdd`, the adaptive re-optimization leaves the
  * projection fused against the 1-partition scan side and one task runs
  * the entire per-row kernel (1.1–2.8 s single-task text-scoring jobs
  * inside the conformal monitors at sf0.1, while 32 cores idle).
  *
  * [[cpuWide]] makes the widening un-defeatable: materialize the RAW
  * rows through the round-robin exchange behind a `localCheckpoint`
  * barrier (a LogicalRDD — no optimizer rule reaches through it), so
  * every downstream projection runs over `defaultParallelism` real
  * partitions. The barrier materializes only scan+shuffle bytes (no
  * per-row compute below it), and Bench unpersists checkpoint blocks
  * after every query.
  *
  * Scale posture: the widening is GATED on the scan actually being
  * narrower than the core count, judged from file metadata
  * (`inputFiles`) without touching `.rdd` (whose AQE finalization is
  * itself the side effect being avoided). At 100 TB any table scan has
  * thousands of splits, the gate returns the frame untouched, and the
  * pipeline keeps the scan's natural parallelism with NO extra exchange
  * and NO corpus-sized checkpoint — strictly better than the old
  * unconditional repartition, which paid a full-corpus round-robin
  * shuffle at every scale. */
object Widen {

  /** `df` repartitioned to `defaultParallelism` behind a checkpoint
    * barrier iff its scan is narrower than the core count; `df`
    * unchanged otherwise. Row set and values are identical either way —
    * only the physical partitioning differs (callers must be
    * partitioning-agnostic, which every aggregation/join consumer is).
    *
    * Streaming frames are always returned unchanged. A micro-batch is
    * trigger-sized, and a per-batch round-robin exchange (one extra
    * stage + shuffle EVERY trigger) measured as a net loss on every
    * streaming monitor once the per-row kernels went native (conformal
    * 4.76 → 4.55, semdedup_ingest 3.30 → 2.72, t_closeness 3.45 → 2.86,
    * dedup_ingest 5.10 → 4.13 s standalone min-of-3 at sf0.1). Scale-safe:
    * a file-stream trigger's scan splits by maxPartitionBytes exactly like
    * a batch scan, so batch-internal parallelism already comes from the
    * source's file splits — the 1-task shape only exists for KB-sized
    * local batch files. */
  def cpuWide(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) df
    // Scan-width gate from FILE SIZES, not file count: Spark both PACKS
    // many small files into one FilePartition (openCost/maxPartitionBytes)
    // and SPLITS one large file into many — a count-based gate misreads
    // both shapes (a ≥p-tiny-file scan passes yet runs on few tasks; a
    // single 100 GB file reads as "1" and would checkpoint the whole
    // corpus). Estimate the scan's task count the way FilePartitions
    // does — maxSplitBytes = min(maxPartitionBytes, max(openCost,
    // totalBytes/minPartitionNum)), tasks ≈ ⌈totalBytes/maxSplitBytes⌉ —
    // and widen only when that estimate is under the core count. The
    // gate then also BOUNDS the checkpointed bytes by construction:
    // estTasks < p ⟹ totalBytes < p·maxSplitBytes ≤ p·maxPartitionBytes
    // (≈4 GB at local[32] defaults) — never a corpus-sized checkpoint.
    else if (estimatedScanTasks(df, p) >= p) df
    else df.repartition(p).localCheckpoint(false)
  }

  /** FilePartitions-style scan-task estimate from file metadata (never
    * touches `.rdd` — AQE finalization is the side effect being
    * avoided). Early-exits once the size sum alone proves ≥ `p` tasks,
    * so huge file lists stat only a prefix. Frames with no input files
    * (in-memory/local relations) estimate 0 — the narrow shape. */
  private def estimatedScanTasks(df: DataFrame, p: Int): Long = {
    val conf = df.sparkSession.sessionState.conf
    val maxPB = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val minPartNum = conf.filesMinPartitionNum
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    var total = 0L
    val files = df.inputFiles
    var i = 0
    while (i < files.length && total < p.toLong * maxPB) {
      val path = new org.apache.hadoop.fs.Path(files(i))
      val len = try path.getFileSystem(hconf).getFileStatus(path).getLen
        catch { case _: java.io.IOException => 0L }
      total += len + openCost
      i += 1
    }
    if (total >= p.toLong * maxPB) return p.toLong // proven wide; stop
    val maxSplit = math.min(maxPB, math.max(openCost, total / math.max(1, minPartNum)))
    (total + maxSplit - 1) / math.max(1L, maxSplit)
  }
}
