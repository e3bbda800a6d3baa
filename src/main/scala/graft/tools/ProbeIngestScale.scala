package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{l2Norm, PairGenerators}
import graft.operators.Clustering

/** Round-14 mandate: measure the STREAMING INGEST family's per-batch
  * cost against a 10× at-rest index — the cell-pruned probe is the
  * claim ([[graft.streaming.SemDedupIngest]]: "the probe lists only the
  * batch's own cell directories, so the per-batch index scan
  * structurally cannot touch any other cell").
  *
  * What "flat" honestly means here: per-batch probe work is bounded by
  * the batch's CELL FOOTPRINT — Σ occupancy over the ≤ |batch| cells
  * the trigger lands in — never by the index size. In the paper regime
  * (cell count grows with the corpus, occupancy flat — the
  * q_semdedup_auto_k / auto-nLists posture), a fixed-size trigger
  * therefore probes a FLAT number of rows and files while the at-rest
  * index grows 10×. The trigger must be small relative to the cell
  * count for the bound to bind — exactly the 100 TB deployment shape,
  * where a micro-batch is minuscule next to the corpus's cell
  * vocabulary. (At the verify SF with k = 8, ANY 200-vector batch
  * touches all 8 cells and "pruning" is vacuous — which is why this
  * probe uses an 8-vector trigger and grows k 8 → 80 with the corpus,
  * the same regime the ProbeScale semdedup row measures.)
  *
  * Experiment: the SAME 8-vector trigger (fresh ids, vectors from the
  * base corpus) probes (a) the 1× at-rest index (sf0.1, k = 8 model)
  * and (b) the 10× at-rest index (ProbeScale's rotated-replica corpus,
  * k = 80 model — occupancy flat at ~250). Reported per side: cells
  * touched, partition files listed, index rows the probe reads, pairs
  * emitted, and min-of-3 wall for the full per-batch pair computation
  * (assign + cell-pruned cross probe + in-batch generator). The
  * 10×/1× wall and rows-probed ratios should be ~1 (flat), while the
  * index behind them grew 10×.
  */
object ProbeIngestScale {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else Substrate.Work
    val spark = Substrate.session()

    val tau = Clustering.SemDedupTau
    val idxSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("v", ArrayType(FloatType)),
      StructField("nrm", DoubleType), StructField("cl", IntegerType)))

    // ---- 10x corpus, shared with ProbeAutoNLists/ProbeGraphScale -------
    val tenDir = s"$work/corpus10x"
    Substrate.stageEmbeddings10x(spark, base, tenDir)

    // ---- the trigger: 8 vectors, fresh ids, same on both sides --------
    val batch = spark.read.parquet(s"$base/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select((col("vec_id") + lit(99L) * Substrate.Off).as("vec_id"), col("embedding"))
      .cache()
    println(s"trigger batch: ${batch.count()} vectors")

    // ---- stage an at-rest index: assign under the model, cl-partitioned
    def stageIndex(tag: String, corpusDir: String, k: Int): (java.io.File, Array[Array[Double]]) = {
      val emb = graft.sources.Tables.embeddings(spark, corpusDir)
      val cents = Clustering.kmeans(Clustering.cleanVectors(emb), k = k)
      val d = new java.io.File(s"$work/index-$tag")
      graft.sources.Staging.rmTree(d)
      Clustering.assign(Clustering.cleanVectors(emb), cents)
        .select(col("cl"), col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"))
        .repartition(col("cl"))
        .write.partitionBy("cl").parquet(d.toString)
      (d, cents)
    }

    // ---- one per-batch pair computation, exactly the ingest's probe ----
    def probeOnce(indexDir: java.io.File, cents: Array[Array[Double]]): (Int, Int, Long, Long, Double) = {
      val t0 = System.nanoTime()
      val asg = Clustering.assign(Clustering.cleanVectors(batch), cents)
        .select(col("cl"), col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"))
        .localCheckpoint(false)
      val cells = asg.select(col("cl")).distinct().collect().map(_.getInt(0)).toSeq
      val files = graft.streaming.SemDedupIngest.cellFiles(indexDir, cells)
      val idxSnap = graft.streaming.Replay
        .snapshotRead(spark, indexDir, idxSchema, files)
        .localCheckpoint(false) // rows-probed count + the probe join
      val probedRows = idxSnap.count()
      def rawCos(vA: org.apache.spark.sql.Column, nA: org.apache.spark.sql.Column,
          vB: org.apache.spark.sql.Column, nB: org.apache.spark.sql.Column) = {
        val denom = nA * nB
        when(denom === 0.0, 0.0)
          .otherwise(graft.functions.dotProduct(vA, vB) / denom)
      }
      val cross = asg.select(col("cl"), col("vec_id").as("b_id"),
          col("v").as("b_v"), col("nrm").as("b_nrm"))
        .join(idxSnap.select(col("cl"), col("vec_id").as("i_id"),
          col("v").as("i_v"), col("nrm").as("i_nrm")), Seq("cl"))
        .select(rawCos(col("b_v"), col("b_nrm"), col("i_v"), col("i_nrm")).as("cosine"))
        .filter(col("cosine") >= tau - 1e-6)
        .filter(round(col("cosine"), 6) >= tau)
      val inBatch = asg
        .groupBy(col("cl"))
        .agg(collect_list(struct(col("vec_id"), col("v"), col("nrm"))).as("members"))
        .select(PairGenerators.cosinePairs(col("members"), tau - 1e-6)
          .as(Seq("vec_a", "vec_b", "cosine")))
        .filter(round(col("cosine"), 6) >= tau)
        .select(col("cosine"))
      val nPairs = cross.unionByName(inBatch).count()
      val wall = (System.nanoTime() - t0) / 1e9
      (cells.length, files.length, probedRows, nPairs, wall)
    }

    def side(tag: String, corpusDir: String, k: Int): Unit = {
      val n = graft.sources.Tables.embeddings(spark, corpusDir).count()
      val (d, cents) = stageIndex(tag, corpusDir, k)
      val runs = (1 to 3).map(_ => probeOnce(d, cents))
      val (cells, files, rows, pairs, _) = runs.head
      val wall = runs.map(_._5).min
      println(f"$tag%-4s index n=$n%6d k=$k%3d occ=${n / k}%5d | " +
        f"cells=$cells files=$files rows_probed=$rows pairs=$pairs " +
        f"wall(min3)=$wall%6.2f s")
    }

    side("1x", base, 8)
    side("10x", tenDir, 80)
    spark.stop()
  }
}
