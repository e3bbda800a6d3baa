package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.Session
import graft.operators.Clustering
import graft.schema.Schemas
import graft.sources.Tables

/** STREAMING cluster-share monitor — the clustering family's monitor
  * form (the [[EmbedDriftStream]] convention): [[Clustering]] trains a
  * k-means model on the frozen even-id REFERENCE half offline; this
  * form watches the current corpus ARRIVE and maintains per-cluster
  * assignment counts incrementally. A mixture shift — one semantic mode
  * suddenly dominating the crawl — moves the share table long before
  * any per-dimension moment gate fires, and the readout says WHICH mode.
  *
  * Streaming state is k integer counts (model-sized however many
  * vectors flow): the assignment is a STATELESS codegen projection
  * against the broadcast centroid literals, so the streaming plan is
  * scan → project → k-row complete-mode count — the
  * [[EventStreams.windowPsiCounts]] bin-count discipline with the
  * k-means cells as the bins. Integer counts are exactly mergeable, so
  * the streamed state is BIT-IDENTICAL to a batch recompute under any
  * micro-batch slicing — asserted in-plan (`parity_ok`). The drift
  * readout is the per-cluster share table with the q_psi_drift
  * +0.5 / +k/2 Laplace-smoothed PSI terms (empty cells stay finite);
  * a missing side yields EMPTY — absence is not zero drift. */
object ClusterShareStream {

  /** The streamed current-side corpus: odd vec_ids striped into
    * `nBatches` files (the even half is the frozen reference). */
  private def stagedCur(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"cluster-share-$nBatches", dir) {
      val vecs = Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(2L)) === 1)
      (0 until nBatches).map(i =>
        vecs.filter(pmod((col("vec_id") / 2).cast("long"), lit(nBatches)) === i))
    }

  private def countsOf(rows: Array[Row], k: Int): Array[Long] = {
    val a = Array.fill(k)(0L)
    rows.foreach(r => a(r.getAs[Int]("cl")) = r.getAs[Long]("n"))
    a
  }

  /** GROUPED monitor (the grouped-gate convention): the count key is
    * (label, cluster) — the global form says WHICH mode shifted, this
    * says WHOSE corpus slice shifted it. State = |labels|·k integer
    * counts (still model-sized — the label domain is a fixed vocabulary,
    * never data-sized); shares and the Laplace-smoothed PSI terms are
    * WITHIN-label, so each label's row block is exactly the global
    * monitor run on that slice (twin-tested). A label empty on either
    * side drops whole — absence is not zero drift, per segment. */
  def runStreamClusterShareBy(
      spark: SparkSession, dir: String,
      nBatches: Int = 4, assertParity: Boolean = true): DataFrame = {
    val (k, iters, dim) = (Clustering.DefaultK, Clustering.DefaultIters, Clustering.Dim)
    val outSchema = StructType(Seq(
      StructField("label", LongType, nullable = false),
      StructField("cluster", IntegerType, nullable = false),
      StructField("n_ref", LongType, nullable = false),
      StructField("n_cur", LongType, nullable = false),
      StructField("share_ref", DoubleType, nullable = false),
      StructField("share_cur", DoubleType, nullable = false),
      StructField("psi_term", DoubleType, nullable = false),
      StructField("parity_ok", BooleanType, nullable = false)))
    val cents = Clustering.refModelFor(spark, dir, k, iters, dim)
    val staged = stagedCur(spark, dir, nBatches)
    val name = "q_cluster_share_by_label_sink"

    // label-preserving hygiene + assignment, shared by the stream fold
    // and the one-pass batch recompute
    def labeled(df: DataFrame): DataFrame = Clustering.assignAll(
      df.filter(col("vec_id").isNotNull && col("label").isNotNull &&
          col("embedding").isNotNull)
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          col("embedding").as("v"))
        .filter(size(col("v")) === dim && !exists(col("v"), x => x.isNull)),
      cents)
    def grouped(df: DataFrame): DataFrame =
      labeled(df).groupBy(col("label"), col("cl")).agg(count(lit(1)).as("n"))

    val sink = Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.toMemory(grouped(Replay.source(spark, Schemas.embeddings, staged)), name, "complete")
    }

    // ref + parity in ONE assignment pass (the id parity rides the key)
    val both = labeled(Tables.embeddings(spark, dir))
      .groupBy(pmod(col("vec_id"), lit(2L)).as("par"), col("label"), col("cl"))
      .agg(count(lit(1)).as("n")).collect()
    def halfCounts(parity: Long): Map[(Long, Int), Long] = both
      .filter(_.getAs[Long]("par") == parity)
      .map(r => (r.getAs[Long]("label"), r.getAs[Int]("cl")) -> r.getAs[Long]("n"))
      .toMap
    val cur = sink.collect() // ≤ |labels|·k rows — model-sized
      .map(r => (r.getAs[Long]("label"), r.getAs[Int]("cl")) -> r.getAs[Long]("n"))
      .toMap
    val ref = halfCounts(0L)
    val parityOk = !assertParity || cur == halfCounts(1L)
    val labels = (ref.keySet ++ cur.keySet).map(_._1)
      .filter(l => (0 until k).exists(j => ref.getOrElse((l, j), 0L) > 0L) &&
        (0 until k).exists(j => cur.getOrElse((l, j), 0L) > 0L))
      .toSeq.sorted
    val pad = k / 2.0
    val out = labels.flatMap { l =>
      val nRef = (0 until k).map(j => ref.getOrElse((l, j), 0L)).sum
      val nCur = (0 until k).map(j => cur.getOrElse((l, j), 0L)).sum
      (0 until k).map { j =>
        val r = ref.getOrElse((l, j), 0L)
        val c = cur.getOrElse((l, j), 0L)
        val pr = (r.toDouble + 0.5) / (nRef.toDouble + pad)
        val pc = (c.toDouble + 0.5) / (nCur.toDouble + pad)
        Row(l, j, r, c,
          round6(r.toDouble / nRef.toDouble),
          round6(c.toDouble / nCur.toDouble),
          round6((pr - pc) * math.log(pr / pc)),
          parityOk)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(col("label"), col("cluster"))
  }

  /** Run the monitor to completion: per-cluster
    * (cluster, n_ref, n_cur, share_ref, share_cur, psi_term, parity_ok)
    * rows; `parity_ok` asserts streamed counts ≡ a batch recompute of
    * the same assignment (incremental ≡ recompute). */
  def runStreamClusterShare(
      spark: SparkSession, dir: String,
      nBatches: Int = 4, assertParity: Boolean = true): DataFrame = {
    val (k, iters, dim) = (Clustering.DefaultK, Clustering.DefaultIters, Clustering.Dim)
    val outSchema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("n_ref", LongType, nullable = false),
      StructField("n_cur", LongType, nullable = false),
      StructField("share_ref", DoubleType, nullable = false),
      StructField("share_cur", DoubleType, nullable = false),
      StructField("psi_term", DoubleType, nullable = false),
      StructField("parity_ok", BooleanType, nullable = false)))
    val cents = Clustering.refModelFor(spark, dir, k, iters, dim)
    val staged = stagedCur(spark, dir, nBatches)
    val name = "q_kmeans_share_stream_sink"

    val sink = Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.toMemory(
        Clustering.assign(
            Clustering.cleanVectors(Replay.source(spark, Schemas.embeddings, staged), dim),
            cents)
          .groupBy(col("cl")).agg(count(lit(1)).as("n")),
        name, "complete")
    }

    // ref + parity batch counts in ONE assignment pass (the id parity
    // rides the count key — two filtered passes would run the decimal
    // argmin projection over the corpus twice for no reason)
    val both = Clustering.assign(
        Clustering.cleanVectors(Tables.embeddings(spark, dir), dim), cents)
      .groupBy(pmod(col("vec_id"), lit(2L)).as("par"), col("cl"))
      .agg(count(lit(1)).as("n")).collect()
    def halfCounts(parity: Long): Array[Row] =
      both.filter(_.getAs[Long]("par") == parity)

    val curState = sink.collect() // ≤ k rows — model-sized
    val cur = countsOf(curState, k)
    val ref = countsOf(halfCounts(0L), k)
    val parityOk = !assertParity ||
      java.util.Arrays.equals(cur, countsOf(halfCounts(1L), k))
    val nRef = ref.sum
    val nCur = cur.sum
    if (nRef == 0L || nCur == 0L) // absence is not zero drift
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)
    val pad = k / 2.0
    val out = (0 until k).map { j =>
      val pr = (ref(j).toDouble + 0.5) / (nRef.toDouble + pad)
      val pc = (cur(j).toDouble + 0.5) / (nCur.toDouble + pad)
      Row(j, ref(j), cur(j),
        round6(ref(j).toDouble / nRef.toDouble),
        round6(cur(j).toDouble / nCur.toDouble),
        round6((pr - pc) * math.log(pr / pc)),
        parityOk)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(col("cluster"))
  }
}
