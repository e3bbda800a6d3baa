package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DecimalType, DoubleType, LongType, StructField, StructType}

import graft.Session
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** STREAMING embedding-drift gate — the monitor form of
  * [[graft.operators.EmbeddingDrift.frechetDrift]]: the batch gate
  * answers "did today's crawl embed differently?" after the fact; this
  * form watches the current corpus ARRIVE (micro-batched vector files)
  * and maintains the drift statistic incrementally against a FROZEN
  * reference profile, the shape that actually pages someone.
  *
  * Streaming state is the per-dimension MERGEABLE moment triple
  * (Σx, Σx², n) as exact DECIMAL(38,12) sums — d rows of state however
  * many vectors flow, held by an ordinary complete-mode streaming
  * aggregation (the [[EventStreams.windowPsiCounts]] bin-count
  * discipline: the stream never recomputes a profile, it only adds).
  * Because decimal addition is exact and order-independent, the final
  * state is BIT-IDENTICAL to a batch recompute of the same sums no
  * matter how the files were sliced into micro-batches — asserted
  * in-plan by the parity twin (the [[AnnServe]] streamed ≡ whole-set
  * contract).
  *
  * The drift fold uses the ONE-PASS variance s² = E[x²] − m² (clamped at
  * 0 against cancellation) instead of the batch gate's two-pass centered
  * squares: a stream cannot re-scan history for pass 2, and the one-pass
  * moments are exactly what the mergeable state can carry. Both sides —
  * the frozen reference profile (computed offline, batch) and the
  * streamed current side — use the SAME one-pass algebra, and every step
  * (double cast of the decimal sums, 6-dp rounded mean, rounded clamped
  * variance, ascending-i term chain) is a fixed deterministic chain the
  * DuckDB oracle replays bit-exactly. A missing side (no valid vectors)
  * yields an EMPTY result — the fail-loud gate contract of the batch
  * form. */
object EmbedDriftStream {

  /** Per-dimension mergeable moment sums over valid `dim`-length vectors:
    * (i, sx, sxx, n) with sx = Σ decimal(x), sxx = Σ decimal(x_d · x_d)
    * (the square computed in DOUBLE per element, then one deterministic
    * decimal cast — the [[graft.operators.EmbeddingDrift]] pass-2
    * convention), n = contributing vectors. Runs identically as a batch
    * aggregation and as complete-mode streaming state. */
  def momentSums(df: DataFrame, vecCol: Column, dim: Int): DataFrame = {
    val dec = DecimalType(38, 12)
    df.select(vecCol.as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim &&
        !exists(col("v"), x => x.isNull))
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .select(col("i"), col("x").cast(dec).as("xd"),
        // exact decimal square — no double-product cast (Clustering.distArray)
        (col("x").cast(DecimalType(16, 12)) * col("x").cast(DecimalType(16, 12))).as("xx"))
      .groupBy(col("i"))
      .agg(sum(col("xd")).as("sx"), sum(col("xx")).as("sxx"),
        count(lit(1)).as("n"))
  }

  /** The streamed current-side corpus: odd vec_ids, striped into
    * `nBatches` parquet files (memoized per data dir; the even half is
    * the frozen reference). */
  private def stagedCur(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Staging.dir(s"embed-drift-$nBatches", dir) { d =>
      val vecs = Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(2L)) === 1)
      (0 until nBatches).foreach { i =>
        val stage = new java.io.File(d, s"__stage$i")
        vecs.filter(pmod((col("vec_id") / 2).cast("long"), lit(nBatches)) === i)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(d, f"batch-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(1700000000000L + i * 600000L)
        Staging.rmTree(stage)
      }
    }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (mean, s²) per dimension from a collected (i, sx, sxx, n) summary —
    * the fixed double chain both the operator and the oracle run:
    * m = round6(sx/n), s² = max(round6(sxx/n − m·m), 0). */
  private def foldMoments(rows: Array[Row], dim: Int): (Array[Double], Array[Double], Long) = {
    val m = Array.ofDim[Double](dim)
    val s2 = Array.ofDim[Double](dim)
    var n = 0L
    rows.foreach { r =>
      val i = r.getAs[Int]("i")
      val nn = r.getAs[Long]("n")
      n = math.max(n, nn)
      val sxD = r.getAs[java.math.BigDecimal]("sx").doubleValue()
      val sxxD = r.getAs[java.math.BigDecimal]("sxx").doubleValue()
      val mi = round6(sxD / nn)
      m(i) = mi
      s2(i) = math.max(round6(sxxD / nn - mi * mi), 0.0)
    }
    (m, s2, n)
  }

  /** Run the drift monitor stream to completion and emit ONE row
    * `(n_ref, n_cur, frechet2, parity_ok)`; `parity_ok` asserts the
    * streamed moment state equals a batch recompute of the same sums
    * row-for-row (incremental ≡ recompute — THE property a streaming
    * monitor must prove). `assertParity = false` (the bench form) times
    * the stream + gate alone. */
  def runStreamEmbedDrift(
      spark: SparkSession, dir: String,
      nBatches: Int = 4, assertParity: Boolean = true): DataFrame = {
    val dim = 64
    val outSchema = StructType(Seq(
      StructField("n_ref", LongType, nullable = false),
      StructField("n_cur", LongType, nullable = false),
      StructField("frechet2", DoubleType, nullable = false),
      StructField("parity_ok", BooleanType, nullable = false)))
    val staged = stagedCur(spark, dir, nBatches)
    val name = "q_embed_drift_stream_sink"

    Session.withConf(spark, StreamConf.MonitorWidth) {
      val q = momentSums(
          spark.readStream.schema(Schemas.embeddings)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString),
          col("embedding"), dim)
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }

    val curState = spark.table(name).collect() // ≤ d rows — model-sized
    val refRows = momentSums(
      Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(2L)) === 0),
      col("embedding"), dim).collect()
    if (curState.isEmpty || refRows.isEmpty) // absence is not zero drift
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)

    val parityOk = if (!assertParity) true else {
      val batchTwin = momentSums(
        Tables.embeddings(spark, dir).filter(pmod(col("vec_id"), lit(2L)) === 1),
        col("embedding"), dim).collect()
      val key = (r: Row) => r.getAs[Int]("i")
      val bm = batchTwin.map(r => key(r) -> r).toMap
      curState.length == batchTwin.length && curState.forall { r =>
        bm.get(key(r)).exists(b =>
          b.getAs[java.math.BigDecimal]("sx").compareTo(
            r.getAs[java.math.BigDecimal]("sx")) == 0 &&
          b.getAs[java.math.BigDecimal]("sxx").compareTo(
            r.getAs[java.math.BigDecimal]("sxx")) == 0 &&
          b.getAs[Long]("n") == r.getAs[Long]("n"))
      }
    }

    val (mr, s2r, nRef) = foldMoments(refRows, dim)
    val (mc, s2c, nCur) = foldMoments(curState, dim)
    var fr = 0.0
    var i = 0
    while (i < dim) {
      val dm = mr(i) - mc(i)
      fr += dm * dm + s2r(i) + s2c(i) - 2.0 * math.sqrt(s2r(i) * s2c(i))
      i += 1
    }
    spark.createDataFrame(
      java.util.Arrays.asList(Row(nRef, nCur, round6(fr), parityOk)),
      outSchema)
  }
}
