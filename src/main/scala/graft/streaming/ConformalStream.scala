package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}

import graft.Session
import graft.operators.{Curation, Robust}
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** STREAMING conformal coverage monitor — the conformal gate's monitor
  * form (the [[ClusterShareStream]] convention): q̂ is FROZEN from the
  * calibration half offline (the frozen reference-model convention —
  * arriving data must not move the threshold it is judged against);
  * this form watches the TEST half arrive and maintains the coverage
  * audit incrementally. If the score distribution drifts, empirical
  * coverage slides off the 1−α target long before any accuracy metric
  * can be recomputed — this is the gate's own health check.
  *
  * Streaming state is THREE integers (n_test, n_covered, set-size sum):
  * the per-row score → nonconformity map is a STATELESS projection
  * (identical to the batch gate's by construction —
  * [[Robust.conformalScored]] is the shared spelling), and integer
  * counts are exactly mergeable, so the streamed audit is BIT-IDENTICAL
  * to a batch recompute under any micro-batch slicing — asserted
  * in-plan (`parity_ok`). Output row matches [[Robust.conformalGate]]
  * (n_cal, n_test, qhat, coverage, avg_set_size) + parity_ok. */
object ConformalStream {

  /** The streamed test-half corpus: documents whose portable-hash parity
    * puts them OUTSIDE the calibration half, striped into `nBatches`
    * files by doc_id. */
  private def stagedTest(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Staging.dir(s"conformal-stream-$nBatches", dir) { d =>
      val test = Tables.documents(spark, dir).filter(
        pmod(graft.functions.PortableHash.keyHash(col("doc_id")), lit(2L)) === 1L)
      (0 until nBatches).foreach { i =>
        val stage = new java.io.File(d, s"__stage$i")
        test.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === i)
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

  /** GROUPED monitor (the Mondrian companion, per the grouped-gate
    * convention): a SEPARATE frozen q̂ per source, so each source's
    * coverage is judged against its own guarantee — a marginal monitor
    * can read healthy while one source's crawl quietly under-covers.
    * State = three integers PER SOURCE (the source domain is a fixed
    * vocabulary — model-sized); the arriving row joins its source's
    * frozen q̂ through a stream-static broadcast join (sources without
    * calibration have no guarantee to offer: their rows drop, the
    * Mondrian contract). Output mirrors [[Robust.conformalGateBy]] +
    * parity_ok; calibration-only sources keep (n_test = 0, NULL) rows. */
  def runStreamConformalBy(
      spark: SparkSession, dir: String,
      nBatches: Int = 4, coverPct: Int = 90,
      assertParity: Boolean = true): DataFrame = {
    val dec86 = org.apache.spark.sql.types.DecimalType(8, 6)
    val one = lit(1).cast(dec86)
    val outSchema = StructType(Seq(
      StructField("source", org.apache.spark.sql.types.StringType, nullable = true),
      StructField("n_cal", LongType, nullable = false),
      StructField("n_test", LongType, nullable = false),
      StructField("qhat", DoubleType, nullable = false),
      StructField("coverage", DoubleType, nullable = true),
      StructField("avg_set_size", DoubleType, nullable = true),
      StructField("parity_ok", BooleanType, nullable = false)))

    def scoredBy(docs: DataFrame): DataFrame = Robust.conformalScoredBy(
      Curation.qualityKeptRaw(docs, extra = Seq("source")),
      "source", col("doc_id"), col("quality"), col("kept"))

    val base = scoredBy(Tables.documents(spark, dir)).localCheckpoint(false)
    // frozen at-rest model: (source, n_cal, q̂) — |sources| rows
    val qhat = Robust.conformalQhatRowsBy(base, coverPct)
      .collect().map(r => r.getAs[String]("__g") ->
        ((r.getAs[Long]("n_cal"), r.getAs[java.math.BigDecimal]("qhat")))).toMap
    val qhatDf = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(qhat.toSeq.sortBy(_._1).map { case (g, (_, q)) =>
        Row(g, q) }: _*),
      StructType(Seq(
        StructField("__g", org.apache.spark.sql.types.StringType),
        StructField("qhat", dec86)))))

    def coverFoldBy(df: DataFrame): DataFrame = df
      .join(qhatDf, Seq("__g")) // stream-static broadcast; cal-less drop
      .groupBy(col("__g")).agg(
        count(lit(1)).as("n"),
        sum(when(col("a") <= col("qhat"), 1L).otherwise(0L)).as("cov"),
        sum(when((one - col("q")).cast(dec86) <= col("qhat"), 1L).otherwise(0L) +
          when(col("q") <= col("qhat"), 1L).otherwise(0L)).as("sz"))

    val staged = stagedTest(spark, dir, nBatches)
    val name = "q_conformal_stream_by_source_sink"
    Session.withConf(spark, StreamConf.MonitorWidth) {
      val q = coverFoldBy(scoredBy(
          spark.readStream.schema(Schemas.documents)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }

    def folds(rows: Array[Row]): Map[String, (Long, Long, Long)] =
      rows.map(r => r.getAs[String]("__g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("cov"), r.getAs[Long]("sz")))).toMap
    val streamed = folds(spark.table(name).collect()) // ≤ |sources| rows
    val parityOk = !assertParity ||
      streamed == folds(coverFoldBy(base.filter(!col("is_cal"))).collect())
    val out = qhat.toSeq.sortBy(_._1).map { case (g, (nCal, qh)) =>
      streamed.get(g) match {
        case Some((n, cov, sz)) =>
          Row(g, nCal, n, qh.doubleValue(),
            round6(cov.toDouble / n.toDouble), round6(sz.toDouble / n.toDouble),
            parityOk)
        case None => // calibration-only source: guarantee offered, untested
          Row(g, nCal, 0L, qh.doubleValue(), null, null, parityOk)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
  }

  /** Run the monitor to completion: ONE row
    * (n_cal, n_test, qhat, coverage, avg_set_size, parity_ok). */
  def runStreamConformal(
      spark: SparkSession, dir: String,
      nBatches: Int = 4, coverPct: Int = 90,
      assertParity: Boolean = true): DataFrame = {
    val dec86 = org.apache.spark.sql.types.DecimalType(8, 6)
    val one = lit(1).cast(dec86)
    val outSchema = StructType(Seq(
      StructField("n_cal", LongType, nullable = false),
      StructField("n_test", LongType, nullable = false),
      StructField("qhat", DoubleType, nullable = false),
      StructField("coverage", DoubleType, nullable = false),
      StructField("avg_set_size", DoubleType, nullable = false),
      StructField("parity_ok", BooleanType, nullable = false)))

    def scored(docs: DataFrame): DataFrame = Robust.conformalScored(
      Curation.qualityKeptRaw(docs), col("doc_id"), col("quality"), col("kept"))

    // ONE text-scoring pass over the batch corpus, checkpointed: the q̂
    // calibration and the parity fold both read it — the scored base is
    // 5 narrow columns, while re-running the langId/TTR/bigram text
    // projection per consumer measured 9.49 → 6.66 s on the whole
    // monitor at sf0.1 (this fusion + the share-monitor one-pass change)
    spark.sparkContext.setJobDescription("conformal: score+checkpoint base")
    val base = scored(Tables.documents(spark, dir)).localCheckpoint(false)

    // frozen at-rest model: ONE collected row (n_cal, q̂)
    spark.sparkContext.setJobDescription("conformal: qhat calibration")
    val calRow = Robust.conformalQhatRow(base, coverPct).collect()(0)
    val qhat = calRow.getAs[java.math.BigDecimal]("qhat")
    val nCal = calRow.getAs[Long]("n_cal")
    val qhatLit = lit(qhat).cast(dec86)

    def coverFold(df: DataFrame): DataFrame = df.agg(
      count(lit(1)).as("n"),
      sum(when(col("a") <= qhatLit, 1L).otherwise(0L)).as("cov"),
      sum(when((one - col("q")).cast(dec86) <= qhatLit, 1L).otherwise(0L) +
        when(col("q") <= qhatLit, 1L).otherwise(0L)).as("sz"))

    spark.sparkContext.setJobDescription("conformal: stage stream input")
    val staged = stagedTest(spark, dir, nBatches)
    val name = "q_conformal_stream_sink"
    spark.sparkContext.setJobDescription(null)
    Session.withConf(spark, StreamConf.MonitorWidth) {
      val q = coverFold(scored(
          spark.readStream.schema(Schemas.documents)
            .option("maxFilesPerTrigger", "1")
            .parquet(staged.toString)))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }

    def triple(rows: Array[Row]): (Long, Long, Long) = {
      val r = rows(0)
      (r.getAs[Long]("n"), r.getAs[Long]("cov"), r.getAs[Long]("sz"))
    }
    spark.sparkContext.setJobDescription("conformal: sink read + parity fold")
    val streamed = triple(spark.table(name).collect()) // 1 row — model-sized
    val parityOk = !assertParity ||
      streamed == triple(coverFold(base.filter(!col("is_cal"))).collect())
    spark.sparkContext.setJobDescription(null)
    val (n, cov, sz) = streamed
    if (n == 0L) // no test rows — nothing to audit (absence is not coverage)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), outSchema)
    val out = Row(nCal, n, qhat.doubleValue(),
      round6(cov.toDouble / n.toDouble), round6(sz.toDouble / n.toDouble),
      parityOk)
    spark.createDataFrame(java.util.Arrays.asList(out), outSchema)
  }
}
