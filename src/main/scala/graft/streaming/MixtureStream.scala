package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session
import graft.operators.Curation
import graft.schema.Schemas
import graft.sources.Tables

/** Continuous mixture reweighting — the streaming face of
  * [[Curation.mixtureReweight]], the monitor-family convention (the
  * [[KAnonStream]] count discipline): documents arrive as a replayed
  * file stream and the monitor maintains per-source (doc count, exact
  * DECIMAL quality sum) — state is the fixed 20-source vocabulary,
  * model-sized however many documents flow. As a new crawl shifts a
  * domain's quality profile, the EG weights move ON ARRIVAL instead of
  * at the next offline mixture re-derivation.
  *
  * Decimal sums and integer counts merge exactly under any micro-batch
  * slicing, so the streamed summary is BIT-IDENTICAL to the batch
  * aggregation (asserted in-plan, `parity_ok`); the readout then runs
  * the SAME [[Curation.egReweightTable]] fold — identical IEEE ops in
  * identical order — so the streamed weight table hash-matches the
  * batch oracle with the parity column appended. */
object MixtureStream {

  /** Run the monitor to completion: the [[Curation.mixtureReweight]]
    * table + `parity_ok`. */
  def runStreamMixtureReweight(
      spark: SparkSession, dir: String, nBatches: Int = 3,
      eta: Double = Curation.ReweightEta, iters: Int = Curation.ReweightIters,
      assertParity: Boolean = true): DataFrame = {
    val staged = PreferenceIngest.stagedDocs(spark, dir, nBatches)
    val name = "q_mixture_reweight_stream_sink"

    Session.withConf(spark, StreamConf.MonitorWidth) {
      val q = spark.readStream.schema(Schemas.documents)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .filter(col("source").isNotNull)
        // the SAME per-row quality expression tree as the batch scorer
        .select(col("source"),
          round(lit(1.0) / (lit(1.0) + exp(-Curation.qualityLogit(col("text")))), 6)
            .cast(DecimalType(8, 6)).as("q6"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("q6")).as("qsum"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }

    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getAs[String]("source") ->
        (r.getAs[Long]("n"), r.getAs[java.math.BigDecimal]("qsum"))).toMap
    // streamed state: the fixed |Sources| vocabulary — model-sized
    val cur = toMap(spark.table(name).collect())
    val parityOk = !assertParity || {
      val batch = toMap(Tables.documents(spark, dir)
        .filter(col("source").isNotNull)
        .select(col("source"),
          round(lit(1.0) / (lit(1.0) + exp(-Curation.qualityLogit(col("text")))), 6)
            .cast(DecimalType(8, 6)).as("q6"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("q6")).as("qsum"))
        .collect())
      cur.keySet == batch.keySet && cur.forall { case (k, (n, q)) =>
        batch(k)._1 == n && batch(k)._2.compareTo(q) == 0
      }
    }
    // avg = round6(decimal-sum as double / n): the batch aggregation's
    // exact spelling, folded from the collected state
    val perSrc = cur.toIndexedSeq.sortBy(_._1).map { case (s, (n, q)) =>
      (s, n, r6(q.doubleValue() / n))
    }
    Curation.egReweightTable(spark, perSrc, eta, iters, Curation.Sources)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("source"))
  }
}
