package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session
import graft.sources.Tables

/** Continuous k-anonymity monitor — the privacy family's streaming face
  * (the [[ClusterShareStream]] count discipline): customer records
  * arrive as a replayed file stream and the monitor maintains per-QI
  * class counts incrementally. A class dipping below the k floor as
  * deletes/inserts flow is a release blocker the NEXT offline audit
  * would catch too late — the monitor pages on arrival.
  *
  * Streaming state is |QI classes| integer counts — the QI here is
  * (nation, segment), a fixed 25×5 vocabulary, so state is model-sized
  * however many records flow; the aggregation is one complete-mode
  * count keyed by the QI. Integer counts are exactly mergeable, so the
  * streamed state is BIT-IDENTICAL to a batch recompute under any
  * micro-batch slicing — asserted in-plan (`parity_ok`) — and the
  * histogram readout hash-matches the same plain-SQL oracle as the
  * batch audit, parity pinned. */
object KAnonStream {

  /** Stream-read schema DERIVED from the batch table's schema, pruned to
    * the monitor's columns — a regenerated dataset with widened physical
    * types flows through unchanged instead of breaking the streaming
    * read while the batch path keeps working. */
  private def customerStreamSchema(spark: SparkSession, dir: String): StructType = {
    val base = Tables.customer(spark, dir).schema
    StructType(Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment").map(n => base(n)))
  }

  private def stagedCustomers(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Replay.stage(s"kanon-$nBatches", dir) {
      val rows = Tables.customer(spark, dir)
      (0 until nBatches).map(i => rows.filter(pmod(col("c_custkey"), lit(nBatches.toLong)) === i))
    }

  /** CONTINUOUS t-closeness monitor — the streaming face of
    * [[graft.operators.Privacy.tCloseness]], the [[runStreamKAnonymity]]
    * count discipline one rung up the privacy ladder: state is the
    * (nation, segment, acctbal-bucket) class-VALUE count grid (a fixed
    * 25×5×~11 vocabulary — model-sized however many records flow),
    * maintained as one complete-mode count. The readout feeds the
    * accumulated grid to [[graft.operators.Privacy.tClosenessFromCounts]]
    * — the SAME expression tree the batch audit runs — so streamed ≡
    * batch is exact-integer equality (asserted in-plan, `parity_ok`)
    * and the EMD table hash-matches the same generated oracle. */
  def runStreamTCloseness(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      t: Double = graft.operators.Privacy.DefaultT,
      assertParity: Boolean = true): DataFrame = {
    val staged = stagedCustomers(spark, dir, nBatches)
    val name = "q_t_closeness_stream_sink"
    val bucket = floor(col("c_acctbal") / 1000.0).cast("long")

    // streamed state: ≤ |nations|·|segments|·|buckets| integer rows
    val cur = Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.toMemory(
        Replay.source(spark, customerStreamSchema(spark, dir), staged)
          .groupBy(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"), bucket.as("sval"))
          .agg(count(lit(1)).as("cnt")),
        name, "complete")
    }

    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"),
        r.getAs[Long]("sval")) -> r.getAs[Long]("cnt")).toMap
    val parityOk = !assertParity || {
      val batch = Tables.customer(spark, dir)
        .groupBy(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"), bucket.as("sval"))
        .agg(count(lit(1)).as("cnt"))
      toMap(cur.collect()) == toMap(batch.collect())
    }
    graft.operators.Privacy.tClosenessFromCounts(cur, t)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("nation"), col("segment"))
  }

  /** Run the monitor to completion: the class-size histogram
    * (class_size, n_classes, n_rows, at_risk) + `parity_ok` (streamed
    * class counts ≡ batch recompute, exact integers). */
  def runStreamKAnonymity(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      k: Long = graft.operators.Privacy.DefaultK,
      assertParity: Boolean = true): DataFrame = {
    val staged = stagedCustomers(spark, dir, nBatches)
    val name = "q_k_anonymity_stream_sink"

    val sink = Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.toMemory(
        Replay.source(spark, customerStreamSchema(spark, dir), staged)
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n")),
        name, "complete")
    }

    // streamed state: ≤ |nations|·|segments| integer rows — model-sized
    val cur = sink.collect()
      .map(r => (r.getAs[Number]("c_nationkey").longValue(), r.getAs[String]("c_mktsegment"))
        -> r.getAs[Long]("n")).toMap
    val parityOk = !assertParity || {
      val batch = Tables.customer(spark, dir)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getAs[Number]("c_nationkey").longValue(), r.getAs[String]("c_mktsegment"))
          -> r.getAs[Long]("n")).toMap
      cur == batch
    }
    // histogram readout over the model-sized state, driver-side
    val hist = cur.values.groupBy(identity).map { case (size, xs) =>
      (size, xs.size.toLong, size * xs.size.toLong)
    }.toSeq.sortBy(_._1)
    val rows = hist.map { case (size, nc, nr) =>
      Row(size, nc, nr, size < k, parityOk)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("class_size", LongType, nullable = false),
        StructField("n_classes", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("at_risk", BooleanType, nullable = false),
        StructField("parity_ok", BooleanType, nullable = false))))
      .orderBy(col("class_size"))
  }

  /** CONTINUOUS DP-budget accounting — the streaming face of
    * [[graft.operators.Privacy.dpAccountant]]: as customer records flow,
    * the monitor discovers the release ledger's classes ON ARRIVAL (a
    * new (nation, segment) class appearing in the stream is a new
    * release on the ledger) and re-meters the campaign's ε spend each
    * trigger — the budget-exceeded page fires when the class arrives,
    * not at the next offline audit. State is the fixed QI grid's
    * integer counts (complete mode, model-sized); the readout applies
    * the SAME shared ε rule ([[graft.operators.Privacy.releaseEpsMicro]])
    * and the SAME accountant expression tree, and the accountant's
    * arithmetic is exact BIGINT prefix sums, so streamed ≡ batch is
    * bit-for-bit under any micro-batch slicing (asserted in-plan,
    * `parity_ok`) and the table hash-matches the batch oracle with the
    * parity column appended. */
  /** The accountant monitors' shared stream harness: run the
    * complete-mode (nation, segment) → count stream to completion and
    * return (accumulated state, full-state parity vs a batch
    * recompute). Parity is the FULL state (keys AND counts) — strictly
    * stronger than what the accountants need (their outputs depend
    * only on the class set), so each monitor's bit-for-bit claim is
    * the thing actually asserted, and both monitors assert it through
    * ONE code path that cannot drift. */
  private def runQiCountStream(
      spark: SparkSession, dir: String, nBatches: Int, sinkName: String,
      assertParity: Boolean): (DataFrame, Boolean) = {
    val staged = stagedCustomers(spark, dir, nBatches)
    // streamed state: the fixed QI grid — model-sized
    val cur = Session.withConf(spark, StreamConf.MonitorWidth) {
      Replay.toMemory(
        Replay.source(spark, customerStreamSchema(spark, dir), staged)
          .groupBy(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n")),
        sinkName, "complete")
    }
    val parityOk = !assertParity || {
      def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getAs[Number]("nation").longValue(), r.getAs[String]("segment"))
          -> r.getAs[Long]("n")).toMap
      toMap(cur.collect()) == toMap(Tables.customer(spark, dir)
        .groupBy(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n")).collect())
    }
    (cur, parityOk)
  }

  def runStreamDpAccountant(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      epsBudget: Double = graft.operators.Privacy.DefaultEpsBudget,
      deltaTarget: Double = graft.operators.Privacy.DefaultDeltaTarget,
      assertParity: Boolean = true): DataFrame = {
    val (cur, parityOk) = runQiCountStream(
      spark, dir, nBatches, "q_dp_accountant_stream_sink", assertParity)
    val ledger = cur.select(col("nation"), col("segment"),
      graft.operators.Privacy.releaseEpsMicro(col("nation"), col("segment"))
        .as("eps_micro"))
    graft.operators.Privacy.dpAccountant(ledger, epsBudget, deltaTarget)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("nation"), col("segment"))
  }

  /** CONTINUOUS heterogeneous (ε, δ) accounting — the monitor face of
    * [[graft.operators.Privacy.dpAccountantHetero]], completing the
    * accountant family's batch/stream symmetry: classes discovered on
    * arrival (complete-mode QI counts, model-sized state), the readout
    * builds the MIXED Laplace+Gaussian ledger through the shared
    * [[graft.operators.Privacy.dpAccountantHeteroLedgerFromClasses]]
    * face and runs the same accountant expression tree — exact BIGINT
    * prefix sums on all three axes (Σε micro, Σδ nano, Σ2ρ micro²), so
    * streamed ≡ batch bit-for-bit under any micro-batch slicing. The
    * δ-budget-exceeded page (the regime only the hetero accountant can
    * see) fires when the crossing Gaussian release arrives. Parity is
    * the FULL state (keys and counts) vs a batch recompute, the
    * [[runStreamDpAccountant]] standard. */
  def runStreamDpAccountantHetero(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      epsBudget: Double = graft.operators.Privacy.DefaultEpsBudget,
      deltaBudget: Double = graft.operators.Privacy.DefaultDeltaBudget,
      deltaTarget: Double = graft.operators.Privacy.DefaultDeltaTarget,
      assertParity: Boolean = true): DataFrame = {
    val (cur, parityOk) = runQiCountStream(
      spark, dir, nBatches, "q_dp_accountant_hetero_stream_sink", assertParity)
    graft.operators.Privacy.dpAccountantHetero(
      graft.operators.Privacy.dpAccountantHeteroLedgerFromClasses(
        cur.select(col("nation"), col("segment"))),
      epsBudget, deltaBudget, deltaTarget)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("nation"), col("segment"))
  }

  /** CONTINUOUS RDP (DP-SGD) accounting — the monitor face of
    * [[graft.operators.Privacy.dpAccountantRdp]], keeping the
    * accountant family's batch/stream symmetry at its fourth rung:
    * training runs discovered on arrival (complete-mode QI counts,
    * model-sized state), the run ledger built through the shared
    * [[graft.operators.Privacy.dpAccountantRdpLedgerFromClasses]] face
    * and fed to the same accountant tree — per-order ceil-to-micro
    * happens per RUN (class), so every prefix sum is exact BIGINT and
    * streamed ≡ batch bit-for-bit under any micro-batch slicing. The
    * budget page fires when the crossing run arrives; class-set parity
    * vs a batch recompute, the [[runStreamDpAccountant]] standard. */
  def runStreamDpAccountantRdp(
      spark: SparkSession, dir: String, nBatches: Int = 4,
      epsBudget: Double = graft.operators.Privacy.DefaultEpsBudget,
      deltaTarget: Double = graft.operators.Privacy.DefaultDeltaTarget,
      assertParity: Boolean = true): DataFrame = {
    val (cur, parityOk) = runQiCountStream(
      spark, dir, nBatches, "q_dp_accountant_rdp_stream_sink", assertParity)
    graft.operators.Privacy.dpAccountantRdp(
      graft.operators.Privacy.dpAccountantRdpLedgerFromClasses(
        cur.select(col("nation"), col("segment"))),
      epsBudget, deltaTarget)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("nation"), col("segment"))
  }
}
