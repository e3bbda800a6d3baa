package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session
import graft.functions.PortableHash
import graft.operators.Preference
import graft.schema.Schemas
import graft.sources.{Staging, Tables}

/** Continuous Bradley–Terry — the preference family's streaming face
  * (the [[SemDedupIngest]] ingest convention): documents arrive as a
  * replayed file stream, every micro-batch generates its comparisons —
  * against the at-rest document store via a block-pruned probe plus the
  * in-batch pair join — and appends its WIN-MATRIX INCREMENTS. The
  * matrix is additive over pairs (each comparison contributes one
  * integer match and at most one win), so accumulated increments sum to
  * the whole-corpus [[Preference.winMatrix]] exactly, whatever the
  * batch split — asserted in-plan (`parity_ok`) as exact Long equality.
  *
  * Every unordered cross-language pair inside a (source, block) cell is
  * examined exactly once — when its LATER document arrives: earlier-
  * batch partners via the pinned-snapshot probe, same-batch partners
  * via the in-batch `lang <` join — the [[SemDedupIngest]] pairing
  * discipline applied to preference comparisons.
  *
  * Streaming state is the increment table: ≤ |Items|²/2 integer rows
  * PER BATCH (model-sized however many documents flow); the document
  * store is data-sized but AT REST, partitioned by comparison block so
  * a batch's probe lists only its own block directories. The readout
  * fits the MM scores from the summed matrix — identical arithmetic to
  * the batch operator, so the stream's scores hash-match the SAME
  * unrolled DuckDB oracle with `true AS parity_ok` appended: the
  * streaming form keeps full hash-exactness, no floor weakening. */
object PreferenceIngest {

  /** Replay the documents table as `nBatches` doc_id-striped parquet
    * files (memoized per (data dir, nBatches)); shared with
    * [[MixtureStream]]. */
  private[streaming] def stagedDocs(spark: SparkSession, dir: String, nBatches: Int): java.io.File =
    Staging.dir(s"docs-preference-$nBatches", dir) { d =>
      val docs = Tables.documents(spark, dir)
      (0 until nBatches).foreach { i =>
        val stage = new java.io.File(d, s"__stage$i")
        docs.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === i)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(d, f"batch-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(1700000000000L + i * 600000L)
        Staging.rmTree(stage)
      }
    }

  private def listParquet(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    if (dir.exists()) walk(dir) else Nil
  }

  private[graft] def blockFiles(
      storeDir: java.io.File, blocks: Seq[Long]): Seq[java.io.File] =
    blocks.flatMap(b => listParquet(new java.io.File(storeDir, s"blk=$b")))

  private def snapshotRead(
      spark: SparkSession, dir: java.io.File,
      schema: StructType, files: Seq[java.io.File]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.option("basePath", dir.toString).schema(schema)
        .parquet(files.map(_.toString): _*)

  private[streaming] val StoreSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
    StructField("blk", LongType)))

  private val IncSchema = StructType(Seq(
    StructField("i", StringType), StructField("j", StringType),
    StructField("n", LongType), StructField("w", LongType)))

  /** One trigger's win-matrix increments: in-batch pairs via the
    * `lang <` self-join, cross-batch pairs via the block-pruned probe
    * (orientation normalized so `i` is the lex-smaller language on both
    * legs — the whole-corpus matrix spelling). */
  private def batchIncrements(
      s: SparkSession, batch: DataFrame, storeDir: java.io.File): (DataFrame, DataFrame) = {
    val asg = batch
      .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
        col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        pmod(PortableHash.keyHash(col("doc_id")),
          lit(Preference.Blocks.toLong)).as("blk"))
      // eager: materialized HERE, before the two concurrent consumers in
      // foreachBatch spawn — neither future races the checkpoint write
      .localCheckpoint(true)
    // the batch's block set: bounded (≤ Blocks ids) — plans the probe
    val blocks = asg.select(col("blk")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val store = snapshotRead(s, storeDir, StoreSchema,
      blockFiles(storeDir, blocks))
    def winExpr(ca: org.apache.spark.sql.Column, cb: org.apache.spark.sql.Column) =
      sum(when(ca > cb, 1L).otherwise(0L)).as("w")
    // in-batch: each same-batch pair once, via lang ordering
    val aB = asg.select(col("source"), col("blk"), col("lang").as("i"), col("n_chars").as("ca"))
    val bB = asg.select(col("source").as("b_source"), col("blk").as("b_blk"),
      col("lang").as("j"), col("n_chars").as("cb"))
    val inBatch = aB.join(bB,
      col("source") === col("b_source") && col("blk") === col("b_blk") &&
        col("i") < col("j") && col("ca") =!= col("cb"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), winExpr(col("ca"), col("cb")))
    // cross-batch: batch × at-rest store, both orientations normalized
    val cross = asg.select(col("source"), col("blk"),
        col("lang").as("bl"), col("n_chars").as("bc"))
      .join(store.select(col("source").as("s_source"), col("blk").as("s_blk"),
        col("lang").as("sl"), col("n_chars").as("sc")),
        col("source") === col("s_source") && col("blk") === col("s_blk") &&
          col("bl") =!= col("sl") && col("bc") =!= col("sc"))
      .select(
        least(col("bl"), col("sl")).as("i"),
        greatest(col("bl"), col("sl")).as("j"),
        // n_chars of the lex-smaller-language doc first
        when(col("bl") < col("sl"), col("bc")).otherwise(col("sc")).as("ca"),
        when(col("bl") < col("sl"), col("sc")).otherwise(col("bc")).as("cb"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), winExpr(col("ca"), col("cb")))
    (asg, inBatch.unionByName(cross))
  }

  private val DpoStoreSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("uq", IntegerType),
    StructField("blk", LongType)))

  private val DpoPairSchema = StructType(Seq(
    StructField("lang", StringType), StructField("source", StringType),
    StructField("chosen_id", LongType), StructField("rejected_id", LongType),
    StructField("chosen_uq", IntegerType), StructField("rejected_uq", IntegerType),
    StructField("gap", IntegerType)))

  /** CONTINUOUS DPO pair mining — the preference family's last
    * batch-only face, streamed with the [[runStreamBradleyTerry]]
    * block-pruned probe discipline: documents arrive as a replayed file
    * stream; each micro-batch mines its (chosen, rejected) candidate
    * pairs — against the at-rest store via the block-pruned probe for
    * cross-batch partners, via the in-batch `a_id < b_id` join for
    * same-batch partners — and appends them. Every unordered
    * within-cell pair with a different signal is examined exactly once,
    * when its LATER document arrives, so the accumulated candidate set
    * equals [[Preference.dpoPairs]] exactly, whatever the batch split
    * (asserted in-plan with multiplicity — `parity_ok`).
    *
    * The CAP is applied at readout over the accumulated candidates (the
    * [[SemDedupIngest]] keeper-at-readout convention — which also makes
    * the cap RETROACTIVE for free: a late-arriving high-gap partner
    * evicts a weaker pair from its chosen's top-m exactly as the batch
    * miner would), so the output table is [[Preference.dpoPairsCapped]]
    * bit-for-bit and hash-matches the same generated DuckDB window
    * replay. */
  def runStreamDpoPairs(
      spark: SparkSession, dir: String, nBatches: Int = 3,
      assertParity: Boolean = true): DataFrame = {
    import graft.functions.TopKBy.topKBy
    val staged = stagedDocs(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-dpoingest").toFile
    val storeDir = new java.io.File(out, "store")
    val pairDir = new java.io.File(out, "pairs")
    try {
      Session.withConf(spark, StreamConf.MonitorWidth) {
        val q = spark.readStream.schema(Schemas.documents)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val s = batch.sparkSession
            // the SAME signal spelling as the batch miner: unique-token
            // count, cell = (source, keyHash(doc_id) % Blocks, lang)
            val asg = batch
              .select(col("doc_id"), col("lang"), col("source"),
                size(array_distinct(split(col("text"), " "))).as("uq"),
                pmod(PortableHash.keyHash(col("doc_id")),
                  lit(Preference.Blocks.toLong)).as("blk"))
              .filter(col("doc_id").isNotNull && col("lang").isNotNull &&
                col("source").isNotNull && col("uq").isNotNull)
              // eager: materialized before the two concurrent consumers
              .localCheckpoint(true)
            val blocks = asg.select(col("blk")).distinct()
              .collect().map(_.getLong(0)).toSeq
            val store = snapshotRead(s, storeDir, DpoStoreSchema,
              blockFiles(storeDir, blocks))
            def orient(aId: org.apache.spark.sql.Column, aUq: org.apache.spark.sql.Column,
                bId: org.apache.spark.sql.Column, bUq: org.apache.spark.sql.Column) = Seq(
              when(aUq > bUq, aId).otherwise(bId).as("chosen_id"),
              when(aUq > bUq, bId).otherwise(aId).as("rejected_id"),
              greatest(aUq, bUq).as("chosen_uq"),
              least(aUq, bUq).as("rejected_uq"),
              (greatest(aUq, bUq) - least(aUq, bUq)).as("gap"))
            val aB = asg.select(col("source"), col("blk"), col("lang"),
              col("doc_id").as("a_id"), col("uq").as("a_uq"))
            val bB = asg.select(col("source").as("b_source"), col("blk").as("b_blk"),
              col("lang").as("b_lang"), col("doc_id").as("b_id"), col("uq").as("b_uq"))
            // in-batch: each same-batch pair once via the id ordering
            val inBatch = aB.join(bB,
              col("source") === col("b_source") && col("blk") === col("b_blk") &&
                col("lang") === col("b_lang") && col("a_id") < col("b_id") &&
                col("a_uq") =!= col("b_uq"))
              .select(col("lang") +: col("source") +:
                orient(col("a_id"), col("a_uq"), col("b_id"), col("b_uq")): _*)
            // cross-batch: batch × pinned at-rest store — each pair once,
            // at its later member's arrival
            val cross = aB.join(
              store.select(col("source").as("b_source"), col("blk").as("b_blk"),
                col("lang").as("b_lang"), col("doc_id").as("b_id"),
                col("uq").as("b_uq")),
              col("source") === col("b_source") && col("blk") === col("b_blk") &&
                col("lang") === col("b_lang") && col("a_uq") =!= col("b_uq"))
              .select(col("lang") +: col("source") +:
                orient(col("a_id"), col("a_uq"), col("b_id"), col("b_uq")): _*)
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val pairsF = Future(inBatch.unionByName(cross)
              .write.mode("append").parquet(pairDir.toString))
            val storeF = Future(asg.coalesce(1)
              .write.partitionBy("blk").mode("append").parquet(storeDir.toString))
            Await.result(pairsF, Duration.Inf)
            Await.result(storeF, Duration.Inf)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }

      val pairsAll = snapshotRead(spark, pairDir, DpoPairSchema, listParquet(pairDir))
        .localCheckpoint(false) // capped readout + parity both consume it
      val parity =
        if (assertParity) {
          // multiplicity included: a replayed batch value-matches but
          // fails mult = 1
          val keys = Seq("lang", "source", "chosen_id", "rejected_id",
            "chosen_uq", "rejected_uq", "gap")
          val streamed = pairsAll.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("mult")).withColumn("in_s", lit(1L))
          val full = Preference.dpoPairs(Tables.documents(spark, dir))
            .withColumn("in_f", lit(1L))
          streamed.join(full, keys, "full")
            .agg((coalesce(sum(when(col("in_s").isNull || col("in_f").isNull
              || col("mult") =!= 1L, 1L)), lit(0L)) === 0L).as("parity_ok"))
        } else spark.range(1).select(lit(true).as("parity_ok"))
      // capped readout: the SAME margin + bounded-heap chain as the
      // batch dpoPairsCapped — retroactive eviction for free
      val capped = pairsAll
        .filter(col("gap") >= Preference.DpoMinMargin)
        .groupBy(col("lang"), col("source"), col("chosen_id"), col("chosen_uq"))
        .agg(topKBy(col("gap").cast("double"), col("rejected_id"),
          Preference.DpoCapM).as("tk"))
        .select(col("lang"), col("source"), col("chosen_id"), col("chosen_uq"),
          posexplode(col("tk")))
        .select(col("lang"), col("source"), col("chosen_id"),
          col("col.id").as("rejected_id"), col("chosen_uq"),
          (col("chosen_uq") - col("col.score").cast("int")).as("rejected_uq"),
          col("col.score").cast("int").as("gap"),
          (col("pos") + 1).cast("int").as("pair_rank"))
      val bound = capped.agg(
        (max(col("pair_rank")) <= Preference.DpoCapM).as("bound_ok"))
      capped
        .crossJoin(broadcast(parity)) // 1-row booleans, house pattern
        .crossJoin(broadcast(bound))
        .orderBy(col("chosen_id"), col("pair_rank"))
        // eager: materialized off the scratch files BEFORE the finally
        // below deletes them — the caller gets block-manager-backed rows
        .localCheckpoint(true)
    } finally Staging.rmTree(out)
  }

  /** Run the ingest to completion: the [[Preference.bradleyTerry]] table
    * plus `parity_ok` (streamed matrix ≡ whole-corpus matrix, exact
    * integers). `assertParity = false` times the ingest alone. */
  def runStreamBradleyTerry(
      spark: SparkSession, dir: String, nBatches: Int = 3,
      assertParity: Boolean = true): DataFrame = {
    val staged = stagedDocs(spark, dir, nBatches)
    val out = java.nio.file.Files.createTempDirectory("graft-btingest").toFile
    val storeDir = new java.io.File(out, "store")
    val incDir = new java.io.File(out, "inc")
    try {
    Session.withConf(spark, StreamConf.MonitorWidth) {
      val q = spark.readStream.schema(Schemas.documents)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          val (asg, incs) = batchIncrements(s, batch, storeDir)
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          // increments and store append run concurrently: the probe read
          // only the pinned pre-batch files, so the append can't race it
          val incF = Future(incs.write.mode("append").parquet(incDir.toString))
          val storeF = Future(asg.coalesce(1)
            .write.partitionBy("blk").mode("append").parquet(storeDir.toString))
          Await.result(incF, Duration.Inf)
          Await.result(storeF, Duration.Inf)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // readout: sum the increments (≤ nBatches·|Items|²/2 integer rows —
    // model-sized), fit with the SAME unrolled MM arithmetic
    val summed = snapshotRead(spark, incDir, IncSchema, listParquet(incDir))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("n")).as("n"), sum(col("w")).as("w"))
      .collect()
    val nS = summed.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wS = summed.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    val parityOk = !assertParity || {
      val full = Preference.winMatrix(Tables.documents(spark, dir), byRegime = false)
        .collect() // model-sized: ≤ |Items|²/2 integer rows
      val nF = full.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val wF = full.map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
      nS == nF && wS == wF
    }
    Preference.scoresTable(spark, nS, wS)
      .withColumn("parity_ok", lit(parityOk))
      .orderBy(col("item"))
    // scratch removed on EVERY exit — a failed stream run must not leak
    // temp dirs across runs
    } finally Staging.rmTree(out)
  }
}
