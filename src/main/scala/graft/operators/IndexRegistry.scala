package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Staging, Tables}

/** Per-JVM registry of AT-REST ANN/dedup index state for the bench path.
  *
  * A production vector-search or near-dup deployment builds its index
  * OFFLINE — coarse centroids and codebooks train once, the encoded corpus
  * sits cell-partitioned on object storage — and what runs per query (and
  * what a 100 TB capacity plan prices) is the SEARCH against that at-rest
  * state, or the per-batch ADD into it. The self-asserting contract forms
  * rebuild their index in-plan so the DuckDB gate can pin recall against
  * an in-plan exact twin at the verify SF; timing that rebuild per bench
  * pass would overstate the operator's steady-state cost the same way the
  * O(n²) twins did (see [[graft.contract.Query.benchPlan]]).
  *
  * So: each model trains at most once per JVM per data dir (deterministic —
  * fixed seeds, fixed corpus — so every pass sees the identical model, and
  * search results are identical to the contract form's), the encoded
  * corpus is staged as parquet exactly as it would rest in production
  * (cell-partitioned where the search prunes by cell), and the bench
  * overrides time search / add against the read-back state. Memoization
  * mirrors [[graft.sources.Staging]]'s replay-input contract: this is
  * INPUT state; consumers that mutate their index (the ingest streams)
  * copy the staged files into per-run scratch first.
  */
object IndexRegistry {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def get[T <: AnyRef](dir: String, tag: String)(build: => T): T =
    memo.computeIfAbsent((dir, tag), _ => build).asInstanceOf[T]

  /** The accepted-corpus predicate shared by every incremental entry:
    * vec_id / doc_id ≡ 0 (mod 5) rows are the "arriving" batch, the rest
    * the corpus the model trained on. */
  private def isNew(idCol: String) = col(idCol) % 5 === 0

  // ---------------------------------------------------------------- IVF

  /** Flat IVF index over the full corpus, assigned rows staged
    * cell-partitioned (the layout [[IvfIndex.search]]'s probe-set filter
    * prunes at rest). */
  def ivfFull(spark: SparkSession, dir: String): IvfIndex.Index =
    get(dir, "ivf-full") {
      stageIvf(spark, dir, "ivf-full", Tables.embeddings(spark, dir))
    }

  /** Flat IVF index trained and built on the accepted corpus only
    * (vec_id % 5 != 0) — the frozen model `q_ivf_incremental`'s add path
    * runs under. List count from the [[IvfIndex.autoNLists]] capacity
    * rule (the incremental family's convention — a growing deployment
    * re-tiers its cell structure at train time); the full-corpus
    * indexes above keep the contract entries' pinned nLists = 16. */
  def ivf80(spark: SparkSession, dir: String): IvfIndex.Index =
    get(dir, "ivf-80") {
      stageIvf(spark, dir, "ivf-80",
        Tables.embeddings(spark, dir).filter(!isNew("vec_id")), auto = true)
    }

  private def stageIvf(
      spark: SparkSession, dir: String, tag: String,
      corpus: DataFrame, auto: Boolean = false): IvfIndex.Index = {
    val built =
      if (auto) IvfIndex.buildAuto(spark, corpus)
      else IvfIndex.build(spark, corpus, nLists = 16)
    val d = Staging.dir(s"idx-$tag", dir) { f =>
      built.assigned.write.partitionBy("cell_id")
        .parquet(new java.io.File(f, "assigned").toString)
    }
    IvfIndex.Index(
      spark.read.parquet(new java.io.File(d, "assigned").toString),
      built.centroids)
  }

  // ----------------------------------------------------------------- PQ

  /** Flat-PQ codebook trained on the full corpus (m=16 × ksub=64 — the
    * contract entries' parameters). */
  def pqCodebook(spark: SparkSession, dir: String): Pq.Codebook =
    get(dir, "pq-cb") {
      Pq.train(spark, Tables.embeddings(spark, dir), dims = 64, m = 16, ksub = 64)
    }

  /** The full corpus PQ-encoded at rest: 16-byte codes + recon norms,
    * nothing else — the only bytes [[Pq.adcSearch]] reads. */
  def pqEncoded(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(spark, dir)
    val d = Staging.dir("idx-pq-enc", dir) { f =>
      Pq.encode(Tables.embeddings(spark, dir), cb)
        .write.parquet(new java.io.File(f, "encoded").toString)
    }
    spark.read.parquet(new java.io.File(d, "encoded").toString)
  }

  // -------------------------------------------------------------- IVFPQ

  /** IVF-PQ index over the full corpus, encoded rows staged
    * cell-partitioned (partition pruning asserted in ScaleSpec for this
    * exact at-rest shape). */
  def ivfPqFull(spark: SparkSession, dir: String): Pq.IvfPqIndex =
    get(dir, "ivfpq-full") {
      stageIvfPq(spark, dir, "ivfpq-full", Tables.embeddings(spark, dir))
    }

  /** IVF-PQ model trained on the accepted corpus only — the frozen model
    * under which `q_ivfpq_incremental`'s add path and the ANN ingest
    * stream encode arriving batches. */
  def ivfPq80(spark: SparkSession, dir: String): Pq.IvfPqIndex =
    get(dir, "ivfpq-80") {
      stageIvfPq(spark, dir, "ivfpq-80",
        Tables.embeddings(spark, dir).filter(!isNew("vec_id")), auto = true)
    }

  /** The staged parquet root of [[ivfPq80]]'s encoded corpus — the ingest
    * stream copies these files into its per-run mutable index dir. */
  def ivfPq80StagedDir(spark: SparkSession, dir: String): java.io.File = {
    ivfPq80(spark, dir) // ensure built + staged
    new java.io.File(Staging.dir("idx-ivfpq-80", dir)(_ => ()), "encoded")
  }

  private def stageIvfPq(
      spark: SparkSession, dir: String, tag: String,
      corpus: DataFrame, auto: Boolean = false): Pq.IvfPqIndex = {
    val n = if (auto) Some(corpus.select(col("vec_id")).count()) else None
    val nl = n.map(IvfIndex.autoNLists(_)).getOrElse(16)
    val built = Pq.buildIvfPq(spark, corpus, dims = 64, nLists = nl, m = 16,
      ksub = 64, knownTotal = n)
    val d = Staging.dir(s"idx-$tag", dir) { f =>
      built.encoded.write.partitionBy("cell_id")
        .parquet(new java.io.File(f, "encoded").toString)
    }
    Pq.IvfPqIndex(
      spark.read.parquet(new java.io.File(d, "encoded").toString),
      built.ivfCents, built.cb)
  }

  // ------------------------------------------------------------ MinHash

  /** The at-rest MinHash band index of the accepted corpus
    * (doc_id % 5 != 0): `(doc_id, band, bucket)` banding rows plus the
    * shingle sets the exact-Jaccard verify step joins back to — the two
    * tables [[Dedup.minHashIncrementalPairs]] probes, persisted exactly as
    * the ingest stream persists them. Returns (bands, shingles, the
    * layout's partition count from [[Dedup.autoBandBuckets]] — probes
    * must plan buckets with the SAME N the writer used). */
  def minhashAtRest(spark: SparkSession, dir: String): (DataFrame, DataFrame, Int) = {
    val d = Staging.dir("idx-minhash", dir) { f =>
      val oldSh = Dedup
        .shingleSets(Tables.documents(spark, dir).filter(!isNew("doc_id")), n = 3)
      oldSh.write.parquet(new java.io.File(f, "shingles").toString)
      // the capacity rule sizes the partition count from the accepted
      // corpus AT WRITE TIME (legacy 16 at the verify SFs) and the N is
      // RECORDED WITH THE LAYOUT — the probe-planning invariant ("use
      // the writer's N") must survive a persisted index and a changed
      // occupancy constant, not rely on re-deriving the same value
      val nPart = Dedup.autoBandBuckets(oldSh.count() * 16L)
      java.nio.file.Files.writeString(
        new java.io.File(f, "npart").toPath, nPart.toString)
      // partitioned by the band-hash bucket so a batch probe prunes at
      // rest; repartition on the key first so each bucket dir gets ONE
      // file instead of a per-task dynamic-partition fan-out
      Dedup.bandRows(oldSh).withColumn("pbkt", Dedup.bandPartition(nPart))
        .repartition(col("pbkt"))
        .write.partitionBy("pbkt").parquet(new java.io.File(f, "bands").toString)
    }
    // read the layout's own N back (no corpus rescan on memoized calls)
    val nPart = java.nio.file.Files
      .readString(new java.io.File(d, "npart").toPath).trim.toInt
    (spark.read.parquet(new java.io.File(d, "bands").toString),
      spark.read.parquet(new java.io.File(d, "shingles").toString), nPart)
  }
}
