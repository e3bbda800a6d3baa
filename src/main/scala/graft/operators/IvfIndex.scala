package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions._

/** IVF (inverted-file) approximate nearest neighbor search — the classic
  * coarse-quantizer design: k-means partitions the corpus into `nLists`
  * cells; a query only scores vectors in its `nProbe` closest cells.
  *
  * Scale shape (the FAISS recipe): the quantizer is trained on a BOUNDED
  * sample — k centroids need O(k) examples each, so training cost is
  * independent of corpus size — while the corpus-scale work is exactly one
  * distributed assignment pass, a codegen projection against the broadcast
  * centroid literals (k × dim doubles; tiny). No iterative distributed jobs:
  * Lloyd runs on the driver over ≤ `trainCap` vectors. At 100 TB the
  * assigned corpus would be *written partitioned by cell_id*, so a probe
  * reads only nProbe/nLists of the data (partition pruning does the
  * fan-out cut).
  */
object IvfIndex {

  final case class Index(assigned: DataFrame, centroids: Array[(Int, Array[Double])])

  /** Auto-nLists parameters: with occupancy 125 the rule picks
    * nLists = 4 at n = 500 (sf0.001 / sf0.01) and nLists = 16 at
    * n = 2000 (sf0.1) — the selector provably moves with the corpus on
    * the shipped data (the [[Clustering.selectK]] convention). */
  val AutoNListsCandidates: Seq[Int] = Seq(4, 8, 16, 32, 64, 128)
  val AutoNListsOccupancy: Long = 125L

  /** Target-occupancy list-count rule — the FAISS capacity convention
    * made executable: the smallest candidate `nLists` keeping expected
    * cell occupancy n/nLists at or under `occupancy`. A round-13 10×
    * probe measured the FIXED-nLists regime at 11.22× search cost for 10×
    * data (cells fatten linearly with the corpus); growing the list
    * count with the corpus keeps cells bounded, so probe cost scales
    * with data/nLists ≈ constant per cell and the search exponent stays
    * near the SemDeDup family's ~2×, not 11×. Exact integer compare —
    * the DuckDB oracle replays it via [[autoNListsCaseSql]]. */
  def autoNLists(n: Long, candidates: Seq[Int] = AutoNListsCandidates,
      occupancy: Long = AutoNListsOccupancy): Int = {
    require(candidates.nonEmpty && candidates == candidates.sorted,
      s"autoNLists: candidates must be non-empty ascending, got $candidates")
    candidates.find(nl => n <= occupancy * nl).getOrElse(candidates.max)
  }

  /** The [[autoNLists]] rule as a SQL CASE over `countExpr` — generated
    * from the SAME constants (the selectK-oracle pattern), so operator
    * and oracle cannot desynchronize. */
  def autoNListsCaseSql(countExpr: String,
      candidates: Seq[Int] = AutoNListsCandidates,
      occupancy: Long = AutoNListsOccupancy): String = {
    val arms = candidates.init.map(nl =>
      s"WHEN $countExpr <= ${occupancy * nl} THEN $nl").mkString(" ")
    s"(CASE $arms ELSE ${candidates.max} END)"
  }

  /** Auto-nProbe — the SEARCH-side companion of [[autoNLists]]: probe
    * `min(nLists, 2·⌈√nLists⌉)` cells. With the build rule pinning cell
    * occupancy near [[AutoNListsOccupancy]], per-query probe cost is
    * occupancy·nProbe ∝ √n — sublinear in the corpus. The two wrong
    * regimes this rule sits between: a probe count PROPORTIONAL to
    * nLists is a disguised linear scan (cost ∝ n), and a PINNED count
    * lets recall decay as the neighbor mass spreads over ever more
    * cells (and at small tiers it silently probes EVERYTHING, making
    * recall floors vacuous as capacity evidence). On the candidate
    * tiers: 4→4 (exhaustive at the tiny tier — unavoidable), 8→6,
    * 16→8 (the family's long-measured operating point: recall
    * 0.81–0.84 on uniform-random data), 32→12, 64→16, 128→24. IEEE
    * sqrt is correctly rounded, so the rule is deterministic and the
    * DuckDB oracle replays the composed count→nLists→nProbe rule via
    * [[autoNProbeCaseSql]]. */
  def autoNProbe(nLists: Int): Int = {
    require(nLists >= 1, s"autoNProbe: nLists >= 1, got $nLists")
    math.min(nLists, 2 * math.ceil(math.sqrt(nLists.toDouble)).toInt)
  }

  /** The composed [[autoNLists]] ∘ [[autoNProbe]] rule as a SQL CASE
    * over `countExpr` — generated from the SAME constants, so operator
    * and oracle cannot desynchronize. */
  def autoNProbeCaseSql(countExpr: String,
      candidates: Seq[Int] = AutoNListsCandidates,
      occupancy: Long = AutoNListsOccupancy): String = {
    val arms = candidates.init.map(nl =>
      s"WHEN $countExpr <= ${occupancy * nl} THEN ${autoNProbe(nl)}").mkString(" ")
    s"(CASE $arms ELSE ${autoNProbe(candidates.max)} END)"
  }

  /** [[build]] with the list count picked by the [[autoNLists]]
    * capacity rule from the corpus count — the index face a
    * continuously-growing deployment calls, so re-training at a larger
    * corpus automatically re-tiers the cell structure instead of letting
    * fixed cells fatten linearly. One count (reused by build's sampling
    * threshold), then the standard bounded-sample train + one
    * assignment pass. */
  def buildAuto(
      spark: SparkSession,
      embeddings: DataFrame,
      seed: Long = 42L,
      trainCap: Int = 16384,
      maxIter: Int = 10,
      tol: Double = 1e-4): Index = {
    val n = embeddings.select(col("vec_id"), col("embedding")).count()
    build(spark, embeddings, autoNLists(n), seed, trainCap, maxIter, tol,
      knownTotal = Some(n))
  }

  /** Build: train seeded k-means (k-means++ init, Lloyd refinement) on a
    * deterministic hash-sample of at most `trainCap` vectors, then assign
    * every vector to its nearest cell in one distributed pass.
    * argmin over cells uses |x−c|² = |x|² − 2x·c + |c|²: the |x|² term is
    * constant per row, so each cell costs one native dot product and the
    * argmin is an `array_min` over (distance, cell) structs — all inside
    * whole-stage codegen. */
  def build(
      spark: SparkSession,
      embeddings: DataFrame,
      nLists: Int,
      seed: Long = 42L,
      trainCap: Int = 16384,
      maxIter: Int = 10,
      tol: Double = 1e-4,
      knownTotal: Option[Long] = None): Index = {
    val base = embeddings.select(col("vec_id"), col("embedding"))

    // Deterministic bounded sample: hash-threshold filter (no global sort,
    // no limit — the picked SET is independent of partitioning), then a
    // driver-side collect of ≤ ~trainCap rows.
    val total = knownTotal.getOrElse(base.count())
    val picked =
      if (total <= trainCap) base
      else {
        val m = 1000003L
        // Threshold keeps E[|sample|] ≈ cap: the pad is 5% OF THE CAP (to
        // absorb hash variance), not a fraction of the hash range — a
        // range-proportional pad would collect O(total) extra rows to the
        // driver on a large corpus.
        val base_ = (trainCap.toLong * m) / total
        val thresh = math.max(1L, base_ + math.max(1L, base_ / 20))
        base.filter(pmod(xxhash64(col("vec_id")), lit(m)) < lit(thresh))
      }
    val sample: Array[Array[Double]] = picked
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)

    val cents = lloyd(sample, nLists, seed, maxIter, tol)

    // one codegen pass: nearest centroid per vector, ties to the lowest cell
    Index(assignCells(base, cents), cents.zipWithIndex.map { case (c, i) => (i, c) })
  }

  /** One distributed assignment pass: nearest centroid per vector (ties to
    * the lowest cell), centroids inlined as broadcast literals. Shared by
    * the bootstrap [[build]] and the incremental [[addToIndex]]. */
  private[operators] def assignCells(
      vectors: DataFrame, cents: Array[Array[Double]]): DataFrame =
    vectors.select(
      col("vec_id"), col("embedding"),
      array_min(cellDistances(col("embedding"), cents)).getField("cell").as("cell_id"))

  /** Incremental add — the FAISS `add` path: assign a new batch to an
    * EXISTING index's cells without retraining or touching the corpus at
    * rest. The centroids are the persisted model (tiny; inlined as
    * broadcast literals); per-batch cost is one codegen argmin pass over
    * the batch, and at rest the new rows APPEND into their cell
    * partitions (the same partition-pruned layout the probe scan reads).
    * Assignment is per-vector, so add-then-search ≡ assign-the-full-
    * corpus-under-the-same-centroids-then-search — property-tested in
    * ScaleSpec and asserted in-plan by `q_ivf_incremental`. */
  /** The rebuild twin for parity checks: one-pass assignment of a whole
    * corpus under an EXISTING index's centroids (what a from-scratch
    * rebuild with the same model would store). `q_ivf_incremental`
    * asserts [[addToIndex]]'s rows equal it exactly. */
  def rebuildAssigned(vectors: DataFrame, index: Index): DataFrame =
    assignCells(vectors.select(col("vec_id"), col("embedding")),
      index.centroids.map(_._2))

  def addToIndex(index: Index, newVectors: DataFrame): Index =
    Index(
      index.assigned.unionByName(
        assignCells(newVectors.select(col("vec_id"), col("embedding")),
          index.centroids.map(_._2))),
      index.centroids)

  /** Cell REBALANCING — the maintenance job a continuously-growing IVF
    * index needs: incremental adds respect the frozen centroids, so data
    * drift piles new vectors into a few cells and probe cost creeps toward
    * a scan of those cells. Oversized cells (> `factor` × the mean) are
    * SPLIT in place: a 2-means model trains on a bounded deterministic
    * sample of the cell's OWN members (seeded per cell), the cell's rows —
    * and only those — reassign between the two children in one codegen
    * pass (partition-pruned at rest), and the centroid table swaps one
    * entry for two. O(oversized rows) work where the periodic-full-retrain
    * answer is O(corpus); child ids extend the id space, which [[search]]
    * joins by VALUE, so probing is unaffected. Deterministic given
    * (data, seed); every vector stays present exactly once, in the nearer
    * of its cell's two children — both asserted in-plan by
    * `q_ivf_rebalance`. */
  final case class Split(parent: Int, child: Int, centA: Array[Double], centB: Array[Double])

  def rebalanceCells(
      spark: SparkSession,
      index: Index,
      factor: Double = 1.5,
      seed: Long = 42L,
      trainCap: Int = 4096,
      maxIter: Int = 10,
      tol: Double = 1e-4): Index =
    rebalanceCellsWithPlan(spark, index, factor, seed, trainCap, maxIter, tol)._1

  /** [[rebalanceCells]] plus the split plan (parent cell, new child id, the
    * two child centroids) — model-sized driver data the verification
    * harness replays the assignment against. */
  def rebalanceCellsWithPlan(
      spark: SparkSession,
      index: Index,
      factor: Double = 1.5,
      seed: Long = 42L,
      trainCap: Int = 4096,
      maxIter: Int = 10,
      tol: Double = 1e-4): (Index, Seq[Split]) = {
    require(factor > 1.0, s"rebalanceCells: factor must exceed 1, got $factor")
    // cell sizes: an nLists-bounded driver list, same class as the model
    val sizes = index.assigned.groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val mean = sizes.values.sum.toDouble / math.max(1, sizes.size)
    val big = sizes.filter { case (_, n) => n > factor * mean }.keys.toSeq.sorted
    if (big.isEmpty) (index, Nil)
    else {
      var nextId = index.centroids.map(_._1).max + 1
      val newCents = scala.collection.mutable.ArrayBuffer(
        index.centroids.filterNot { case (id, _) => big.contains(id) }: _*)
      val plans = big.map { cid =>
        val members = index.assigned.filter(col("cell_id") === cid)
        // bounded deterministic sample of the cell's members (build's
        // hash-threshold contract, scoped to one cell)
        val total = sizes(cid)
        val picked =
          if (total <= trainCap) members
          else {
            val m = 1000003L
            val base_ = (trainCap.toLong * m) / total
            val thresh = math.max(1L, base_ + math.max(1L, base_ / 20))
            members.filter(pmod(xxhash64(col("vec_id")), lit(m)) < lit(thresh))
          }
        val sample = picked.select(col("embedding")).collect()
          .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
        val kids = lloyd(sample, 2, seed + cid, maxIter, tol)
        val idB = nextId
        nextId += 1
        newCents += ((cid, kids(0)))
        newCents += ((idB, kids(1)))
        (cid, idB, kids)
      }
      val untouched = index.assigned.filter(!col("cell_id").isin(big: _*))
      val reassigned = plans.map { case (cid, idB, kids) =>
        index.assigned.filter(col("cell_id") === cid)
          .select(col("vec_id"), col("embedding"),
            when(nearerChild(col("embedding"), kids(0), kids(1)) === 0, lit(cid))
              .otherwise(lit(idB)).as("cell_id"))
      }.reduce(_ unionByName _)
      (Index(untouched.unionByName(reassigned), newCents.sortBy(_._1).toArray),
        plans.map { case (cid, idB, kids) => Split(cid, idB, kids(0), kids(1)) })
    }
  }

  /** 0 if `embedding` is nearer `centA` than `centB` (ties to A), else 1 —
    * the split-assignment rule, public so the contract query can replay it
    * against the rebalanced index. */
  def nearerChild(embedding: Column, centA: Array[Double], centB: Array[Double]): Column =
    array_min(cellDistances(embedding, Array(centA, centB))).getField("cell")

  /** Search: route each query to its `nProbe` nearest centroids, score only
    * vectors in those cells, take cosine top-k. */
  def search(spark: SparkSession, index: Index, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    // centroid table is tiny → literal/broadcast
    val cents = index.centroids.toSeq
      .map { case (id, arr) => (id, arr.map(_.toFloat)) }
      .toDF("cell_id", "centroid")

    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      l2Norm(col("embedding")).as("q_nrm"))

    // rank centroids per query by distance proxy (cosine), keep nProbe
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cent_sim", dotProduct(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell_id"))

    val corpus = index.assigned.select(
      col("cell_id"), col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      l2Norm(col("embedding")).as("c_nrm"))

    // final top-k via the bounded-heap aggregate (ships ≤ k rows per
    // (query, task) instead of window-sorting every scored candidate).
    // The probe side is |Q|·nProbe rows (bounded); broadcast it explicitly
    // so the corpus side streams — at rest the cell_id equi-join then
    // reduces to a partition-pruned scan, never a corpus-side hash build.
    Similarity.rankTopK(
      broadcast(probes)
        .join(corpus, Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"), col("neighbor_id"),
          round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
            .as("cosine")),
      k)
  }

  /** IVF-probed hard-negative mining for UNBOUNDED query sets — the scale
    * path of [[Similarity.hardNegatives]], whose broadcast-brute-force
    * shape is right only for a bounded |Q| (its own doc says so): for
    * EVERY query vector, the top-k most-similar corpus vectors with a
    * DIFFERENT label, searched only inside the query's `nProbe` nearest
    * IVF cells. Probes and cell members co-locate on a plain `cell_id`
    * equi-join — both sides shuffle on the cell key, NEITHER side is
    * broadcast (with |Q| ≈ |corpus|, as in self-mining for contrastive
    * training, there is nothing small to broadcast) — the label-mismatch
    * predicate prunes pairs before any scoring, and the bounded-heap
    * top-k ships ≤ k rows per (query, task). Cost is
    * Σ_cell |probes(cell)|·|members(cell)| ≈ (nProbe/nLists)·|Q|·|C| —
    * the IVF pruning ratio applied to mining — and skew follows cell
    * balance, which [[rebalanceCells]] already manages. Approximate
    * exactly as IVF search is (negatives outside probed cells are
    * missed); the contract query pins recall against the brute-force
    * twin. Labels arrive as a slim `(vec_id, label)` relation joined to
    * the at-rest assignment on the id key. */
  def hardNegativesIvf(
      index: Index, labels: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = index.centroids.toSeq
      .map { case (id, arr) => (id, arr.map(_.toFloat)) }
      .toDF("cell_id", "centroid")
    val q = queries.select(
      col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    // nProbe nearest cells per query: a per-query window over ≤ |cells|
    // rows — bounded by the centroid count however large |Q| grows
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cent_sim", dotProduct(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("q_label"), col("q_emb"), col("q_nrm"),
        col("cell_id"))
    val corpus = index.assigned
      .join(labels.select(col("vec_id"), col("label").as("c_label")), Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("neighbor_id"), col("c_label"),
        col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    // SHUFFLE_HASH pinned (a `Probe scale` finding): with unbounded |Q|
    // the probe side carries q_emb per row — a small-side ESTIMATE must
    // never broadcast it; the build side is the cell-bounded corpus
    val mined = Similarity.rankTopK(
      probes.join(corpus.hint("shuffle_hash"), Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id") &&
          col("q_label") =!= col("c_label"))
        .select(
          col("query_id"), col("neighbor_id"),
          round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
            .as("cosine")),
      k)
    // neighbor labels rejoin on the BOUNDED |Q|·k result, as in the
    // brute-force variant
    mined
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** kNN label-noise audit riding the IVF probed buckets — the
    * [[Similarity.labelNoisePerQuery]] disagreement fold at the
    * unbounded-|Q| scale shape (the [[hardNegativesIvf]] recipe): every
    * labeled vector audits itself against its nProbe nearest cells,
    * probes ⋈ cells on a plain cell_id equi-join — no corpus or
    * query-set broadcast anywhere. Approximate by design: a probe miss
    * can swap a neighbor and flip a borderline majority vote, so the
    * contract query compares per-query suspect FLAGS against the exact
    * twin and asserts agreement ≥ an honest measured floor. Returns
    * per-query (query_id, q_label, kk, mis, suspect). */
  def labelNoiseIvf(
      index: Index, labels: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = index.centroids.toSeq
      .map { case (id, arr) => (id, arr.map(_.toFloat)) }
      .toDF("cell_id", "centroid")
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cent_sim", dotProduct(col("q_emb"), col("centroid")))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell_id"))
    val corpus = index.assigned
      .select(col("cell_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    // SHUFFLE_HASH pinned: unbounded |Q| self-audit, same shape as
    // [[hardNegativesIvf]] — the fat probe side must never broadcast
    val knn = Similarity.rankTopK(
      probes.join(corpus.hint("shuffle_hash"), Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"), col("neighbor_id"),
          round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
            .as("cosine")),
      k)
    // labels rejoin on the BOUNDED |Q|·k result, never a corpus broadcast
    knn
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(count(lit(1)).as("kk"),
        sum(when(col("n_label") =!= col("q_label"), 1L).otherwise(0L)).as("mis"))
      .withColumn("suspect", col("mis") * 2L > col("kk"))
  }

  /** `(distance-proxy, cell)` structs per centroid: |x−c|² up to the
    * constant |x|² term — one native dot product per cell, all inside
    * whole-stage codegen, centroids inlined as broadcast literals. */
  private[operators] def cellDistances(embedding: Column, cents: Array[Array[Double]]): Column =
    array(cents.toSeq.zipWithIndex.map { case (c, i) =>
      val cNormSq = c.map(v => v * v).sum
      struct(
        (lit(cNormSq) - lit(2.0) * dotProduct(embedding, typedlit(c.map(_.toFloat)))).as("d"),
        lit(i).as("cell"))
    }: _*)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * pairs found INSIDE k-means cells only — cluster the corpus with the
    * same coarse quantizer IVF uses, then score pairwise cosine only
    * within each cell and keep pairs ≥ `tau`.
    *
    * This is the published web-scale recipe precisely because the
    * quadratic term is bounded per cell (|cell|² ≪ |corpus|²): with
    * `nLists` proportional to corpus size the expected cell is constant-
    * sized and total work is linear. The cost is recall — a pair split
    * across two cells is never scored — which the `q_semdedup` contract
    * query measures against an in-plan exact twin.
    *
    * `assignTo` > 1 is the index-side analog of query multi-probe: each
    * vector joins its `assignTo` nearest cells, so a pair straddling a
    * cell boundary is still co-located whenever the two neighbor-cell
    * sets overlap. Work scales by ≤ assignTo² while cells stay small —
    * the right knob when the corpus has weak cluster structure (the
    * boundary-loss worst case). Candidate scoring is one cell-keyed
    * self-join; norms are computed once per vector; pair dedup moves
    * only (id, id, score) rows. */
  def semDedupPairs(
      spark: SparkSession,
      embeddings: DataFrame,
      nLists: Int = 16,
      tau: Double = 0.4,
      assignTo: Int = 2,
      seed: Long = 42L): DataFrame = {
    require(assignTo >= 1 && assignTo <= nLists,
      s"semDedupPairs: assignTo must be in [1, nLists], got $assignTo")
    val idx = build(spark, embeddings, nLists, seed)
    val cents = idx.centroids.map(_._2)
    val cells = embeddings
      .select(col("vec_id"), col("embedding"),
        graft.functions.l2Norm(col("embedding")).as("nrm"),
        explode(transform(
          slice(array_sort(cellDistances(col("embedding"), cents)), 1, assignTo),
          s => s.getField("cell"))).as("cell_id"))
    // Within-cell scoring is NOT a self-join: with only `nLists` distinct
    // keys a sort-merge join buffers each cell and replays it per probe
    // row (~10× slower than the same pair count through a tight loop,
    // measured at sf0.1). Instead ONE hash shuffle groups each cell into
    // a bounded array (|cell| is constant by design — nLists grows with
    // the corpus) and the native generator scores i<j pairs lazily,
    // emitting only survivors. The raw-cosine generator cutoff is loose
    // by 1e-6; the exact rounded threshold below keeps borderline pairs
    // bit-identical with the non-bucketed twin.
    cells
      .groupBy(col("cell_id"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("members"))
      .select(graft.functions.PairGenerators
        .cosinePairs(col("members"), tau - 1e-6).as(Seq("vec_a", "vec_b", "cosine")))
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .filter(col("cosine") >= tau)
      .dropDuplicates("vec_a", "vec_b")
  }

  // ------------------------------------------------------------------ //
  // Driver-local quantizer training (bounded input, deterministic seed) //
  // ------------------------------------------------------------------ //

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** k-means++ seeding: each next seed drawn ∝ D²(x) to current seeds. */
  private def kppInit(xs: Array[Array[Double]], k: Int, rnd: scala.util.Random): Array[Array[Double]] = {
    val n = xs.length
    val cents = Array.ofDim[Array[Double]](k)
    cents(0) = xs(rnd.nextInt(n)).clone()
    val d2 = Array.fill(n)(Double.MaxValue)
    var c = 0
    while (c < k - 1) {
      var i = 0
      while (i < n) { val d = sqDist(xs(i), cents(c)); if (d < d2(i)) d2(i) = d; i += 1 }
      val sum = d2.sum
      var pick = 0
      if (sum > 0) {
        val r = rnd.nextDouble() * sum
        var acc = 0.0
        var j = 0
        while (j < n) {
          acc += d2(j)
          if (acc >= r) { pick = j; j = n } else j += 1
        }
      }
      c += 1
      cents(c) = xs(pick).clone()
    }
    cents
  }

  /** Lloyd iterations until centroids move < `tol` (squared L2) or
    * `maxIter`. Empty cells keep their previous centroid. */
  private[operators] def lloyd(
      xs: Array[Array[Double]], k: Int, seed: Long, maxIter: Int, tol: Double): Array[Array[Double]] = {
    require(xs.nonEmpty, "empty training sample")
    val kk = math.min(k, xs.length)
    val dim = xs.head.length
    val rnd = new scala.util.Random(seed)
    val cents = kppInit(xs, kk, rnd)
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val sums = Array.ofDim[Double](kk, dim)
      val cnt = new Array[Int](kk)
      var i = 0
      while (i < xs.length) {
        val x = xs(i)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val d = sqDist(x, cents(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += x(j); j += 1 }
        cnt(best) += 1
        i += 1
      }
      moved = 0.0
      var c = 0
      while (c < kk) {
        if (cnt(c) > 0) {
          val nc = new Array[Double](dim)
          var j = 0
          while (j < dim) { nc(j) = sums(c)(j) / cnt(c); j += 1 }
          moved = math.max(moved, sqDist(nc, cents(c)))
          cents(c) = nc
        }
        c += 1
      }
      iter += 1
    }
    cents
  }
}
