package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.PortableHash

/** Distributed fixed-iteration Lloyd k-means over the embedding corpus,
  * plus the model-quality and curation consumers that ride its
  * assignment: the centroid-based silhouette audit, cluster↔label
  * agreement (mutual information), and cluster-balanced sampling — the
  * diversity-sampling move of SemDeDup-style pipelines (cluster first,
  * then budget per cluster so no dense mode dominates the training mix).
  *
  * Scale shape: the MODEL is k·d rounded doubles — driver/broadcast
  * sized, never data-sized. Each Lloyd iteration costs exactly one
  * shuffle-free codegen assignment projection (argmin over k inlined
  * centroid literals, the [[IvfIndex]] recipe) plus ONE distributed
  * aggregation for the centroid update (per-(cluster, dim) decimal sums
  * over `posexplode` — n·d rows map-side combined down to k·d per task,
  * the [[EmbeddingDrift]] moment recipe). Iteration count is FIXED (a
  * hyper-parameter, not data-dependent), so the whole build is
  * `iters + 1` linear passes at any corpus size. Seeding is the k
  * smallest portable-hash keys — a deterministic pseudo-random draw both
  * engines can replay with one TakeOrdered; [[IvfIndex]] keeps the
  * k-means++-on-a-bounded-sample variant when seeding quality matters
  * more than replayability.
  *
  * Exactness contract (what makes every consumer oracle-replayable in
  * DuckDB): distances are FULLY decimal-exact rationals (see
  * [[distArray]] — no double→decimal cast anywhere in the chain)
  * against centroids ROUNDED to 6dp at every update, so the argmin,
  * ties broken toward the lower cluster id, is bit-identical on both
  * engines; centroid updates are
  * exact decimal sums of the raw float components with ONE rounded
  * double division per (cluster, dim). Empty clusters carry their
  * previous centroid (spelled identically in the SQL replay). Lloyd 1982
  * (IEEE Trans. IT 28(2)); silhouette: Rousseeuw 1987 (the centroid
  * simplification — a and b against cluster CENTERS, so the audit costs
  * one projection, not O(n²) pair distances); reference capability
  * surface: analytics-style grouping/rollup only (etl-workflow has no
  * clustering — this is §7.4 extension surface).
  */
object Clustering {

  val DefaultK = 8
  val DefaultIters = 5
  val Dim = 64

  private val dec = DecimalType(38, 12)

  private def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Valid vectors only: non-null id, non-null elements, exact dim —
    * the [[EmbeddingDrift]] hygiene filter. */
  def cleanVectors(embeddings: DataFrame, dim: Int = Dim): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").as("v"))
      .filter(col("vec_id").isNotNull && col("v").isNotNull &&
        size(col("v")) === dim && !exists(col("v"), x => x.isNull))

  /** Per-cluster distance structs (d2 DECIMAL(35,24), cl INT) with the
    * centroids inlined as broadcast literals — a pure projection, no
    * shuffle, no row amplification.
    *
    * The distance algebra is FULLY decimal-exact past the one float
    * cast — no double-PRODUCT→decimal cast anywhere: a double product
    * cast at scale 12 can land on a rounding boundary where Spark
    * (shortest-repr HALF_UP) and the SQL engine disagree by one ulp —
    * observed on the k = 4 elbow chain (~10⁶ casts). Instead:
    * xq = x cast to DECIMAL(16,12) — Spark casts floats via their
    * DOUBLE widening, and the oracle must spell the SAME path
    * (`CAST(CAST(v AS DOUBLE) AS DECIMAL)`): DuckDB's direct
    * FLOAT→DECIMAL multiplies in FLOAT precision and diverges in the
    * 9th significant digit (the second k = 4 find; six embed-family
    * oracles carried that latent mismatch under their 6dp output
    * rounding and are now hardened). m is recovered as DECIMAL(8,6)
    * from the 6dp double literal (exact — the round(_, 6) double IS
    * that 6-decimal rational), dx at (17,12) and dx² at (35,24) —
    * every step exact with no precision reduction, so both engines
    * compute identical rationals and the fold order is irrelevant.
    * The per-step Add yields (36,24); the cast back to (35,24) is
    * exact (d2 < 64·2048² ≈ 3·10⁸ ≪ 10¹¹). At 100 TB latency the
    * [[IvfIndex]] double-argmin path is the throughput variant; this
    * is the replayable form.
    *
    * Computed by the native kernel (graft.functions.DecDistArray):
    * bit-identical decimals to the zip_with/aggregate spelling it replaced
    * (the twin in ClusteringInternalsSpec), in primitive long/128-bit
    * arithmetic — the HOF lambda chain allocated BigDecimals per
    * (element, cluster, row) and dominated every assignment pass. */
  private def distArray(v: Column, cents: Array[Array[Double]]): Column =
    graft.functions.VectorExpressions.decDistArray(v, cents)

  /** One assignment pass: (vec_id, v, cl, d2) — nearest centroid, ties
    * to the lowest cluster id (struct min compares d2 first, then cl). */
  def assign(rows: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val best = array_min(distArray(col("v"), cents))
    rows.select(col("vec_id"), col("v"),
      best.getField("cl").as("cl"), best.getField("d2").as("d2"))
  }

  /** Assignment that PRESERVES the caller's columns (grouped consumers
    * carry their segment through the projection): appends `cl` only.
    * Same inlined-literal argmin as [[assign]] — still exchange-free. */
  def assignAll(rows: DataFrame, cents: Array[Array[Double]]): DataFrame =
    rows.select(col("*"),
      array_min(distArray(col("v"), cents)).getField("cl").as("cl"))

  /** Train: `iters` Lloyd updates from the hash-order seeds; returns the
    * final centroids (k arrays of 6dp-rounded doubles). Each update is
    * one distributed (cluster, dim) decimal aggregation; the collected
    * summary is ≤ k·d rows (model-sized, ceiling-guarded). */
  def kmeans(rows: DataFrame, k: Int = DefaultK, iters: Int = DefaultIters,
      dim: Int = Dim): Array[Array[Double]] = {
    require(k >= 1, s"kmeans: k=$k")
    require(iters >= 0, s"kmeans: iters=$iters")
    // deterministic pseudo-random seeds: k smallest (keyHash, vec_id)
    val seedRows = rows
      .orderBy(PortableHash.keyHash(col("vec_id")), col("vec_id"))
      .limit(k).collect()
    require(seedRows.nonEmpty, "kmeans: no valid vectors to seed from")
    var cents: Array[Array[Double]] = seedRows.map(r =>
      r.getSeq[Float](1).iterator.map(f => round6(f.toDouble)).toArray)
    var t = 0
    while (t < iters) {
      val upd = Robust.collectSummary(
        assign(rows, cents)
          .select(col("cl"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("cl"), col("i"))
          .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("n"))
          .select(col("cl"), col("i"),
            round(col("s").cast(DoubleType) / col("n"), 6).as("m")),
        "kmeans")
      val byCl = upd.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (prev, j) =>
        byCl.get(j) match {
          case Some(rs) => // recomputed mean
            val a = Array.ofDim[Double](dim)
            rs.foreach(r => a(r.getAs[Int]("i")) = r.getAs[Double]("m"))
            a
          case None => prev // empty cluster keeps its centroid
        }
      }
      t += 1
    }
    cents
  }

  // model memo: Verify/Bench run many consumers against one corpus — the
  // centroids are the at-rest model (the BpeTrain posture), trained once
  // per JVM per (dir, k, iters)
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  def modelFor(spark: SparkSession, dir: String, k: Int = DefaultK,
      iters: Int = DefaultIters, dim: Int = Dim): Array[Array[Double]] =
    modelCache.computeIfAbsent(s"$dir|$k|$iters|$dim", _ =>
      kmeans(cleanVectors(graft.sources.Tables.embeddings(spark, dir), dim),
        k, iters, dim))

  /** Per-cluster rollup of the final assignment: size + inertia (exact
    * decimal sum of squared distances, one rounded double at the end). */
  def kmeansRollup(rows: DataFrame, cents: Array[Array[Double]]): DataFrame =
    assign(rows, cents)
      .groupBy(col("cl"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("s"))
      .select(col("cl").cast(IntegerType).as("cluster"), col("n"),
        round(col("s").cast(DoubleType), 6).as("inertia"))
      .orderBy(col("cluster"))

  /** Centroid-based silhouette per cluster: a = distance to the nearest
    * centroid (the assignment), b = distance to the second-nearest;
    * s = (b − a) / max(a, b) ∈ [0, 1] here since a ≤ b (re-assignment
    * under the same centroids), 0 when both are 0 (point ON two
    * coincident centroids). Per-row s is one deterministic double chain
    * (sqrt is IEEE-exact); the per-cluster mean sums exact decimals. */
  def silhouette(rows: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    require(cents.length >= 2, "silhouette: needs k >= 2 clusters")
    val sorted = array_sort(distArray(col("v"), cents))
    val aD = sqrt(element_at(sorted, 1).getField("d2").cast(DoubleType))
    val bD = sqrt(element_at(sorted, 2).getField("d2").cast(DoubleType))
    val mx = greatest(aD, bD)
    val sv = when(mx === 0.0, lit(0.0)).otherwise((bD - aD) / mx)
    rows
      .select(element_at(sorted, 1).getField("cl").as("cl"), sv.as("sv"))
      .groupBy(col("cl"))
      .agg(count(lit(1)).as("n"), sum(col("sv").cast(dec)).as("ss"))
      .select(col("cl").cast(IntegerType).as("cluster"), col("n"),
        round(col("ss").cast(DoubleType) / col("n"), 6).as("silhouette"))
      .orderBy(col("cluster"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): within-cluster semantic
    * pruning — the operator the clustering and dedup stacks exist to
    * compose. Candidate pairs are generated ONLY inside a k-means
    * assignment cell, so at 100 TB the CELL (k grows with the corpus in
    * the paper's regime, n/k bounded), not the corpus, bounds the
    * quadratic. Keep-one-per-near-dup-group is the deterministic
    * portable-hash rule: a vector is PRUNED iff some same-cell neighbor
    * at cosine ≥ τ carries a smaller (keyHash, vec_id) key — the
    * group's global key-minimum always survives, both engines replay
    * the same keeper, and no connected-components pass is needed (one
    * pair join / generator pass + one distinct-victim count).
    *
    * Plan shape (the [[IvfIndex.semDedupPairs]] measurement): within-
    * cell scoring is NOT a self-join — with k distinct keys a sort-merge
    * join replays each cell per probe row (~10× slower at sf0.1).
    * ONE hash shuffle groups each cell into a bounded array and the
    * native [[graft.functions.PairGenerators.cosinePairs]] generator
    * scores i<j pairs lazily, emitting survivors only (loose raw cutoff
    * τ−1e-6, then the exact rounded-6dp threshold keeps borderline
    * pairs bit-identical with the oracle's `list_cosine_similarity`
    * replay — the established q_semdedup pairing). The per-cluster size
    * rollup rides a separate map-combined count aggregation (k rows per
    * task) instead of a checkpoint of the corpus-sized cells table.
    *
    * Output: per-cluster (cluster, n, n_pruned, n_kept, prune_rate) —
    * the prune decision a curation pipeline applies before sampling. */
  def semDedup(rows: DataFrame, cents: Array[Array[Double]],
      tau: Double = SemDedupTau): DataFrame = {
    // checkpoint the assignment: the size rollup and the pair generator
    // both consume it. Re-running the k·d decimal argmin projection per
    // consumer measured 7.41 → 2.37 s on the three-consumer
    // [[semDedupQuota]] at sf0.1; here (two consumers) the trade is
    // neutral within ambient noise — kept for the shared shape
    val asg = assign(rows, cents).select(col("cl"), col("vec_id"), col("v"))
      .localCheckpoint(false)
    val sizes = asg.groupBy(col("cl")).agg(count(lit(1)).as("n"))
    val pruned = semDedupVictims(asg, tau).groupBy(col("cl"))
      .agg(countDistinct(col("victim")).as("np"))
    sizes.join(pruned, Seq("cl"), "left")
      .select(col("cl").cast(IntegerType).as("cluster"), col("n"),
        coalesce(col("np"), lit(0L)).as("n_pruned"),
        (col("n") - coalesce(col("np"), lit(0L))).as("n_kept"),
        round(coalesce(col("np"), lit(0L)).cast(DoubleType) / col("n"), 6)
          .as("prune_rate"))
      .orderBy(col("cluster"))
  }

  /** Within-cell near-dup pairs at cosine ≥ τ — (cl, vec_a, vec_b) with
    * vec_a < vec_b, from the native in-cell generator after ONE hash
    * shuffle keyed by the assignment (see [[semDedup]]'s plan story).
    * `private[graft]`: [[graft.streaming.SemDedupIngest]] asserts its
    * streamed pair set against this whole-corpus form. */
  private[graft] def semDedupPairs(asg: DataFrame, tau: Double): DataFrame =
    asg
      .groupBy(col("cl"))
      .agg(collect_list(struct(col("vec_id"), col("v"),
        graft.functions.l2Norm(col("v")).as("nrm"))).as("members"))
      .select(col("cl"),
        graft.functions.PairGenerators.cosinePairs(col("members"), tau - 1e-6)
          .as(Seq("vec_a", "vec_b", "cosine")))
      .filter(round(col("cosine"), 6) >= tau)

  /** Near-dup VICTIMS per assignment cell — (cl, victim) rows, possibly
    * repeated (one per witnessing pair): victim = the larger-(keyHash,
    * vec_id) member of each within-cell pair at cosine ≥ τ. Pairs come
    * from the native in-cell generator after ONE hash shuffle keyed by
    * the assignment (see [[semDedup]]'s plan story). */
  private def semDedupVictims(asg: DataFrame, tau: Double): DataFrame =
    victimsFromPairs(semDedupPairs(asg, tau))

  /** The keeper rule applied to an already-generated (cl, vec_a, vec_b)
    * pair table: victim = the larger-(keyHash, vec_id) member of each
    * pair. Shared with the streaming ingest, whose pairs arrive from the
    * at-rest-index probe instead of the whole-corpus generator. */
  private[graft] def victimsFromPairs(pairs: DataFrame): DataFrame = {
    val khA = PortableHash.keyHash(col("vec_a"))
    val khB = PortableHash.keyHash(col("vec_b"))
    pairs.select(col("cl"),
      when(khA < khB || (khA === khB && col("vec_a") < col("vec_b")),
        col("vec_b")).otherwise(col("vec_a")).as("victim"))
  }

  /** SEMANTIC split-leakage audit: near-dup EMBEDDING pairs that cross
    * the train/val/test boundary — the eval contamination
    * [[Curation.splitLeakage]]'s text-shingle gate cannot see
    * (paraphrases and re-renders share no 3-gram but sit at high
    * cosine). Same 90/5/5 portable-hash split rule as q_dataset_split,
    * same within-cell pair generation as [[semDedup]] (the cell bounds
    * the quadratic at 100 TB). Output: one row per unordered split
    * pair with its near-dup pair count and share — rows with
    * split_a ≠ split_b are the leaks; a leak-free corpus under a
    * cluster-respecting split has only the diagonal. */
  def semanticLeakage(rows: DataFrame, cents: Array[Array[Double]],
      tau: Double = SemDedupTau): DataFrame = {
    val asg = assign(rows, cents).select(col("cl"), col("vec_id"), col("v"))
    def splitOf(id: Column) = {
      val h = pmod(PortableHash.keyHash(id), lit(100L))
      when(h < 90L, "train").when(h < 95L, "val").otherwise("test")
    }
    val sa = splitOf(col("vec_a"))
    val sb = splitOf(col("vec_b"))
    val pairs = semDedupPairs(asg, tau).select(
      least(sa, sb).as("split_a"), greatest(sa, sb).as("split_b"))
    // checkpoint the ≤6-row grid: the total is an aggregate of the SAME
    // lineage, so without it the assignment + cosinePairs shuffle would
    // replay twice (the shared-consumer convention of [[semDedup]])
    val counts = pairs.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(false)
    val tot = counts.agg(sum(col("n_pairs")).as("__t"))
    counts.crossJoin(broadcast(tot))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        round(col("n_pairs").cast(DoubleType) / col("__t"), 6).as("share"),
        (col("split_a") =!= col("split_b")).as("is_leak"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** The [[semanticLeakage]] REMEDY — the embedding-space twin of
    * [[Curation.splitByCluster]]: assign train/val/test by the near-dup
    * CLUSTER ROOT instead of the vec id, so no embedding near-dup
    * relation can span splits BY CONSTRUCTION. Near-dup relations are
    * the connected components of the within-cell pair graph (the same
    * [[semDedup]] pair generator — the k-means cell bounds the
    * quadratic at 100 TB; components can only form inside a cell, so
    * the component graph is cell-local and near-dup-sized, solved by
    * [[Dedup.connectedComponents]]'s bounded-driver union-find / pointer
    * jumping). Singletons keep their vec-id hash. Emits the per-split
    * shape plus a `leak_free` re-audit column computed the
    * [[semanticLeakage]] way — the off-diagonal near-dup pair mass under
    * the NEW split, which must be zero: the query carries its own proof
    * instead of asking the reader to trust the construction.
    *
    * Scale shape: one assignment projection, one cell-keyed pair
    * shuffle (near-dup-sized output), the component solve over the pair
    * graph (orders of magnitude smaller than the corpus), one left join
    * to attach roots, two id-keyed joins for the re-audit fold (pair
    * table sized), one 3-row rollup. */
  def splitBySemCluster(rows: DataFrame, cents: Array[Array[Double]],
      tau: Double = SemDedupTau): DataFrame = {
    val asg = assign(rows, cents).select(col("cl"), col("vec_id"), col("v"))
      .localCheckpoint(false)
    // pairs feed BOTH the component solve and the re-audit fold: without
    // the checkpoint the assignment + cosinePairs shuffle replays per
    // consumer (the semDedup shared-consumer convention)
    val pairs = semDedupPairs(asg, tau).select(col("vec_a"), col("vec_b"))
      .localCheckpoint(false)
    val clusters = Dedup.connectedComponents(pairs, "vec_a", "vec_b")
      .select(col("v").as("vec_id"), col("cluster_id"))
    val h = pmod(PortableHash.keyHash(
      coalesce(col("cluster_id"), col("vec_id"))), lit(100L))
    val assigned = asg.select(col("vec_id"))
      .join(clusters, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        when(h < 90L, "train").when(h < 95L, "val").otherwise("test")
          .as("split"))
      .localCheckpoint(false) // rollup + both re-audit joins consume it
    val sp = assigned.select(col("vec_id"), col("split"))
    val leak = pairs
      .join(sp.toDF("vec_a", "s_a"), "vec_a")
      .join(sp.toDF("vec_b", "s_b"), "vec_b")
      .agg(coalesce(sum(when(col("s_a") =!= col("s_b"), 1L).otherwise(0L)),
        lit(0L)).as("n_offdiag"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("cluster_id")).as("n_clustered_vecs"))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_vecs"), col("n_clustered_vecs"),
        (col("n_offdiag") === 0L).as("leak_free"))
      .orderBy(col("split"))
  }

  /** Quality-weighted per-cluster sampling quotas — the actual
    * SemDeDup-style budget decision, composing three operators: the
    * k-means assignment (which mode), the quality gate's keep counts
    * (how good the mode is), and the capped-waterfill allocator (how
    * much budget each mode gets). Weight = the cluster's kept-doc count
    * (exact integers — the keep RATE scaled by size, so quota ∝ quality
    * mass), capacity = the cluster SIZE, budget = `budgetPct`% of the
    * corpus: high-quality clusters saturate first and their unabsorbed
    * budget reallocates ∝ weight to the rest — the
    * [[Curation.mixtureWaterfill]] closed form (saturation is monotone
    * along the avail/w ratio order; ONE prefix scan with exact BigInt
    * cross-products finds the cutoff) over clusters instead of sources.
    * Clusters with zero kept docs carry no quality mass and DROP (no
    * quota to offer — the waterfill out-of-mixture convention).
    *
    * Scale shape: one assignment projection + one (cluster) aggregation
    * joined to the quality projection on the shared id domain; the fold
    * runs driver-side over the k-row summary (model-sized). The DRAW
    * then rides the established pickers (fixed-quota `topKBy` or the
    * dataMixture hash-threshold rate at 100 TB). */
  def sampleQuota(rows: DataFrame, cents: Array[Array[Double]],
      quality: DataFrame, budgetPct: Int): DataFrame = {
    require(budgetPct >= 1 && budgetPct < 100,
      s"sampleQuota: budgetPct in [1, 100), got $budgetPct")
    val spark = rows.sparkSession
    val outSchema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("keeps", LongType, nullable = false),
      StructField("quota", LongType, nullable = false),
      StructField("saturated", org.apache.spark.sql.types.BooleanType, nullable = false),
      StructField("fill_rate", DoubleType, nullable = true)))
    val stats = Robust.collectSummary(
      assign(rows, cents).select(col("cl"), col("vec_id"))
        .join(quality.select(col("doc_id"), col("keep")),
          col("vec_id") === col("doc_id"))
        .groupBy(col("cl"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("keeps")),
      "sampleQuota")
      .map(r => (r.getInt(0), r.getAs[Long]("n"), r.getAs[Long]("keeps")))
      .filter(_._3 > 0) // zero quality mass → no quota (out-of-mixture)
    val quotas = waterfillQuota(stats, budgetPct)
    val out = stats.map { case (cl, avail, w) =>
      val (alloc, sat) = quotas(cl)
      Row(cl, avail, w, alloc, sat,
        if (avail > 0) round6(alloc.toDouble / avail.toDouble) else null)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(col("cluster"))
  }

  /** Grouped SemDeDup readout: prune rates per SOURCE — whose crawl is
    * redundant (the grouped-gate convention applied to the flagship:
    * [[semDedup]] says WHICH semantic mode carries near-dups, this says
    * WHO contributed them). The prune decision is UNCHANGED — the same
    * within-cell keeper rule over the same assignment — only the rollup
    * key changes: each vector attributes to its document's source on
    * the shared id domain. A source's rate is the fraction of ITS
    * vectors pruned anywhere, so sums over sources reproduce the global
    * table's totals exactly (twin-tested). */
  def semDedupBySource(rows: DataFrame, cents: Array[Array[Double]],
      documents: DataFrame, tau: Double = SemDedupTau): DataFrame = {
    val asg = assign(rows, cents).select(col("cl"), col("vec_id"), col("v"))
      .localCheckpoint(false)
    val src = documents.select(col("doc_id"), col("source"))
      .filter(col("source").isNotNull)
    val sizes = asg.join(src, col("vec_id") === col("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pruned = semDedupVictims(asg, tau)
      .select(col("victim")).distinct() // single assignment: one cell each
      .join(src, col("victim") === col("doc_id"))
      .groupBy(col("source")).agg(count(lit(1)).as("np"))
    sizes.join(pruned, Seq("source"), "left")
      .select(col("source"), col("n"),
        coalesce(col("np"), lit(0L)).as("n_pruned"),
        (col("n") - coalesce(col("np"), lit(0L))).as("n_kept"),
        round(coalesce(col("np"), lit(0L)).cast(DoubleType) / col("n"), 6)
          .as("prune_rate"))
      .orderBy(col("source"))
  }

  /** The closed-form capped-waterfill cutoff over a collected
    * (cluster, avail, w) summary — ONE prefix scan along the avail/w
    * ratio order with exact BigInt cross-products (the
    * [[Curation.mixtureWaterfill]] algebra; property-tested against the
    * iterative fixpoint there). Shared by [[sampleQuota]] and
    * [[semDedupQuota]]. Callers pre-filter w > 0. */
  private def waterfillQuota(stats: Seq[(Int, Long, Long)],
      budgetPct: Int): Map[Int, (Long, Boolean)] = {
    val ss = stats.sortBy(s => (s._2.toDouble / s._3.toDouble, s._1))
    val total = ss.iterator.map(s => BigInt(s._2)).sum
    var lrem = total * budgetPct / 100 // floor
    var remW = ss.iterator.map(s => BigInt(s._3)).sum
    var level: Option[(BigInt, BigInt)] = None
    ss.map { case (cl, avail, w) =>
      val sat = level.isEmpty && lrem * w >= BigInt(avail) * remW
      val alloc =
        if (sat) { lrem -= avail; remW -= w; avail }
        else {
          if (level.isEmpty) level = Some((lrem, remW))
          val (lc, wc) = level.get
          (lc * w / wc).toLong
        }
      cl -> ((alloc, sat))
    }.toMap
  }

  /** The END-TO-END SemDeDup budget decision: prune near-dups inside
    * each cell ([[semDedup]]'s keeper rule), THEN waterfill the sample
    * budget over the SURVIVING pool weighted by its quality keeps — the
    * full cluster → dedup → budget pipeline (Abbas et al. 2023) as one
    * decision table. [[sampleQuota]] is the dedup-blind form; here a
    * cluster that is mostly near-duplicates offers only its post-prune
    * capacity, so redundant modes cannot absorb budget with copies.
    *
    * Scale shape: the assignment projection feeds BOTH the victim
    * generator (one cell-keyed shuffle) and the survivor anti-join
    * (cell-local keys); quality joins on the shared id domain; the fold
    * runs driver-side over the k-row summary. Zero-keep clusters drop
    * (out-of-mixture). Output: per-cluster (cluster, n, n_kept, keeps,
    * quota, saturated, fill_rate) with fill_rate = quota / n_kept. */
  def semDedupQuota(rows: DataFrame, cents: Array[Array[Double]],
      quality: DataFrame, tau: Double = SemDedupTau,
      budgetPct: Int = 60): DataFrame = {
    require(budgetPct >= 1 && budgetPct < 100,
      s"semDedupQuota: budgetPct in [1, 100), got $budgetPct")
    val spark = rows.sparkSession
    val outSchema = StructType(Seq(
      StructField("cluster", IntegerType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_kept", LongType, nullable = false),
      StructField("keeps", LongType, nullable = false),
      StructField("quota", LongType, nullable = false),
      StructField("saturated", org.apache.spark.sql.types.BooleanType, nullable = false),
      StructField("fill_rate", DoubleType, nullable = true)))
    // one assignment pass: sizes, the victim generator, and the survivor
    // anti-join all read the checkpointed projection (see [[semDedup]])
    val asg = assign(rows, cents).select(col("cl"), col("vec_id"), col("v"))
      .localCheckpoint(false)
    val sizes = Robust.collectSummary(
        asg.groupBy(col("cl")).agg(count(lit(1)).as("n")), "semDedupQuota")
      .map(r => r.getInt(0) -> r.getAs[Long]("n")).toMap
    val survivors = asg.select(col("cl"), col("vec_id"))
      .join(semDedupVictims(asg, tau).withColumnRenamed("victim", "vec_id"),
        Seq("cl", "vec_id"), "left_anti")
    val stats = Robust.collectSummary(
      survivors
        .join(quality.select(col("doc_id"), col("keep")),
          col("vec_id") === col("doc_id"))
        .groupBy(col("cl"))
        .agg(count(lit(1)).as("n_kept"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("keeps")),
      "semDedupQuota")
      .map(r => (r.getInt(0), r.getAs[Long]("n_kept"), r.getAs[Long]("keeps")))
      .filter(_._3 > 0)
    val quotas = waterfillQuota(stats, budgetPct)
    val out = stats.map { case (cl, kept, w) =>
      val (alloc, sat) = quotas(cl)
      Row(cl, sizes(cl), kept, w, alloc, sat,
        if (kept > 0) round6(alloc.toDouble / kept.toDouble) else null)
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(col("cluster"))
  }

  /** The executable form of the SemDeDup "k grows with the corpus"
    * posture (Abbas et al. 2023 run k ∝ corpus so n/k stays bounded):
    * pick the smallest candidate k whose average cell occupancy n/k is
    * at or under `cap`, falling back to the largest candidate. Chosen
    * over an inertia-elbow rule deliberately: on this corpus the elbow
    * sweep (q_kmeans_elbow) shows inertia declining SMOOTHLY — uniform
    * synthetic embeddings have no true cluster count, so a marginal-
    * gain argmin would pick noise — while the capacity rule is exact
    * integer arithmetic both engines replay bit-identically AND is the
    * property the cell-bounded-quadratic scale argument actually needs.
    * Candidates must be sorted ascending. */
  def selectK(n: Long, candidates: Seq[Int] = AutoKCandidates,
      cap: Long = AutoKCap): Int = {
    require(candidates.nonEmpty && candidates == candidates.sorted,
      s"selectK: candidates must be non-empty ascending, got $candidates")
    candidates.find(k => n <= cap * k).getOrElse(candidates.max)
  }

  /** Auto-k parameters: with cap 128 the rule picks k = 4 at
    * n = 500 (sf0.001 / sf0.01) and k = 8 at n = 2000 (sf0.1) — the
    * selector provably moves with the corpus on the shipped data. */
  val AutoKCandidates = Seq(2, 4, 8)
  val AutoKCap = 128L

  /** SemDeDup threshold on this corpus: uniform-random 64-d embeddings
    * concentrate cosine near 0 ± d^-1/2, so the near-dup tail that a real
    * crawl would show at ≥ 0.95 sits at ≥ ~0.3 here — chosen so the
    * verify SF exercises nonzero prune counts through the keeper fold. */
  val SemDedupTau = 0.3

  // ---------------------------------------------------------------------
  // DuckDB replay — the generated fixed-iteration stage chain (the
  // BpeTrain.oracleSql pattern). MATERIALIZED is load-bearing: cent{t}
  // feeds both the next assignment and the carry-over anti-join.
  // ---------------------------------------------------------------------

  /** CTE chain ending in `rkf` (final distances under cent{iters}, with
    * rn = per-vector rank by (d2, cl)) and `af` (rn = 1). `trainWhere`
    * restricts the TRAINING corpus (e.g. the frozen even-id reference
    * half for the streaming share monitor); the assignment stages keep
    * scanning only the training rows — consumers needing assignment of
    * other rows add their own stage over `cent$iters`. */
  def stagesSql(k: Int, iters: Int, dim: Int, trainWhere: String = "", ns: String = ""): String = {
    val base =
      s"""${ns}e AS MATERIALIZED (SELECT vec_id, embedding AS v FROM embeddings
         |       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = $dim
         |         AND len(list_filter(embedding, x -> x IS NULL)) = 0$trainWhere),
         |${ns}d AS MATERIALIZED (SELECT CAST(i AS INT) AS i FROM range(0, $dim) t(i)),
         |${ns}vx AS MATERIALIZED (SELECT e.vec_id AS vec_id, d.i AS i,
         |       CAST(e.v[d.i + 1] AS DOUBLE) AS x FROM ${ns}e e, ${ns}d d),
         |${ns}seeds AS MATERIALIZED (
         |  SELECT CAST(row_number() OVER (ORDER BY ${PortableHash.keyHashSql("vec_id")}, vec_id) - 1 AS INT) AS cl,
         |         vec_id
         |  FROM (SELECT vec_id FROM ${ns}e ORDER BY ${PortableHash.keyHashSql("vec_id")}, vec_id LIMIT $k)),
         |${ns}cent0 AS MATERIALIZED (SELECT s.cl AS cl, vx.i AS i, round(vx.x, 6) AS m
         |  FROM ${ns}seeds s JOIN ${ns}vx vx ON vx.vec_id = s.vec_id)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""${ns}a$t AS MATERIALIZED (
         |  SELECT vec_id, cl, d2 FROM (
         |    SELECT vx.vec_id AS vec_id, c.cl AS cl,
         |           sum(CAST((CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))) AS d2,
         |           row_number() OVER (PARTITION BY vx.vec_id
         |             ORDER BY sum(CAST((CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))), c.cl) AS rn
         |    FROM ${ns}vx vx JOIN ${ns}cent${t - 1} c ON c.i = vx.i
         |    GROUP BY 1, 2) WHERE rn = 1),
         |${ns}upd$t AS MATERIALIZED (
         |  SELECT a.cl AS cl, vx.i AS i,
         |         round(CAST(sum(CAST(vx.x AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS m
         |  FROM ${ns}a$t a JOIN ${ns}vx vx ON vx.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |${ns}cent$t AS MATERIALIZED (
         |  SELECT cl, i, m FROM ${ns}upd$t
         |  UNION ALL
         |  SELECT c.cl, c.i, c.m FROM ${ns}cent${t - 1} c
         |  WHERE c.cl NOT IN (SELECT DISTINCT cl FROM ${ns}upd$t))""".stripMargin
    }
    val fin =
      s"""${ns}rkf AS MATERIALIZED (
         |  SELECT vx.vec_id AS vec_id, c.cl AS cl,
         |         sum(CAST((CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))) AS d2,
         |         row_number() OVER (PARTITION BY vx.vec_id
         |           ORDER BY sum(CAST((CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vx.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))), c.cl) AS rn
         |  FROM ${ns}vx vx JOIN ${ns}cent$iters c ON c.i = vx.i
         |  GROUP BY 1, 2),
         |${ns}af AS MATERIALIZED (SELECT vec_id, cl, d2 FROM ${ns}rkf WHERE rn = 1)""".stripMargin
    (base +: steps :+ fin).mkString(",\n")
  }

  def kmeansOracleSql(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${stagesSql(k, iters, dim)}
       |SELECT CAST(cl AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       |       round(CAST(sum(d2) AS DOUBLE), 6) AS inertia
       |FROM af GROUP BY 1 ORDER BY 1""".stripMargin

  def silhouetteOracleSql(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${stagesSql(k, iters, dim)},
       |sil AS (
       |  SELECT o.cl AS cl,
       |         CASE WHEN greatest(sqrt(CAST(o.d2 AS DOUBLE)), sqrt(CAST(s.d2 AS DOUBLE))) = 0 THEN 0.0
       |              ELSE (sqrt(CAST(s.d2 AS DOUBLE)) - sqrt(CAST(o.d2 AS DOUBLE)))
       |                   / greatest(sqrt(CAST(o.d2 AS DOUBLE)), sqrt(CAST(s.d2 AS DOUBLE))) END AS sv
       |  FROM (SELECT vec_id, cl, d2 FROM rkf WHERE rn = 1) o
       |  JOIN (SELECT vec_id, d2 FROM rkf WHERE rn = 2) s USING (vec_id))
       |SELECT CAST(cl AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       |       round(CAST(sum(CAST(sv AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) AS silhouette
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  def labelMiOracleSql(k: Int, iters: Int, dim: Int): String =
    s"""WITH ${stagesSql(k, iters, dim)},
       |cells AS (SELECT CAST(a.cl AS BIGINT) AS x, CAST(em.label AS BIGINT) AS y,
       |                 count(*) AS cnt
       |          FROM af a JOIN embeddings em ON em.vec_id = a.vec_id
       |          WHERE em.label IS NOT NULL GROUP BY 1, 2),
       |one AS (SELECT list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
       |               CAST(sum(cnt) AS BIGINT) AS n FROM cells)
       |SELECT n AS n_rows,
       |       round(list_sum(list_transform(cs, c ->
       |         (CAST(c.cnt AS DOUBLE) / CAST(n AS DOUBLE))
       |         * ln(CAST(c.cnt AS DOUBLE) * CAST(n AS DOUBLE)
       |              / (CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
       |                 * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE))))), 6) AS mi_nats
       |FROM one""".stripMargin

  /** Model trained on the frozen even-id REFERENCE half only — the
    * streaming share monitor's at-rest model (new data must not move
    * the centroids it is judged against). */
  def refModelFor(spark: SparkSession, dir: String, k: Int = DefaultK,
      iters: Int = DefaultIters, dim: Int = Dim): Array[Array[Double]] =
    modelCache.computeIfAbsent(s"$dir|$k|$iters|$dim|ref", _ =>
      kmeans(cleanVectors(
          graft.sources.Tables.embeddings(spark, dir)
            .filter(pmod(col("vec_id"), lit(2L)) === 0), dim),
        k, iters, dim))

  /** Replay of the streaming cluster-share monitor: train on the even
    * half, assign EVERY valid vector under the final centroids, then
    * the per-cluster share table with smoothed PSI terms (the
    * q_psi_drift +0.5 / +k/2 Laplace spelling). Empty sides yield no
    * rows (absence is not zero drift). */
  def shareStreamOracleSql(k: Int, iters: Int, dim: Int): String = {
    val pad = k / 2.0
    val pr = s"(CAST(cr AS DOUBLE) + 0.5) / (CAST(tt.n_ref AS DOUBLE) + $pad)"
    val pc = s"(CAST(ccur AS DOUBLE) + 0.5) / (CAST(tt.n_cur AS DOUBLE) + $pad)"
    s"""WITH ${stagesSql(k, iters, dim, " AND vec_id % 2 = 0")},
       |va AS MATERIALIZED (SELECT vec_id, embedding AS v, vec_id % 2 = 1 AS is_cur FROM embeddings
       |       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = $dim
       |         AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |vxa AS MATERIALIZED (SELECT va.vec_id AS vec_id, va.is_cur AS is_cur, d.i AS i,
       |       CAST(va.v[d.i + 1] AS DOUBLE) AS x FROM va, d),
       |aa AS MATERIALIZED (
       |  SELECT vec_id, is_cur, cl FROM (
       |    SELECT vxa.vec_id AS vec_id, vxa.is_cur AS is_cur, c.cl AS cl,
       |           row_number() OVER (PARTITION BY vxa.vec_id
       |             ORDER BY sum(CAST((CAST(vxa.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vxa.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))), c.cl) AS rn
       |    FROM vxa JOIN cent$iters c ON c.i = vxa.i
       |    GROUP BY 1, 2, 3) WHERE rn = 1),
       |cc AS (SELECT cl, CAST(sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS cr,
       |              CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS ccur
       |       FROM aa GROUP BY 1),
       |dom AS (SELECT CAST(gs.g AS INT) AS cluster, coalesce(cc.cr, 0) AS cr,
       |               coalesce(cc.ccur, 0) AS ccur
       |        FROM generate_series(0, ${k - 1}) gs(g) LEFT JOIN cc ON cc.cl = gs.g),
       |tt AS (SELECT CAST(sum(cr) AS BIGINT) AS n_ref, CAST(sum(ccur) AS BIGINT) AS n_cur FROM dom)
       |SELECT dom.cluster AS cluster, cr AS n_ref, ccur AS n_cur,
       |       round(CAST(cr AS DOUBLE) / CAST(tt.n_ref AS DOUBLE), 6) AS share_ref,
       |       round(CAST(ccur AS DOUBLE) / CAST(tt.n_cur AS DOUBLE), 6) AS share_cur,
       |       round(($pr - $pc) * ln(($pr) / ($pc)), 6) AS psi_term,
       |       TRUE AS parity_ok
       |FROM dom, tt WHERE tt.n_ref > 0 AND tt.n_cur > 0 ORDER BY cluster""".stripMargin
  }

  /** Grouped replay of the streaming cluster-share monitor: same frozen
    * even-half model, but the count key is (label, cluster) — WHOSE
    * corpus slice shifted the mixture. Shares and the smoothed PSI terms
    * are WITHIN-label; a label empty on either side drops whole (absence
    * is not zero drift, per segment). */
  def shareStreamByOracleSql(k: Int, iters: Int, dim: Int): String = {
    val pad = k / 2.0
    val pr = s"(CAST(dom.cr AS DOUBLE) + 0.5) / (CAST(tt.n_ref AS DOUBLE) + $pad)"
    val pc = s"(CAST(dom.ccur AS DOUBLE) + 0.5) / (CAST(tt.n_cur AS DOUBLE) + $pad)"
    s"""WITH ${stagesSql(k, iters, dim, " AND vec_id % 2 = 0")},
       |va AS MATERIALIZED (SELECT vec_id, embedding AS v, CAST(label AS BIGINT) AS label,
       |       vec_id % 2 = 1 AS is_cur FROM embeddings
       |       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) = $dim
       |         AND len(list_filter(embedding, x -> x IS NULL)) = 0 AND label IS NOT NULL),
       |vxa AS MATERIALIZED (SELECT va.vec_id AS vec_id, va.label AS label, va.is_cur AS is_cur,
       |       d.i AS i, CAST(va.v[d.i + 1] AS DOUBLE) AS x FROM va, d),
       |aa AS MATERIALIZED (
       |  SELECT vec_id, label, is_cur, cl FROM (
       |    SELECT vxa.vec_id AS vec_id, vxa.label AS label, vxa.is_cur AS is_cur, c.cl AS cl,
       |           row_number() OVER (PARTITION BY vxa.vec_id
       |             ORDER BY sum(CAST((CAST(vxa.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) * (CAST(vxa.x AS DECIMAL(16,12)) - CAST(c.m AS DECIMAL(8,6))) AS DECIMAL(38,24))), c.cl) AS rn
       |    FROM vxa JOIN cent$iters c ON c.i = vxa.i
       |    GROUP BY 1, 2, 3, 4) WHERE rn = 1),
       |cc AS (SELECT label, cl, CAST(sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS BIGINT) AS cr,
       |              CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS ccur
       |       FROM aa GROUP BY 1, 2),
       |lbl AS (SELECT label FROM cc GROUP BY 1 HAVING sum(cr) > 0 AND sum(ccur) > 0),
       |dom AS (SELECT lbl.label AS label, CAST(gs.g AS INT) AS cluster,
       |               coalesce(cc.cr, 0) AS cr, coalesce(cc.ccur, 0) AS ccur
       |        FROM lbl CROSS JOIN generate_series(0, ${k - 1}) gs(g)
       |        LEFT JOIN cc ON cc.label = lbl.label AND cc.cl = gs.g),
       |tt AS (SELECT label, CAST(sum(cr) AS BIGINT) AS n_ref,
       |              CAST(sum(ccur) AS BIGINT) AS n_cur FROM dom GROUP BY 1)
       |SELECT dom.label AS label, dom.cluster AS cluster, dom.cr AS n_ref, dom.ccur AS n_cur,
       |       round(CAST(dom.cr AS DOUBLE) / CAST(tt.n_ref AS DOUBLE), 6) AS share_ref,
       |       round(CAST(dom.ccur AS DOUBLE) / CAST(tt.n_cur AS DOUBLE), 6) AS share_cur,
       |       round(($pr - $pc) * ln(($pr) / ($pc)), 6) AS psi_term,
       |       TRUE AS parity_ok
       |FROM dom JOIN tt ON tt.label = dom.label
       |ORDER BY label, cluster""".stripMargin
  }

  /** Elbow sweep: the full training chain per k (namespaced CTEs), one
    * (n, inertia) row each — the model-selection evidence for the
    * family's fixed k. */
  def elbowOracleSql(ks: Seq[Int], iters: Int, dim: Int): String = {
    val chains = ks.map(k => stagesSql(k, iters, dim, "", s"k${k}_"))
    val selects = ks.map(k =>
      s"SELECT CAST($k AS INT) AS k, CAST(count(*) AS BIGINT) AS n, " +
        s"round(CAST(sum(d2) AS DOUBLE), 6) AS inertia FROM k${k}_af")
    s"WITH ${chains.mkString(",\n")}\n${selects.mkString("\nUNION ALL ")}\nORDER BY k"
  }

  /** The shared SemDeDup replay prefix: the stage chain + per-cell
    * vectors with hash keys (`sdv`) + the victim pairs under the keeper
    * rule (`sdp`). `list_cosine_similarity` at 6dp is the established
    * bit-exact twin of the Spark double-fold cosine. */
  def semDedupCellsSql(k: Int, iters: Int, dim: Int, tau: Double,
      ns: String = ""): String =
    s"""${stagesSql(k, iters, dim, "", ns)},
       |${ns}sdv AS MATERIALIZED (SELECT a.vec_id AS vec_id, a.cl AS cl,
       |               CAST(e.v AS DOUBLE[]) AS vd,
       |               ${PortableHash.keyHashSql("a.vec_id")} AS kh
       |        FROM ${ns}af a JOIN ${ns}e e ON e.vec_id = a.vec_id),
       |${ns}sdp AS (SELECT x.cl AS cl,
       |               CASE WHEN x.kh < y.kh OR (x.kh = y.kh AND x.vec_id < y.vec_id)
       |                    THEN y.vec_id ELSE x.vec_id END AS victim
       |        FROM ${ns}sdv x JOIN ${ns}sdv y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |        WHERE round(list_cosine_similarity(x.vd, y.vd), 6) >= $tau)""".stripMargin

  /** SemDeDup replay: the within-cell victims under the keeper rule,
    * distinct-victim counts per cluster (exact brute pairs at the
    * verify SF). */
  def semDedupOracleSql(k: Int, iters: Int, dim: Int, tau: Double): String =
    s"""WITH ${semDedupCellsSql(k, iters, dim, tau)},
       |sdn AS (SELECT cl, CAST(count(*) AS BIGINT) AS n FROM sdv GROUP BY 1),
       |sdx AS (SELECT cl, CAST(count(DISTINCT victim) AS BIGINT) AS n_pruned
       |        FROM sdp GROUP BY 1)
       |SELECT CAST(sdn.cl AS INT) AS cluster, sdn.n AS n,
       |       CAST(coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_pruned,
       |       CAST(sdn.n - coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_kept,
       |       round(CAST(coalesce(sdx.n_pruned, 0) AS DOUBLE) / sdn.n, 6) AS prune_rate
       |FROM sdn LEFT JOIN sdx ON sdx.cl = sdn.cl ORDER BY 1""".stripMargin

  /** [[graft.streaming.SemDedupIngest]] replay: the whole-corpus
    * per-cluster prune table ([[semDedupOracleSql]]) + the monitor
    * family's pinned in-plan parity column. Streamed pairs ≡ the
    * whole-corpus generator for any batch split (each unordered pair is
    * examined exactly once, when its later member arrives), so the
    * streamed rollup hash-matches this replay and parity_ok pins the
    * pair-set equality the hash can't see. */
  def semDedupStreamOracleSql(k: Int, iters: Int, dim: Int,
      tau: Double): String =
    s"""WITH ${semDedupCellsSql(k, iters, dim, tau)},
       |sdn AS (SELECT cl, CAST(count(*) AS BIGINT) AS n FROM sdv GROUP BY 1),
       |sdx AS (SELECT cl, CAST(count(DISTINCT victim) AS BIGINT) AS n_pruned
       |        FROM sdp GROUP BY 1)
       |SELECT CAST(sdn.cl AS INT) AS cluster, sdn.n AS n,
       |       CAST(coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_pruned,
       |       CAST(sdn.n - coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_kept,
       |       round(CAST(coalesce(sdx.n_pruned, 0) AS DOUBLE) / sdn.n, 6) AS prune_rate,
       |       TRUE AS parity_ok
       |FROM sdn LEFT JOIN sdx ON sdx.cl = sdn.cl ORDER BY 1""".stripMargin

  /** Auto-k SemDeDup replay: one namespaced stage chain + cell-pair
    * prefix PER candidate k (the elbow-oracle pattern), the capacity
    * rule ([[selectK]] — exact integer compare over the hygiene-filtered
    * corpus count) as a 1-row CTE, and the per-cluster prune table of
    * the SELECTED chain only (the UNION arms are mutually exclusive on
    * sel.k, so exactly one contributes rows). */
  def semDedupAutoKOracleSql(candidates: Seq[Int], iters: Int, dim: Int,
      tau: Double, cap: Long): String = {
    require(candidates.nonEmpty && candidates == candidates.sorted)
    val chains = candidates.map(k => semDedupCellsSql(k, iters, dim, tau, s"k${k}_"))
    val nExpr = s"(SELECT count(*) FROM k${candidates.head}_e)"
    val selCase = candidates.init
      .map(k => s"WHEN $nExpr <= $cap * $k THEN $k").mkString(" ")
    val sel = s"sel AS (SELECT CASE $selCase ELSE ${candidates.max} END AS k)"
    val arms = candidates.map { k =>
      s"""SELECT CAST(sel.k AS INT) AS selected_k, CAST(sdn.cl AS INT) AS cluster,
         |       sdn.n AS n, CAST(coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_pruned,
         |       CAST(sdn.n - coalesce(sdx.n_pruned, 0) AS BIGINT) AS n_kept,
         |       round(CAST(coalesce(sdx.n_pruned, 0) AS DOUBLE) / sdn.n, 6) AS prune_rate
         |FROM (SELECT cl, CAST(count(*) AS BIGINT) AS n FROM k${k}_sdv GROUP BY 1) sdn
         |LEFT JOIN (SELECT cl, CAST(count(DISTINCT victim) AS BIGINT) AS n_pruned
         |           FROM k${k}_sdp GROUP BY 1) sdx ON sdx.cl = sdn.cl, sel
         |WHERE sel.k = $k""".stripMargin
    }
    s"""WITH ${chains.mkString(",\n")},
       |$sel
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY cluster""".stripMargin
  }

  /** [[splitBySemCluster]] replay: the shared stage-chain + cell-vector
    * prefix, exact brute within-cell pairs, recursive-CTE connected
    * components (min-root, the q_split_by_cluster shape), the
    * cluster-root hash split, and the recomputed off-diagonal re-audit. */
  def splitBySemClusterOracleSql(k: Int, iters: Int, dim: Int,
      tau: Double): String =
    s"""WITH RECURSIVE ${semDedupCellsSql(k, iters, dim, tau)},
       |sdpair AS MATERIALIZED (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |        FROM sdv x JOIN sdv y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |        WHERE round(list_cosine_similarity(x.vd, y.vd), 6) >= $tau),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM sdpair
       |          UNION SELECT vec_b, vec_a FROM sdpair),
       |reach(v, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
       |cc AS (SELECT v AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
       |asn AS (SELECT s.vec_id AS vec_id, cc.cluster_id AS cluster_id,
       |               CASE WHEN ${PortableHash.keyHashSql("coalesce(cc.cluster_id, s.vec_id)")} % 100 < 90 THEN 'train'
       |                    WHEN ${PortableHash.keyHashSql("coalesce(cc.cluster_id, s.vec_id)")} % 100 < 95 THEN 'val'
       |                    ELSE 'test' END AS split
       |        FROM sdv s LEFT JOIN cc ON cc.vec_id = s.vec_id),
       |lk AS (SELECT CAST(coalesce(sum(CASE WHEN xa.split != xb.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_offdiag
       |       FROM sdpair p JOIN asn xa ON xa.vec_id = p.vec_a
       |                     JOIN asn xb ON xb.vec_id = p.vec_b)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(count(cluster_id) AS BIGINT) AS n_clustered_vecs,
       |       (SELECT n_offdiag FROM lk) = 0 AS leak_free
       |FROM asn GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[graft.operators.Graph.labelPropagation]] over the within-cell
    * near-dup pairs, replayed: the shared stage-chain + cell-vector
    * prefix, exact brute pairs, then `lpaIters` UNROLLED synchronous
    * rounds (count per (node, neighbor label) → max count → min label,
    * isolated nodes keep theirs — the exact deterministic update the
    * Spark loop runs on integers), and the ≥2-member community rollup. */
  private def lpaChainSql(k: Int, iters: Int, dim: Int, tau: Double,
      lpaIters: Int): String = {
    val rounds = (1 to lpaIters).map { t =>
      s"""c$t AS (SELECT e.a AS v, l.lbl AS lbl, count(*) AS cnt
         |        FROM edges e JOIN it${t - 1} l ON l.v = e.b GROUP BY 1, 2),
         |m$t AS (SELECT v, lbl, cnt, max(cnt) OVER (PARTITION BY v) AS mc FROM c$t),
         |b$t AS (SELECT v, min(lbl) AS best FROM m$t WHERE cnt = mc GROUP BY 1),
         |it$t AS (SELECT i.v, coalesce(b$t.best, i.lbl) AS lbl
         |         FROM it${t - 1} i LEFT JOIN b$t ON b$t.v = i.v)""".stripMargin
    }
    s"""${semDedupCellsSql(k, iters, dim, tau)},
       |sdpair AS MATERIALIZED (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |        FROM sdv x JOIN sdv y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |        WHERE round(list_cosine_similarity(x.vd, y.vd), 6) >= $tau),
       |edges AS (SELECT vec_a AS a, vec_b AS b FROM sdpair
       |          UNION ALL SELECT vec_b, vec_a FROM sdpair),
       |it0 AS (SELECT vec_id AS v, vec_id AS lbl FROM sdv),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  def labelPropOracleSql(k: Int, iters: Int, dim: Int, tau: Double,
      lpaIters: Int): String =
    s"""WITH ${lpaChainSql(k, iters, dim, tau, lpaIters)}
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM it$lpaIters GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin

  /** [[graft.operators.Graph.modularity]] over the LPA labeling,
    * replayed: the LPA chain, then the exact-integer numerator
    * Σ_c (4·m·m_c − d_c²) in DECIMAL and one final double division. */
  def modularityOracleSql(k: Int, iters: Int, dim: Int, tau: Double,
      lpaIters: Int): String =
    s"""WITH ${lpaChainSql(k, iters, dim, tau, lpaIters)},
       |deg AS (SELECT a AS v, count(*) AS d FROM edges GROUP BY 1),
       |dsumm AS (SELECT l.lbl, CAST(sum(d.d) AS DECIMAL(18,0)) AS dc
       |          FROM it$lpaIters l JOIN deg d ON d.v = l.v GROUP BY 1),
       |minn AS (SELECT x.lbl, CAST(count(*) AS DECIMAL(18,0)) AS mc
       |         FROM sdpair p JOIN it$lpaIters x ON x.v = p.vec_a
       |                       JOIN it$lpaIters y ON y.v = p.vec_b
       |         WHERE y.lbl = x.lbl GROUP BY 1),
       |mt AS (SELECT CAST(count(*) AS DECIMAL(18,0)) AS m FROM sdpair),
       |co AS (SELECT CAST(sum(CAST(4 AS DECIMAL(18,0)) * mt.m
       |                        * coalesce(minn.mc, CAST(0 AS DECIMAL(18,0)))
       |                      - dsumm.dc * dsumm.dc) AS DECIMAL(38,0)) AS q_num,
       |              max(mt.m) AS m
       |       FROM dsumm LEFT JOIN minn ON minn.lbl = dsumm.lbl, mt),
       |nc AS (SELECT count(DISTINCT lbl) AS n_communities FROM it$lpaIters)
       |SELECT nc.n_communities, CAST(co.m AS BIGINT) AS m_edges,
       |       CAST(co.q_num AS BIGINT) AS q_num,
       |       round(CAST(co.q_num AS DOUBLE)
       |             / (CAST(4.0 AS DOUBLE) * CAST(co.m AS DOUBLE) * CAST(co.m AS DOUBLE)), 6)
       |         AS modularity
       |FROM co, nc""".stripMargin

  /** One mutual-best merge round of
    * [[graft.operators.Graph.refineCommunities]] as a CTE chain: reads
    * labeling `src`, emits labeling `dst`, namespaced by `pfx`. `deg`
    * and `mt` (round-invariant) must already be in scope. */
  private def refineRoundSql(src: String, pfx: String, dst: String): String =
    s"""${pfx}cdeg AS (SELECT l.lbl AS c, CAST(sum(d.d) AS DECIMAL(18,0)) AS dc
       |         FROM $src l JOIN deg d ON d.v = l.v GROUP BY 1),
       |${pfx}cw AS (SELECT least(x.lbl, y.lbl) AS c1, greatest(x.lbl, y.lbl) AS c2,
       |              CAST(count(*) AS DECIMAL(18,0)) AS w
       |       FROM sdpair p JOIN $src x ON x.v = p.vec_a
       |                     JOIN $src y ON y.v = p.vec_b
       |       WHERE x.lbl != y.lbl GROUP BY 1, 2),
       |${pfx}gains AS (
       |  SELECT cw.c1 AS c1, cw.c2 AS c2,
       |         CAST(4 AS DECIMAL(18,0)) * mt.m * cw.w
       |           - CAST(2 AS DECIMAL(18,0)) * d1.dc * d2.dc AS gain
       |  FROM ${pfx}cw cw JOIN ${pfx}cdeg d1 ON d1.c = cw.c1
       |          JOIN ${pfx}cdeg d2 ON d2.c = cw.c2, mt),
       |${pfx}pos AS (SELECT * FROM ${pfx}gains WHERE gain > 0),
       |${pfx}dir AS (SELECT c1 AS c, c2 AS p, gain FROM ${pfx}pos
       |        UNION ALL SELECT c2, c1, gain FROM ${pfx}pos),
       |${pfx}mx AS (SELECT c, p, gain, max(gain) OVER (PARTITION BY c) AS mg
       |       FROM ${pfx}dir),
       |${pfx}best AS (SELECT c, min(p) AS p FROM ${pfx}mx WHERE gain = mg GROUP BY 1),
       |${pfx}mutual AS (SELECT x.p AS absorbed, x.c AS root
       |           FROM ${pfx}best x JOIN ${pfx}best y ON x.p = y.c AND y.p = x.c
       |           WHERE x.c < x.p),
       |$dst AS MATERIALIZED (SELECT i.v AS v, coalesce(mu.root, i.lbl) AS lbl
       |        FROM $src i LEFT JOIN ${pfx}mutual mu ON mu.absorbed = i.lbl)""".stripMargin

  /** [[graft.operators.Graph.refineCommunities]] iterated `rounds`
    * times over the LPA labeling, replayed end-to-end: the LPA chain,
    * then one [[refineRoundSql]] chain per round (exact integer gains,
    * mutual-best matching, relabel), then BOTH modularity numerators —
    * everything up to the two final divisions is integer/decimal
    * arithmetic, so the row is hash-exact including the refined score.
    * `rounds = 1` is `q_louvain_refine`'s oracle. */
  def louvainRefineOracleSql(k: Int, iters: Int, dim: Int, tau: Double,
      lpaIters: Int, rounds: Int = 1, convergedCol: Boolean = false): String = {
    require(rounds >= 1, s"louvainRefineOracleSql: rounds=$rounds")
    val it = s"it$lpaIters"
    def qSide(lblTable: String, ns: String): String =
      s"""${ns}ds AS (SELECT l.lbl, CAST(sum(d.d) AS DECIMAL(18,0)) AS dc
         |        FROM $lblTable l JOIN deg d ON d.v = l.v GROUP BY 1),
         |${ns}mi AS (SELECT x.lbl, CAST(count(*) AS DECIMAL(18,0)) AS mc
         |        FROM sdpair p JOIN $lblTable x ON x.v = p.vec_a
         |                      JOIN $lblTable y ON y.v = p.vec_b
         |        WHERE y.lbl = x.lbl GROUP BY 1),
         |${ns}co AS (SELECT CAST(sum(CAST(4 AS DECIMAL(18,0)) * mt.m
         |                         * coalesce(${ns}mi.mc, CAST(0 AS DECIMAL(18,0)))
         |                       - ${ns}ds.dc * ${ns}ds.dc) AS DECIMAL(38,0)) AS q_num
         |        FROM ${ns}ds LEFT JOIN ${ns}mi ON ${ns}mi.lbl = ${ns}ds.lbl, mt),
         |${ns}nc AS (SELECT count(DISTINCT lbl) AS n FROM $lblTable)""".stripMargin
    val roundChains = (1 to rounds).map { r =>
      refineRoundSql(if (r == 1) "ref0" else s"ref${r - 1}", s"r${r}_", s"ref$r")
    }
    // fixed-point certificate: ONE MORE gains chain under the final
    // labeling (refineRoundSql reused; its unreferenced relabel CTE is
    // never evaluated) — converged ⇔ zero positive-gain pairs
    val convChain = if (convergedCol)
      s",\n${refineRoundSql(s"ref$rounds", "cv_", s"ref${rounds + 1}")}" +
        ",\nconv AS (SELECT (count(*) = 0) AS converged FROM cv_pos)"
    else ""
    s"""WITH ${lpaChainSql(k, iters, dim, tau, lpaIters)},
       |deg AS (SELECT a AS v, count(*) AS d FROM edges GROUP BY 1),
       |mt AS (SELECT CAST(count(*) AS DECIMAL(18,0)) AS m FROM sdpair),
       |ref0 AS MATERIALIZED (SELECT v, lbl FROM $it),
       |${roundChains.mkString(",\n")},
       |${qSide("ref0", "l_")},
       |${qSide(s"ref$rounds", "r_")}$convChain
       |SELECT CAST(mt.m AS BIGINT) AS m_edges,
       |       l_nc.n AS n_comm_lpa,
       |       CAST(l_co.q_num AS BIGINT) AS q_num_lpa,
       |       round(CAST(l_co.q_num AS DOUBLE)
       |             / (CAST(4.0 AS DOUBLE) * CAST(mt.m AS DOUBLE) * CAST(mt.m AS DOUBLE)), 6)
       |         AS modularity_lpa,
       |       r_nc.n AS n_comm_refined,
       |       CAST(r_co.q_num AS BIGINT) AS q_num_refined,
       |       round(CAST(r_co.q_num AS DOUBLE)
       |             / (CAST(4.0 AS DOUBLE) * CAST(mt.m AS DOUBLE) * CAST(mt.m AS DOUBLE)), 6)
       |         AS modularity_refined,
       |       (r_co.q_num > l_co.q_num) AS improved${
          if (convergedCol) ",\n       conv.converged AS converged" else ""}
       |FROM mt, l_co, l_nc, r_co, r_nc${if (convergedCol) ", conv" else ""}""".stripMargin
  }

  def sampleOracleSql(k: Int, iters: Int, dim: Int, quota: Int): String =
    s"""WITH ${stagesSql(k, iters, dim)}
       |SELECT cluster, vec_id FROM (
       |  SELECT CAST(a.cl AS INT) AS cluster, a.vec_id AS vec_id,
       |         row_number() OVER (PARTITION BY a.cl
       |           ORDER BY ${PortableHash.keyHashSql("a.vec_id")} DESC, a.vec_id) AS rn
       |  FROM af a)
       |WHERE rn <= $quota ORDER BY cluster, vec_id""".stripMargin
}
