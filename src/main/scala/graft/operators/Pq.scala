package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Product quantization (Jégou et al. 2011, "Product quantization for
  * nearest neighbor search" — the FAISS `PQm` building block): split each
  * d-dim vector into `m` subvectors of d/m dims, k-means each subspace to
  * `ksub` centroids, and store per vector only the `m` centroid indices.
  *
  * Scale shape: a 64-dim float vector (256 B) compresses to m=8 single-byte
  * codes (8 B) — 32× — which is what makes exhaustive candidate scoring
  * feasible at 100 TB: the corpus-resident search structure is codes, not
  * floats. Search is ADC (asymmetric distance computation): the QUERY stays
  * full-precision; each subspace's dot products against all `ksub`
  * centroids are computed ONCE per query into a lookup table, after which
  * scoring a corpus vector is `m` table lookups — no float math touches
  * corpus rows at all. Training is the same bounded-driver-sample
  * discipline as [[IvfIndex]] (k-means needs O(ksub) examples per
  * subspace, independent of corpus size); encoding is one distributed
  * codegen pass against centroid literals.
  *
  * Reference scope: the reference engine has no ANN surface; this extends
  * the §7.4 similarity stack (brute-force / LSH / IVF) with the
  * compressed-domain tier every production vector store ships.
  */
object Pq {

  /** `centroids(j)(c)` = subspace j's centroid c (d/m doubles).
    * Reconstruction norms are precomputed at ENCODE time (`recon_nrm`
    * rides the encoded table), so the codebook carries no derived state. */
  final case class Codebook(
      m: Int,
      dsub: Int,
      centroids: Array[Array[Array[Double]]])

  /** Train per-subspace k-means codebooks on a deterministic bounded
    * hash-sample (≤ `trainCap` vectors collected to the driver — the
    * published PQ training recipe; cost independent of corpus size). */
  def train(
      spark: SparkSession,
      embeddings: DataFrame,
      dims: Int,
      m: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L,
      trainCap: Int = 16384,
      maxIter: Int = 10,
      tol: Double = 1e-4): Codebook = {
    require(m >= 1 && dims % m == 0, s"Pq.train: m=$m must divide dims=$dims")
    val dsub = dims / m
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val total = base.count()
    val picked =
      if (total <= trainCap) base
      else {
        val mod = 1000003L
        val base_ = (trainCap.toLong * mod) / total
        val thresh = math.max(1L, base_ + math.max(1L, base_ / 20))
        base.filter(pmod(xxhash64(col("vec_id")), lit(mod)) < lit(thresh))
      }
    val sample: Array[Array[Double]] = picked
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
    sample.foreach(v => require(v.length == dims,
      s"Pq.train: expected $dims-dim embeddings, got ${v.length}"))

    val cents = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // per-subspace seed keeps subquantizers independent but deterministic
      IvfIndex.lloyd(sub, ksub, seed + j, maxIter, tol)
    }
    Codebook(m, dsub, cents)
  }

  /** Encode: one distributed pass through the native [[graft.functions.PqEncode]]
    * kernel (the codebook ships inside the serialized expression — the
    * expression-level analog of a broadcast model). Output per vector:
    * `code` (m small ints — the at-rest representation) and `recon_nrm`
    * (‖reconstruction‖, precomputed alongside the code so cosine ADC never
    * touches corpus floats). */
  def encode(embeddings: DataFrame, cb: Codebook): DataFrame =
    embeddings
      .select(col("vec_id"),
        graft.functions.PqExpressions.pqEncode(col("embedding"), cb.centroids).as("pq"))
      .select(col("vec_id"), col("pq.code").as("code"), col("pq.recon_nrm").as("recon_nrm"))

  /** ADC search: for each (bounded) query, build the m × ksub lookup table
    * of subspace dot products ONCE on the driver, inline all queries' LUTs
    * as literals, and score every encoded corpus vector with m table
    * lookups — the corpus side of the plan reads only (vec_id, code,
    * recon_nrm). Estimated cosine = Σⱼ LUT[j][codeⱼ] / (‖q‖·‖recon‖);
    * top-k per query via the bounded-heap aggregate. The driver-side
    * query collect is the same bounded-|Q| contract as
    * [[Similarity.bruteForceKnn]]'s broadcast side. `maxQueries` is an
    * UPPER bound, not a guarantee: the effective admission cap is
    * min(maxQueries, [[LutByteBudget]] / LUT bytes-per-query), so a fat
    * codebook (large m × ksub) admits fewer queries than the default
    * 65536 and fails loudly past the cap. */
  def adcSearch(
      encoded: DataFrame,
      cb: Codebook,
      queries: DataFrame,
      k: Int,
      maxQueries: Int = 65536): DataFrame = {
    val qRows = collectBoundedQueries(queries, maxQueries,
      cb.m.toLong * cb.centroids(0).length * 8, "Pq.adcSearch")
    qRows.foreach { case (_, q) => require(q.length == cb.m * cb.dsub,
      s"Pq.adcSearch: expected ${cb.m * cb.dsub}-dim queries, got ${q.length}") }

    val luts = qRows.map { case (qid, q) =>
      val qNrm = math.sqrt(q.map(v => v * v).sum)
      val lut: Array[Array[Double]] = Array.tabulate(cb.m) { j =>
        Array.tabulate(cb.centroids(j).length) { c =>
          val cent = cb.centroids(j)(c)
          var s = 0.0
          var t = 0
          while (t < cb.dsub) { s += q(j * cb.dsub + t) * cent(t); t += 1 }
          s
        }
      }
      (qid, qNrm, lut)
    }

    Similarity.rankTopK(
      encoded
        .select(col("vec_id").as("neighbor_id"),
          graft.functions.PqExpressions
            .pqAdcScores(col("code"), col("recon_nrm"), luts).as(Seq("query_id", "cosine")))
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k)
  }

  /** Serialized-LUT byte budget for the driver-resident ADC paths. The
    * real failure mode of a large query set is not the collect itself but
    * the m × ksub LUT each query ships inside the serialized scoring
    * expression — |Q|·m·ksub·8 bytes per TASK — so the admission cap is
    * priced in LUT bytes, not row count. 64 MB ⇒ 65536 queries at the
    * default m=8 × ksub=16, shrinking automatically for fatter codebooks.
    * Beyond it, use [[ivfPqSearchBatch]] — the query side stays a table. */
  val LutByteBudget: Long = 64L << 20

  /** The query side of ADC search is driver-resident (per-query LUTs ship
    * as expression state), so it must be BOUNDED — the same contract as
    * [[Similarity.bruteForceKnn]]'s broadcast side, enforced loudly here
    * instead of surfacing as a driver (or task-deserialization) OOM:
    * `limit(cap+1)` caps the collect itself, so even a mistakenly-
    * unbounded query set moves at most cap+1 rows, and the cap is
    * min(maxQueries, [[LutByteBudget]] / lutBytesPerQuery). */
  private def collectBoundedQueries(
      queries: DataFrame, maxQueries: Int, lutBytesPerQuery: Long,
      who: String): Array[(Long, Array[Double])] = {
    val cap = math.min(maxQueries.toLong, LutByteBudget / math.max(1L, lutBytesPerQuery)).toInt
    val rows = queries.select(col("vec_id"), col("embedding"))
      .limit(cap + 1).collect()
    require(rows.nonEmpty, s"$who: empty query set")
    require(rows.length <= cap,
      s"$who: query set exceeds cap=$cap (maxQueries=$maxQueries, LUT byte " +
        s"budget ${LutByteBudget >> 20} MB at $lutBytesPerQuery B/query) — ADC " +
        "queries are driver-resident (per-query LUTs ride the serialized " +
        "expression); use the batched join-based search for query TABLES, " +
        "or batch the query set")
    rows.map(r => (r.getLong(0), r.getSeq[Float](1).iterator.map(_.toDouble).toArray))
  }

  /** IVF-PQ index: coarse cells + residual codes (the production web-scale
    * layout — at rest this table is WRITTEN partitioned by cell_id, so a
    * probe reads nProbe/nLists of the data AND only (code, recon_nrm)
    * bytes of it). */
  final case class IvfPqIndex(
      encoded: DataFrame,
      ivfCents: Array[Array[Double]],
      cb: Codebook)

  /** Build FAISS-style IVFPQ: coarse k-means cells from [[IvfIndex.build]],
    * then PQ codebooks trained on RESIDUALS x − centroid(cell) (residual
    * energy is much smaller than vector energy, so the same ksub budget
    * quantizes finer — the reason IVFPQ beats flat PQ at equal code size).
    * Training joins the bounded driver sample only; the corpus-scale work
    * is one assignment pass + one encode pass. */
  def buildIvfPq(
      spark: SparkSession,
      embeddings: DataFrame,
      dims: Int,
      nLists: Int = 16,
      m: Int = 8,
      ksub: Int = 16,
      seed: Long = 42L,
      trainCap: Int = 16384,
      maxIter: Int = 10,
      tol: Double = 1e-4,
      knownTotal: Option[Long] = None): IvfPqIndex = {
    require(m >= 1 && dims % m == 0, s"buildIvfPq: m=$m must divide dims=$dims")
    val dsub = dims / m

    // ONE bounded hash-sample pass feeds both trainings: coarse k-means,
    // then per-subspace residual codebooks (driver-side nearest-cell
    // assignment of the sample is trainCap × nLists × dims flops —
    // independent of corpus size). Callers that already counted the
    // corpus (e.g. for autoNLists) pass knownTotal to skip the rescan —
    // the IvfIndex.buildAuto convention.
    val base = embeddings.select(col("vec_id"), col("embedding"))
    val total = knownTotal.getOrElse(base.count())
    val picked =
      if (total <= trainCap) base
      else {
        val mod = 1000003L
        val base_ = (trainCap.toLong * mod) / total
        val thresh = math.max(1L, base_ + math.max(1L, base_ / 20))
        base.filter(pmod(xxhash64(col("vec_id")), lit(mod)) < lit(thresh))
      }
    val sample = picked.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)
    sample.foreach(v => require(v.length == dims,
      s"buildIvfPq: expected $dims-dim embeddings, got ${v.length}"))
    val ivfCents = IvfIndex.lloyd(sample, nLists, seed, maxIter, tol)
    val residuals = sample.map { v =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ivfCents.length) {
        val cent = ivfCents(c)
        var d = 0.0
        var t = 0
        while (t < dims) { val e = v(t) - cent(t); d += e * e; t += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cent = ivfCents(best)
      Array.tabulate(dims)(t => v(t) - cent(t))
    }
    val pqCents = Array.tabulate(m) { j =>
      val sub = residuals.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      IvfIndex.lloyd(sub, ksub, seed + j, maxIter, tol)
    }

    // one distributed pass: nearest coarse cell + residual encode
    IvfPqIndex(encodeIvfPqRows(base, ivfCents, pqCents),
      ivfCents, Codebook(m, dsub, pqCents))
  }

  /** The one-pass cell-assign + residual-encode projection — shared by the
    * bootstrap [[buildIvfPq]] and the incremental [[addToIvfPq]]. */
  private def encodeIvfPqRows(
      vectors: DataFrame,
      ivfCents: Array[Array[Double]],
      pqCents: Array[Array[Array[Double]]]): DataFrame =
    vectors
      .select(col("vec_id"),
        array_min(IvfIndex.cellDistances(col("embedding"), ivfCents))
          .getField("cell").as("cell_id"),
        col("embedding"))
      .select(col("vec_id"), col("cell_id"),
        graft.functions.PqExpressions
          .ivfPqEncode(col("embedding"), col("cell_id"), ivfCents, pqCents).as("pq"))
      .select(col("vec_id"), col("cell_id"),
        col("pq.code").as("code"), col("pq.recon_nrm").as("recon_nrm"))

  /** Incremental IVF-PQ add — the FAISS `add` path for the compressed
    * tier: assign + residual-encode a new batch under the EXISTING coarse
    * centroids and codebooks (both persisted model state, inlined as
    * literals), appending 16-byte-code rows into their cell partitions.
    * No retrain, no touch of the encoded corpus at rest; per-batch cost is
    * one codegen pass over the batch. Encoding is per-vector, so
    * add-then-search ≡ rebuild-under-the-same-model-then-search —
    * asserted by ScaleSpec (row equality) like [[IvfIndex.addToIndex]]. */
  /** The rebuild twin for parity checks: encode a whole corpus under an
    * EXISTING index's model (what a from-scratch rebuild with the same
    * centroids + codebooks would store). `q_ivfpq_incremental` asserts
    * [[addToIvfPq]]'s rows equal it exactly. */
  def rebuildEncoded(vectors: DataFrame, index: IvfPqIndex): DataFrame =
    encodeIvfPqRows(vectors.select(col("vec_id"), col("embedding")),
      index.ivfCents, index.cb.centroids)

  def addToIvfPq(index: IvfPqIndex, newVectors: DataFrame): IvfPqIndex =
    IvfPqIndex(
      index.encoded.unionByName(encodeIvfPqRows(
        newVectors.select(col("vec_id"), col("embedding")),
        index.ivfCents, index.cb.centroids)),
      index.ivfCents, index.cb)

  /** IVF-PQ ADC search: each (bounded, collected) query ranks the coarse
    * centroids on the driver and probes its `nProbe` best cells; one scan
    * of the encoded corpus — pre-filtered to the union of probed cells,
    * the predicate partition pruning eliminates at rest — scores each row
    * for the queries probing its cell via q·centroid(cell) + residual
    * LUT lookups. No join, no corpus floats. `maxQueries` is an UPPER
    * bound, not a guarantee — the effective cap is min(maxQueries,
    * [[LutByteBudget]] / LUT bytes-per-query); fatter codebooks admit
    * fewer queries and fail loudly past the cap (use [[ivfPqSearchBatch]]
    * for query TABLES). */
  def ivfPqSearch(
      index: IvfPqIndex,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      maxQueries: Int = 65536): DataFrame = {
    val cb = index.cb
    val dims = cb.m * cb.dsub
    val nLists = index.ivfCents.length
    require(nProbe >= 1 && nProbe <= nLists,
      s"ivfPqSearch: nProbe must be in [1, $nLists], got $nProbe")
    // per-query serialized state: the residual LUT plus the per-cell dot
    // table and probe bitmask
    val qRows = collectBoundedQueries(queries, maxQueries,
      cb.m.toLong * cb.centroids(0).length * 8 + nLists.toLong * 9, "ivfPqSearch")

    val perQuery = qRows.map { case (qid, q) =>
      require(q.length == dims, s"ivfPqSearch: expected $dims-dim queries, got ${q.length}")
      val qNrm = math.sqrt(q.map(v => v * v).sum)
      val centDot = index.ivfCents.map { cent =>
        var s = 0.0
        var t = 0
        while (t < dims) { s += q(t) * cent(t); t += 1 }
        s
      }
      // probe the nProbe cells with the highest query–centroid cosine
      // (centroid norms are per-cell constants; ties to the lower cell id)
      val centNrm = index.ivfCents.map(c => math.sqrt(c.map(v => v * v).sum))
      val probedCells = centDot.zipWithIndex
        .map { case (s, i) => (if (centNrm(i) == 0.0) 0.0 else s / centNrm(i), i) }
        .sortBy { case (sim, i) => (-sim, i) }
        .take(nProbe).map(_._2)
      val probed = new Array[Boolean](nLists)
      probedCells.foreach(probed(_) = true)
      val lut: Array[Array[Double]] = Array.tabulate(cb.m) { j =>
        Array.tabulate(cb.centroids(j).length) { c =>
          val cent = cb.centroids(j)(c)
          var s = 0.0
          var t = 0
          while (t < cb.dsub) { s += q(j * cb.dsub + t) * cent(t); t += 1 }
          s
        }
      }
      (qid, qNrm, probed, centDot, lut)
    }

    val allProbed = perQuery.flatMap { case (_, _, probed, _, _) =>
      probed.zipWithIndex.collect { case (true, i) => i }
    }.distinct.sorted

    Similarity.rankTopK(
      index.encoded
        // prunable predicate: at rest (partitioned by cell_id) this is
        // the partition-pruning filter; in-plan it still cuts the scan
        .filter(col("cell_id").isin(allProbed.map(Integer.valueOf).toIndexedSeq: _*))
        .select(col("vec_id").as("neighbor_id"),
          graft.functions.PqExpressions
            .ivfPqAdcScores(col("cell_id"), col("code"), col("recon_nrm"), perQuery)
            .as(Seq("query_id", "cosine")))
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k)
  }

  /** BATCHED IVF-PQ ADC search — the query side is a TABLE, never driver
    * state. This is the 100 TB shape when the "queries" are themselves a
    * corpus (joining two embedding stores, nightly re-ranking, dedup of a
    * new crawl against an index): [[ivfPqSearch]]'s per-query driver
    * planning caps out at [[LutByteBudget]], while here
    *
    *   1. each query row plans ITSELF map-side — probe cells, q·centroid
    *      dots, and the m × ksub residual LUT come out of the
    *      [[graft.functions.IvfPqQueryProbes]] generator (the codebook
    *      ships once inside the expression, not once per query);
    *   2. queries shuffle by probed `cell_id` into a plain EQUI-join with
    *      the cell-partitioned codes — hash join, partition-prunable at
    *      rest, no nested loop, no collect;
    *   3. scoring reads only (code, recon_nrm) per corpus row via
    *      [[graft.functions.PqLutScore]]; per-query top-k via the bounded
    *      heap.
    *
    * Each corpus vector lives in exactly one cell and a query's probes are
    * distinct cells, so (query, neighbor) pairs are unique by construction
    * — no dedup stage. Results are row-identical to [[ivfPqSearch]] for
    * the same index and nProbe (same probe ranking, same arithmetic, same
    * rounding); the contract's `q_embed_knn_pq_batch` asserts exactly that
    * in-plan. The LUT (~m·ksub·8 B) rides the shuffle nProbe times per
    * query — at m=8 × ksub=16 that is 1 KB × nProbe, small against the
    * embedding it replaces. */
  def ivfPqSearchBatch(
      index: IvfPqIndex,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val cb = index.cb
    val nLists = index.ivfCents.length
    require(nProbe >= 1 && nProbe <= nLists,
      s"ivfPqSearchBatch: nProbe must be in [1, $nLists], got $nProbe")
    // Slim probes + the 256 B embedding cross the cell exchange; the ~8 KB
    // flat LUT is built POST-exchange, once per probe row (the repartition
    // pins the exchange BELOW the projection and already satisfies the
    // join's required distribution, so the LUT never rides a shuffle —
    // materializing it pre-exchange measured ~30× the probe-side bytes).
    val qplan = queries
      .select(col("vec_id").as("query_id"), col("embedding"),
        graft.functions.PqExpressions
          .ivfPqQueryProbes(col("embedding"), index.ivfCents, cb.centroids, nProbe)
          .as(Seq("cell_id", "cent_dot", "q_nrm")))
      .repartition(col("cell_id"))
      .withColumn("lut",
        graft.functions.PqExpressions.pqQueryLut(col("embedding"), cb.centroids))
      .drop("embedding")
    // SHUFFLE_HASH pinned on the code side: the optimizer's size
    // estimate cannot see the post-exchange LUT bytes, so left to stats
    // it BROADCASTS the fat probe side — measured fatal at a synthetic
    // 10× sf0.1 (1.1 GiB of collected task results > maxResultSize;
    // round 13). The hint makes the cell equi-join build its
    // per-partition hash from the 16-byte codes — the side that is
    // bounded per cell by design — and the probe side streams.
    Similarity.rankTopK(
      qplan.join(index.encoded.hint("shuffle_hash"), Seq("cell_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(graft.functions.PqExpressions.pqLutScore(
            col("code"), col("lut"), col("cent_dot"), col("recon_nrm"), col("q_nrm")), 6)
            .as("cosine"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k)
  }

  /** IVF-PQ hard-negative mining — the compressed-tier scale path of
    * [[IvfIndex.hardNegativesIvf]]: same unbounded-|Q| shape (each query
    * plans ITSELF map-side via the [[graft.functions.IvfPqQueryProbes]]
    * generator, probes ⋈ cell members on a plain `cell_id` equi-join —
    * NEITHER big side broadcast; with |Q| ≈ |corpus| in self-mining
    * there is nothing small), but in-cell scoring is ADC: m LUT lookups
    * per candidate against the 16-byte code instead of a d-dim float dot
    * product — the corpus side of the join moves `(vec_id, code,
    * recon_nrm)`, never embeddings, which at 100 TB is the difference
    * between shuffling codes and shuffling the corpus. The label-mismatch
    * predicate prunes pairs before any scoring; bounded-heap top-k ships
    * ≤ k rows per (query, task); neighbor labels rejoin on the bounded
    * |Q|·k result. Doubly approximate — IVF probe recall AND PQ score
    * quantization reorder the boundary — which is the accepted trade for
    * mining (negatives need to be HARD, not exactly ranked); the
    * contract query pins recall against the exact brute-force twin. */
  def hardNegativesIvfPq(
      index: IvfPqIndex, labels: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame =
    withNeighborLabels(adcMinedTopK(index, labels, queries, k, nProbe), labels)

  /** The ADC mining core shared by [[hardNegativesIvfPq]] and
    * [[hardNegativesIvfPqRerank]]: bounded-heap top-k over the cell-keyed
    * code-sided scoring join → (query_id, neighbor_id, cosine, rank). */
  private def adcMinedTopK(
      index: IvfPqIndex, labels: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val cb = index.cb
    val nLists = index.ivfCents.length
    require(nProbe >= 1 && nProbe <= nLists,
      s"hardNegativesIvfPq: nProbe must be in [1, $nLists], got $nProbe")
    // same post-exchange LUT discipline as [[ivfPqSearchBatch]]: slim
    // probes + embedding shuffle; the fat LUT exists only after the wire
    val qplan = queries
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding"),
        graft.functions.PqExpressions
          .ivfPqQueryProbes(col("embedding"), index.ivfCents, cb.centroids, nProbe)
          .as(Seq("cell_id", "cent_dot", "q_nrm")))
      .repartition(col("cell_id"))
      .withColumn("lut",
        graft.functions.PqExpressions.pqQueryLut(col("embedding"), cb.centroids))
      .drop("embedding")
    // labels are corpus-scale (one row per vector), not a small dim:
    // pin the id equi-join so neither side is ever broadcast
    val corpus = index.encoded.hint("shuffle_hash")
      .join(labels.select(col("vec_id"), col("label").as("c_label")), Seq("vec_id"))
    // same SHUFFLE_HASH pin as [[ivfPqSearchBatch]]: self-mining |Q| ≈
    // |corpus|, the LUT-fattened probe side must never be broadcast
    Similarity.rankTopK(
      qplan.join(corpus.hint("shuffle_hash"), Seq("cell_id"))
        .filter(col("query_id") =!= col("vec_id") &&
          col("q_label") =!= col("c_label"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(graft.functions.PqExpressions.pqLutScore(
            col("code"), col("lut"), col("cent_dot"), col("recon_nrm"), col("q_nrm")), 6)
            .as("cosine")),
      k)
  }

  private def withNeighborLabels(mined: DataFrame, labels: DataFrame): DataFrame =
    mined.hint("shuffle_hash") // |Q|·k result ⋈ corpus-scale labels
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** [[hardNegativesIvfPq]] + exact rerank — the production two-tier
    * mining shape (the [[Similarity.rerankExact]] pattern at unbounded
    * |Q|): ADC proposes `kShort` candidates per query through the
    * code-sided cell join (the expensive stage — embeddings never ride
    * it), then ONLY the bounded |Q|·kShort shortlist is rescored at full
    * float precision and the final top-k is exact over the shortlist.
    * Final quality is bounded by shortlist recall@kShort (≫ the ADC
    * ordering's recall@k — PQ's score quantization mostly reorders
    * LOCALLY, so the true top-k almost always sits inside a modest
    * shortlist) while full-precision work stays |Q|·kShort, independent
    * of corpus size.
    *
    * Scale shape: unlike [[Similarity.rerankExact]] (which broadcasts a
    * bounded query set), self-mining has |Q| ≈ |corpus|, so BOTH
    * embedding rejoins are plain hash equi-joins on vector id — the
    * shortlist (k ≤ kShort rows per query) exchanges against the corpus
    * scan, nothing unbounded is broadcast, nothing quadratic exists
    * anywhere. `corpus` supplies (vec_id, embedding) for the neighbor
    * side — the encoded index intentionally does not retain raw
    * embeddings (that is the point of PQ at rest). */
  def hardNegativesIvfPqRerank(
      index: IvfPqIndex, labels: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, kShort: Int = 32, nProbe: Int = 4): DataFrame = {
    require(kShort >= k,
      s"hardNegativesIvfPqRerank: kShort ($kShort) must be >= k ($k)")
    val short = adcMinedTopK(index, labels, queries, kShort, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    val ce = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    // both rejoin keys are corpus-scale in self-mining (shortlist =
    // |Q|·kShort rows, qe/ce = corpus embeddings): pin SHUFFLE_HASH so
    // a small-side estimate can never broadcast any of them
    val rescored = short.hint("shuffle_hash")
      .join(ce, Seq("neighbor_id"))
      .join(qe.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dotProduct(col("q_emb"), col("c_emb"))
          / (col("q_nrm") * col("c_nrm")), 6).as("cosine"))
    withNeighborLabels(Similarity.rankTopK(rescored, k), labels)
  }
}
