package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.functions.TopKBy.topKBy

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceKnn]] — exact cosine top-k of a bounded *query* set against
  *    the full candidate corpus. The query side is broadcast; candidates
  *    stream through in one pass, so cost is |Q|·|C| with |Q| small. This is
  *    the correctness baseline and is DuckDB-oracle-checkable.
  *  - [[lshKnn]] — random-hyperplane LSH: sign-pattern buckets prune the
  *    candidate set, exact cosine re-ranks inside the probed buckets. The
  *    scale path: at 100 TB the bucket join replaces the |Q|·|C| product.
  *
  * Hyperplanes are derived deterministically from a splitmix64 stream, so
  * results are reproducible with no RNG state and identical across
  * executors.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query vector.
    * Ranking uses the similarity rounded to 6 decimals with the neighbor id
    * as tie-break, which makes the result order-stable across engines
    * (float last-bit noise cannot reorder). */
  def bruteForceKnn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      l2Norm(col("embedding")).as("q_nrm"))
    val c = candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism)
      .select(
        col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        l2Norm(col("embedding")).as("c_nrm"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** kNN label-noise audit (the Wilson-editing / confident-learning
    * screen, Northcutt et al. 2021 simplified to neighborhood
    * disagreement): a labeled point whose nearest neighbors
    * overwhelmingly carry a DIFFERENT label is either mislabeled or an
    * outlier — either way it does not belong in supervised training
    * untouched. For each probe vector: top-k cosine neighbors
    * ([[bruteForceKnn]]'s bounded-broadcast shape), neighbor labels
    * joined on the BOUNDED |Q|·k result, per-probe disagreement =
    * mislabeled-neighbor fraction, suspect = strict majority (exact
    * integer compare mis·2 > k). Rolled up per label: which CLASS is
    * noisy. Probes are a deterministic portable-hash sample — audit
    * cost is |Q|·|corpus| dots with |Q| a fixed budget, and at scale
    * the same fold rides the IVF/LSH probed buckets instead. */
  def labelNoiseKnn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    labelNoiseRollup(labelNoisePerQuery(queries, candidates, k))

  /** Per-query disagreement fold over an exact brute-force kNN:
    * (query_id, q_label, kk, mis, suspect) — suspect = strict integer
    * majority of mismatched neighbor labels. Exposed so the IVF-probed
    * scale tier ([[IvfIndex.labelNoiseIvf]]) can compare suspect flags
    * against this exact twin in-plan. */
  def labelNoisePerQuery(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val knn = bruteForceKnn(queries, candidates, k)
    val ql = queries.select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val nl = candidates.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
    knn.join(broadcast(ql), "query_id")
      .join(nl, "neighbor_id") // |Q|·k left side — never a corpus broadcast
      .groupBy(col("query_id"), col("q_label"))
      .agg(count(lit(1)).as("kk"),
        sum(when(col("n_label") =!= col("q_label"), 1L).otherwise(0L)).as("mis"))
      .withColumn("suspect", col("mis") * 2L > col("kk"))
  }

  /** The per-label rollup shared by the exact and IVF-probed audits. */
  def labelNoiseRollup(perQuery: DataFrame): DataFrame =
    perQuery
      .groupBy(col("q_label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("mis") * 2L > col("kk"), 1L).otherwise(0L)).as("n_suspect"),
        sum(col("mis")).as("__mis"), sum(col("kk")).as("__kk"))
      .select(col("label"), col("n_checked"), col("n_suspect"),
        round(col("__mis").cast(org.apache.spark.sql.types.DoubleType) /
          col("__kk"), 6).as("disagreement"))
      .orderBy(col("label"))

  /** Hard-negative mining for contrastive training (Schroff et al. 2015
    * FaceNet; the standard retrieval-training data op): for each query
    * vector, the top-k most-similar candidates with a DIFFERENT label —
    * the negatives nearest the decision boundary, which carry the most
    * gradient signal. Same bounded-broadcast shape as [[bruteForceKnn]]
    * with the label-mismatch predicate folded into the join condition
    * (evaluated before any scoring work), then the bounded-heap top-k;
    * neighbor labels rejoin on the BOUNDED |Q|·k result, never as a
    * corpus-wide broadcast. At scale the same mismatch fold drops into
    * [[lshKnn]]/IVF probing — score only mismatched pairs inside probed
    * buckets. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    val c = candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism)
      .select(
        col("vec_id").as("neighbor_id"), col("label").as("c_label"),
        col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("c_label"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
          .as("cosine"))
    rankTopK(scored, k)
      .join(candidates.select(col("vec_id").as("neighbor_id"), col("label").as("neighbor_label")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Reciprocal-rank fusion (RRF; Cormack, Clarke & Buettcher, SIGIR 2009)
    * of a lexical BM25 ranking and a semantic embedding-cosine ranking —
    * the standard hybrid-retrieval combiner: each list contributes
    * `1/(kRrf + rank)` to a document's fused score, so agreement between
    * retrievers dominates either one's raw score scale (no score
    * normalization needed — exactly why RRF is the production default).
    *
    * Scale shape: both inputs are already top-N truncated (BM25's
    * TakeOrdered limit; the kNN bounded heap), so the rank windows and the
    * full-outer fusion join run over ≤ 2·topN rows — bounded by
    * construction however large the corpus. Score arithmetic is a fixed
    * chain over exact integer ranks → bit-portable.
    *
    * Assumes `embeddings.vec_id` identifies the same documents as
    * `documents.doc_id` (the embedding of doc i). The query document
    * itself is excluded on the semantic side ([[bruteForceKnn]] skips
    * self-matches) but may appear via the lexical side. */
  def hybridRrf(
      documents: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVecId: Long,
      kRrf: Int = 60, topN: Int = 15, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25Rank(documents, queryTerms, topK = topN)
      // ≤ topN rows by construction — the global rank window is bounded
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val sem = bruteForceKnn(
        embeddings.filter(col("vec_id") === queryVecId), embeddings, k = topN)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("long").as("sem_rank"))
    lex.join(sem, Seq("doc_id"), "full")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("sem_rank").cast("double")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-query top-k via the bounded-heap [[graft.functions.TopKBy]]
    * aggregate: map-side partial heaps ship ≤ k entries per (query, task)
    * through the shuffle, where the `row_number` window form would shuffle
    * and sort EVERY scored row. Ordering (cosine DESC, neighbor_id ASC)
    * matches the window twin exactly, ties included. */
  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(topKBy(col("cosine"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("query_id"), col("rank"))

  /** Exact re-rank of an ANN shortlist — stage two of the production
    * retrieve-then-rerank pattern: a compressed-domain search (ADC, LSH,
    * IVF) proposes `k'` candidates per query, then ONLY those |Q|·k' pairs
    * are scored at full precision and the final top-k is exact over the
    * shortlist. Final ranking quality is bounded by shortlist recall@k'
    * (much higher than the compressed search's recall@k), while full-
    * precision float work stays |Q|·k' — independent of corpus size.
    *
    * Plan shape: the candidate list is |Q|·k' rows (bounded) → broadcast
    * to the corpus scan, so only shortlisted corpus rows survive the join
    * and nothing corpus-scale shuffles. */
  def rerankExact(
      candidates: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val cand = candidates.select(col("query_id"), col("neighbor_id"))
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      l2Norm(col("embedding")).as("q_nrm"))
    val c = corpus.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      l2Norm(col("embedding")).as("c_nrm"))
    rankTopK(
      c.join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dotProduct(col("q_emb"), col("c_emb"))
            / (col("q_nrm") * col("c_nrm")), 6).as("cosine"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k)
  }

  /** Symmetric per-vector int8 quantization: scale = max|x|/127, stored as
    * (tinyint codes, float scale) — 4× smaller at rest than float32, the
    * standard memory-bound trade for a 100 TB embedding store (the same
    * scheme FAISS calls SQ8). Reconstruction x̂ = code·scale bounds the
    * per-component error by scale/2 (round-to-nearest), which
    * the contract's `q_embed_quantize` asserts in-plan. Pure expression
    * work — quantization rides the scan projection, no shuffle. */
  def quantizeInt8(embedding: Column): Column = {
    val scale = array_max(transform(embedding, x => abs(x))) / lit(127.0)
    struct(
      // scale == 0 (all-zero vector) ⇒ all codes 0
      transform(embedding, x =>
        when(lit(0.0) === scale, lit(0))
          .otherwise(round(x / scale, 0)).cast("tinyint")).as("codes"),
      scale.cast("float").as("scale"))
  }

  /** Dequantized (lossy) reconstruction of [[quantizeInt8]] output. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale").cast("double"))

  /** splitmix64 finalizer — deterministic pseudo-random stream with no RNG
    * state, identical on every executor and across runs. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Plane `p`'s components, each mix64(p*dims+j) scaled to [-1,1).
    * Computed driver-side and shipped as ONE array literal per plane — an
    * expression-tree of O(planes) nodes instead of O(planes × dims), which
    * keeps Catalyst analysis/codegen time flat as dims grows. */
  private def planeComponents(plane: Int, dims: Int, firstPlane: Int): Array[Double] =
    Array.tabulate(dims) { j =>
      mix64((firstPlane + plane).toLong * dims + j).toDouble / Long.MaxValue.toDouble
    }

  /** Embedding dimensionality from the data: a single-row, column-pruned
    * probe (the moral equivalent of reading a catalog statistic) — used
    * when the caller doesn't pass explicit dims, so the default plane
    * family always matches the corpus instead of assuming 64. */
  private[operators] def deriveDims(df: DataFrame): Int = {
    val rows = df.select(size(col("embedding")).as("d")).limit(1).collect()
    require(rows.nonEmpty, "deriveDims: empty corpus — pass dims explicitly")
    rows(0).getInt(0)
  }

  /** Sign pattern of the vector against `planes` deterministic random
    * hyperplanes, packed into one long — an LSH bucket key.
    * `firstPlane` offsets the plane family so banded (OR-amplified) schemes
    * can draw independent planes per band. */
  def hyperplaneSignature(embedding: Column, planes: Int, dims: Int, firstPlane: Int = 0): Column = {
    val sig = (0 until planes).map { p =>
      val plane = typedlit(planeComponents(p, dims, firstPlane))
      when(dotProduct(embedding, plane) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    // The plane family has exactly `dims` components; a longer vector would
    // silently ignore its tail in the dot products (skewing buckets), so a
    // length mismatch fails loudly instead.
    when(size(embedding) === dims, sig).otherwise(raise_error(concat(
      lit(s"hyperplaneSignature: plane family has $dims dims but embedding has "),
      size(embedding).cast("string"))))
  }

  /** Banded hyperplane buckets for OR-amplified LSH: `bands` independent
    * signatures of `rowsPerBand` planes each. Sharing ANY band bucket makes
    * a candidate pair; recall at cosine c is 1-(1-p^r)^B with
    * p = 1 - arccos(c)/π. */
  def hyperplaneBands(embedding: Column, bands: Int, rowsPerBand: Int, dims: Int): Column =
    array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        hyperplaneSignature(embedding, rowsPerBand, dims, firstPlane = b * rowsPerBand).as("bucket"))
    }: _*)

  /** ANN top-k: bucket-join on hyperplane signatures, exact cosine re-rank
    * within the shared buckets. Recall is tuned by two dials: `planes`
    * (fewer planes → bigger buckets → higher recall, more re-rank work) and
    * `bands` (OR-amplification: `bands` independent signature families, a
    * candidate is scored if it shares ANY band's bucket — recall at cosine c
    * is 1−(1−p^planes)^bands with p = 1−arccos(c)/π). `bands = 1` is the
    * classic single-signature scheme.
    *
    * Scoring happens in the bucket-join projection (vectors ride the
    * exchange once per band): candidates vastly outnumber the surviving
    * top-k and the per-pair dot is cheap codegen, so filtering in-join
    * beats shipping every candidate pair through two join-back exchanges
    * (see [[graft.operators.Dedup.embeddingNearDuplicates]] for the full
    * trade; minhash sits on the other side of it). Duplicate pairs from
    * different bands dedup AFTER scoring — (id, id, score) rows, never
    * vectors. */
  def lshKnn(
      queries: DataFrame, candidates: DataFrame, k: Int,
      planes: Int = 8, dims: Int = -1, bands: Int = 1): DataFrame = {
    // dims ≤ 0 (the default) derives the plane dimensionality from the
    // corpus itself — one single-row probe, the same class of driver work
    // as reading a catalog statistic. An explicit dims skips the probe
    // (for planning against an empty frame); either way
    // [[hyperplaneSignature]] still fails loudly on any row that
    // disagrees, so a derived value can't silently mis-bucket a mixed
    // corpus.
    val d = if (dims > 0) dims else deriveDims(candidates)
    def sig(df: DataFrame, idAs: String, embAs: String, nrmAs: String): DataFrame =
      df.select(
        col("vec_id").as(idAs), col("embedding").as(embAs),
        l2Norm(col("embedding")).as(nrmAs),
        explode(hyperplaneBands(col("embedding"), bands, planes, d)).as("bb"))
        .select(col(idAs), col(embAs), col(nrmAs),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = sig(queries, "query_id", "q_emb", "q_nrm")
    val c = sig(
      candidates.repartition(candidates.sparkSession.sparkContext.defaultParallelism),
      "neighbor_id", "c_emb", "c_nrm")
    // The QUERY side is the bounded one (|Q|·bands rows) — broadcast it
    // explicitly. Left to size estimates, Spark has been seen building the
    // corpus-bands side instead (fine at test SF, fatal at 100 TB where
    // the candidate side cannot hash-build); the hint is also the declared
    // this-side-is-bounded contract the CartesianGuard recognizes.
    val scored = broadcast(q)
      .join(c, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        round(dotProduct(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6)
          .as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    rankTopK(scored, k)
  }

  // -----------------------------------------------------------------------
  // Retrieval evaluation — recall@k / MRR / nDCG@k against an exact gold.
  // -----------------------------------------------------------------------

  /** Binary (sign) quantization retrieval tier: vectors are reduced to
    * their sign pattern (±1 per component — the int1 quantization used to
    * shrink 100 TB embedding stores 32×), and ranking is by the ±1 dot
    * product, which for equal-dimension vectors is a monotone function of
    * Hamming distance on the sign bits. The score is an INTEGER-valued
    * double (sum of ±1 terms — exact in IEEE regardless of summation
    * order), so ranking is bit-deterministic with no rounding step and
    * the DuckDB oracle replays it exactly. Same bounded-|Q| broadcast
    * shape as [[bruteForceKnn]]; at scale the sign bits live in the index
    * and this is a popcount scan. */
  def binaryQuantKnn(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    def sgn(c: Column): Column =
      transform(c, x => when(x >= 0, lit(1.0d)).otherwise(lit(-1.0d)))
    val q = queries.select(
      col("vec_id").as("query_id"), sgn(col("embedding")).as("q_sgn"))
    val c = candidates
      .repartition(candidates.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"), sgn(col("embedding")).as("c_sgn"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotProduct(col("q_sgn"), col("c_sgn")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Rank-discount gains 1/log2(r+1) for r = 1..k — THE constants both
    * the Spark metric fold and the generated oracle SQL share (the SQL
    * literals are these doubles' shortest-repr strings, so both engines
    * hold bitwise-identical values). */
  def ndcgGains(k: Int): IndexedSeq[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Ideal DCG@k for binary relevance with ≥ k relevant items: the
    * left-associated sum of [[ndcgGains]] — the same association order
    * the generated SQL literal chain uses. */
  def idcgAt(k: Int): Double = ndcgGains(k).reduceLeft(_ + _)

  /** Per-query IR metrics of a retrieved list against an exact gold set:
    * recall@k, reciprocal rank (of the first gold item in the retrieved
    * ranking), and nDCG@k with binary relevance.
    *
    * Float determinism: per-rank relevance indicators are aggregated as
    * integers (max of 0/1 per rank — order-free), and the DCG is then
    * composed OUTSIDE the aggregation as a left-associated chain
    * rel_1·g_1 + … + rel_k·g_k over the shared [[ndcgGains]] literals —
    * the identical op sequence the generated oracle runs, so results
    * hash-match at 6 dp. Inputs are the bounded |Q|·k frames; the join
    * and aggregation never touch corpus-scale data. */
  def retrievalMetrics(gold: DataFrame, retrieved: DataFrame, k: Int): DataFrame = {
    val gains = ndcgGains(k)
    val g = gold.select(col("query_id"), col("neighbor_id"), lit(1).as("rel0"))
    val j = retrieved.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(g, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("rel0"), lit(0)).as("rel"))
    val relAt = (1 to k).map(r =>
      coalesce(max(when(col("rank") === r, col("rel"))), lit(0)).as(s"rel_$r"))
    val aggCols =
      min(when(col("rel") === 1, col("rank"))).cast("long").as("first_hit") +: relAt
    val agg = j.groupBy(col("query_id")).agg(
      sum(col("rel")).cast("long").as("hits"), aggCols: _*)
    val dcg = (1 to k).map(r => col(s"rel_$r") * lit(gains(r - 1)))
      .reduceLeft(_ + _)
    agg.select(
      col("query_id"), col("hits"),
      round(col("hits").cast("double") / lit(k.toDouble), 6).as("recall_at_k"),
      round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("rr"),
      round(dcg / lit(idcgAt(k)), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Grouped rollup of [[retrievalMetrics]] rows by a label column joined
    * from the query side: mean recall from INTEGER hit sums, mean rr and
    * mean nDCG through exact DECIMAL(10,6) sums of the already-6dp-rounded
    * per-query values (decimal addition is exact integer arithmetic, so
    * the rollup is summation-order-free on both engines). */
  def retrievalMetricsBy(perQuery: DataFrame, labels: DataFrame, k: Int): DataFrame =
    perQuery
      .join(labels.select(col("vec_id").as("query_id"), col("label")), Seq("query_id"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("hits")).cast("long").as("hits"),
        round(sum(col("hits")).cast("double")
          / (lit(k.toDouble) * count(lit(1))), 6).as("mean_recall"),
        round(sum(col("rr").cast("decimal(10,6)")).cast("double")
          / count(lit(1)), 6).as("mean_rr"),
        round(sum(col("ndcg").cast("decimal(10,6)")).cast("double")
          / count(lit(1)), 6).as("mean_ndcg"))
      .orderBy(col("label"))

  /** One-row rollup of [[retrievalMetrics]] output — integer hit sums
    * for mean recall, exact DECIMAL sums of the 6dp per-query values for
    * mean rr/nDCG (the [[retrievalMetricsBy]] discipline, ungrouped). */
  def retrievalMetricsSummary(perQuery: DataFrame, k: Int): DataFrame =
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      sum(col("hits")).cast("long").as("hits"),
      round(sum(col("hits")).cast("double")
        / (lit(k.toDouble) * count(lit(1))), 6).as("mean_recall"),
      round(sum(col("rr").cast("decimal(10,6)")).cast("double")
        / count(lit(1)), 6).as("mean_rr"),
      round(sum(col("ndcg").cast("decimal(10,6)")).cast("double")
        / count(lit(1)), 6).as("mean_ndcg"))

  /** Matryoshka-style dimension-truncation retrieval eval (Kusupati
    * 2022): for each prefix length d, rank by EXACT cosine over the
    * first d components and score against the full-dimension gold — the
    * quality/size trade curve a 100 TB embedding store reads before
    * choosing its at-rest dimensionality. Prefix cosine is the same
    * proven dot/norm spelling over sliced arrays, so every row is
    * hash-exact in the oracle. The gold is computed once and
    * checkpointed for the |dims| consumers. */
  def retrievalEvalDims(
      queries: DataFrame, corpus: DataFrame, k: Int, dims: Seq[Int]): DataFrame = {
    val gold = bruteForceKnn(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false) // |dims| consumers — the shared-consumer convention
    def trunc(df: DataFrame, d: Int): DataFrame =
      df.withColumn("embedding", slice(col("embedding"), 1, d))
    dims.map { d =>
      val appr = bruteForceKnn(trunc(queries, d), trunc(corpus, d), k)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      retrievalMetricsSummary(retrievalMetrics(gold, appr, k), k)
        .select(lit(d).as("dim"), col("*"))
    }.reduceLeft(_ unionByName _).orderBy(col("dim"))
  }

  /** Oracle for [[retrievalEvalDims]]: one replayed chain per prefix
    * length, UNION ALL'd — the gold chain is the proven full-dimension
    * rank spelling; the truncated side slices the DOUBLE[] cast. */
  def retrievalEvalDimsSql(qMax: Int, k: Int, dims: Seq[Int]): String = {
    val per = dims.map { d =>
      val gains = ndcgGains(k)
      val dcg = (1 to k)
        .map(r => s"coalesce(max(CASE WHEN rank = $r THEN rel END),0) * CAST(${gains(r - 1)} AS DOUBLE)")
        .reduceLeft((a, b) => s"$a + $b")
      s"""SELECT CAST($d AS INT) AS dim, CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(sum(hits) AS BIGINT) AS hits,
         |       round(CAST(sum(hits) AS DOUBLE) / (CAST($k AS DOUBLE) * count(*)), 6) AS mean_recall,
         |       round(CAST(sum(CAST(round(coalesce(CAST(1.0 AS DOUBLE) / first_hit, CAST(0.0 AS DOUBLE)), 6) AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS mean_rr,
         |       round(CAST(sum(CAST(round(dcg / CAST(${idcgAt(k)} AS DOUBLE), 6) AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS mean_ndcg
         |FROM (
         |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS hits,
         |         CAST(min(CASE WHEN rel = 1 THEN rank END) AS BIGINT) AS first_hit,
         |         $dcg AS dcg
         |  FROM (
         |    SELECT a.query_id, a.rank,
         |           CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |    FROM (
         |      SELECT * FROM (
         |        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |               row_number() OVER (PARTITION BY q.vec_id
         |                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[])[1:$d], CAST(c.embedding AS DOUBLE[])[1:$d]), 6) DESC, c.vec_id) AS rank
         |        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |        WHERE q.vec_id < $qMax)
         |      WHERE rank <= $k) a
         |    LEFT JOIN (
         |      SELECT * FROM (
         |        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |               row_number() OVER (PARTITION BY q.vec_id
         |                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
         |        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |        WHERE q.vec_id < $qMax)
         |      WHERE rank <= $k) g
         |      ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id)
         |  GROUP BY query_id)""".stripMargin
    }
    s"SELECT * FROM (${per.mkString(" UNION ALL ")}) ORDER BY dim"
  }

  /** Oracle SQL fragment: per-query metrics of the binary-quantized tier
    * vs the exact-cosine gold over `embeddings`, queries `vec_id < qMax`.
    * Generated from the same [[ndcgGains]]/[[idcgAt]] constants and the
    * same left-associated composition as [[retrievalMetrics]]. */
  def retrievalEvalOracleSql(qMax: Int, k: Int): String = {
    val gains = ndcgGains(k)
    val dcg = (1 to k)
      .map(r => s"coalesce(max(CASE WHEN rank = $r THEN rel END),0) * CAST(${gains(r - 1)} AS DOUBLE)")
      .reduceLeft((a, b) => s"$a + $b")
    s"""WITH gold AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |    WHERE q.vec_id < $qMax)
       |  WHERE rank <= $k),
       |approx AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_dot_product(
       |               list_transform(CAST(q.embedding AS DOUBLE[]), x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END),
       |               list_transform(CAST(c.embedding AS DOUBLE[]), x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END)) DESC, c.vec_id) AS rank
       |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
       |    WHERE q.vec_id < $qMax)
       |  WHERE rank <= $k),
       |j AS (
       |  SELECT a.query_id, a.rank,
       |         CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM approx a LEFT JOIN gold g
       |    ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id),
       |pq AS (
       |  SELECT query_id,
       |         CAST(sum(rel) AS BIGINT) AS hits,
       |         CAST(min(CASE WHEN rel = 1 THEN rank END) AS BIGINT) AS first_hit,
       |         $dcg AS dcg
       |  FROM j GROUP BY 1)""".stripMargin
  }

  /** Full oracle for the per-query contract rows. */
  def retrievalEvalPerQuerySql(qMax: Int, k: Int): String =
    s"""${retrievalEvalOracleSql(qMax, k)}
       |SELECT query_id, hits,
       |       round(CAST(hits AS DOUBLE) / $k, 6) AS recall_at_k,
       |       round(coalesce(CAST(1.0 AS DOUBLE) / first_hit, CAST(0.0 AS DOUBLE)), 6) AS rr,
       |       round(dcg / CAST(${idcgAt(k)} AS DOUBLE), 6) AS ndcg
       |FROM pq ORDER BY query_id""".stripMargin

  /** Full oracle for the grouped rollup (query label from `embeddings`). */
  def retrievalEvalByLabelSql(qMax: Int, k: Int): String =
    s"""${retrievalEvalOracleSql(qMax, k)},
       |pql AS (
       |  SELECT pq.*, e.label,
       |         round(coalesce(CAST(1.0 AS DOUBLE) / first_hit, CAST(0.0 AS DOUBLE)), 6) AS rr,
       |         round(dcg / CAST(${idcgAt(k)} AS DOUBLE), 6) AS ndcg
       |  FROM pq JOIN embeddings e ON pq.query_id = e.vec_id)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_queries,
       |       CAST(sum(hits) AS BIGINT) AS hits,
       |       round(CAST(sum(hits) AS DOUBLE) / (CAST($k AS DOUBLE) * count(*)), 6) AS mean_recall,
       |       round(CAST(sum(CAST(rr AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS mean_rr,
       |       round(CAST(sum(CAST(ndcg AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6) AS mean_ndcg
       |FROM pql GROUP BY 1 ORDER BY 1""".stripMargin
}
