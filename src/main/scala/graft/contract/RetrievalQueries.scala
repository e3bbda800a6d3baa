package graft
package contract

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables
import Query.{Batch, Stream}

/** Retrieval evaluation (recall@k, MRR, nDCG@k). */
private[contract] object RetrievalQueries {

  val all: Seq[Query] = Seq(
    // IR metrics of the binary-quantization (sign/int1) retrieval tier
    // against the exact-cosine gold, per query: the eval harness for any
    // compressed retrieval stack. The ±1 dot score is an exact integer, so
    // BOTH rankings replay in the oracle and every metric is hash-exact —
    // no self-asserting floor. (Uniform-random embeddings are sign
    // quantization's worst case; the measured recall is the point.)
    Query("q_retrieval_eval", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val gold = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val appr = Similarity.binaryQuantKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Similarity.retrievalMetrics(gold, appr, k = 5)
    },
      // Retrieval eval: binary-quantized tier replayed exactly (±1 dot is
      // an exact integer, gold is the proven cosine rank chain); metrics
      // composed from shared gain literals — hash-exact per query.
      Similarity.retrievalEvalPerQuerySql(qMax = 32, k = 5)),

    // Grouped rollup by query label: integer hit sums for mean recall,
    // exact DECIMAL sums of the 6dp per-query values for mean rr/nDCG
    // (summation-order-free on both engines — still hash-exact).
    Query("q_retrieval_eval_by_label", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val gold = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val appr = Similarity.binaryQuantKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Similarity.retrievalMetricsBy(
        Similarity.retrievalMetrics(gold, appr, k = 5), emb, k = 5)
    },
      Similarity.retrievalEvalByLabelSql(qMax = 32, k = 5)),

    // Matryoshka-style dimension-truncation eval: exact-cosine retrieval
    // over prefix dims 8/16/32 scored against the full-64d gold — the
    // quality/size trade curve read before choosing an at-rest embedding
    // width. Prefix cosine = the proven dot/norm spelling over sliced
    // arrays, so the whole curve is hash-exact.
    Query("q_retrieval_eval_dims", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.retrievalEvalDims(
        emb.filter(col("vec_id") < 32), emb, k = 5, dims = Seq(8, 16, 32))
    },
      // Dimension-truncation curve: one replayed rank chain per prefix
      // length vs the proven full-dimension gold chain.
      Similarity.retrievalEvalDimsSql(qMax = 32, k = 5, dims = Seq(8, 16, 32))),

    // The same metrics harness over the IVF tier (8/16 cells probed).
    // IVF's ranking depends on trained centroids, so this one is self-
    // asserting: floors far under the measured values (recall 0.806/0.844,
    // MRR 1.000, nDCG 0.870/0.894 at sf0.01/sf0.1 — tools/ProbeRetrieval at 89034bd),
    // with the oracle pinning the query count and the literals.
    Query("q_retrieval_eval_ivf", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val gold = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val index = graft.operators.IvfIndex.build(s, emb, nLists = 16)
      val appr = graft.operators.IvfIndex.search(s, index, q, k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      Similarity.retrievalMetrics(gold, appr, k = 5)
        .agg(count(lit(1)).as("n_queries"),
          (sum(col("hits")).cast("double")
            / (lit(5.0) * count(lit(1))) >= 0.6).as("recall_ok"),
          (sum(col("rr").cast("decimal(10,6)")).cast("double")
            / count(lit(1)) >= 0.5).as("mrr_ok"),
          (sum(col("ndcg").cast("decimal(10,6)")).cast("double")
            / count(lit(1)) >= 0.5).as("ndcg_ok"))
    },
      // Self-asserting (IVF ranking depends on trained centroids): the
      // oracle pins the query count and the asserted floors.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                true AS mrr_ok, true AS ndcg_ok
         FROM embeddings WHERE vec_id < 32"""),

    // CONTINUOUS retrieval-quality monitor — the eval family's streaming
    // face (the AnnServe convention): query traffic replays as a batched
    // file stream against the FROZEN IVF index; per-batch IR metrics vs
    // the exact audit twin append to the monitor sink. Floors far under
    // the measured tier values; parity = streamed per-query rows ≡ the
    // whole-set evaluation (multiplicity included), asserted in-plan.
    Query("q_retrieval_eval_stream", Stream, (s, d) =>
      graft.streaming.RetrievalEvalStream.runStreamRetrievalEval(s, d),
      // Streaming monitor: the oracle pins the traffic-sample size, the
      // floors, and the streamed ≡ whole-set parity boolean.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                true AS mrr_ok, true AS ndcg_ok, true AS parity_ok
         FROM embeddings WHERE vec_id % 5 = 1""",
      // Contract form: streamed metric rows ⋈ whole-set evaluation (parity).
      // Operator: the monitor stream (IVF search + per-batch audit) alone.
      benchPlan = Some((s, d) =>
        graft.streaming.RetrievalEvalStream.runStreamRetrievalEval(s, d, assertParity = false))),
  )
}
