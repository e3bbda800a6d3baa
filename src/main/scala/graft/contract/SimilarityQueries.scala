package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Similarity
import graft.sources.Tables
import Query.{Batch, Stream}
import Common._

/** Embedding similarity search: exact kNN, LSH, IVF, PQ and their
  * streamed ingest and search. */
private[contract] object SimilarityQueries {

  val all: Seq[Query] = Seq(
    Query("q_embed_knn", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 32), emb, k = 5)
    },
      """SELECT * FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
                  CAST(row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
                             c.vec_id) AS INT) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id < 32)
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // kNN label-noise audit: probes whose neighborhoods overwhelmingly
    // disagree with their label are mislabeled-or-outlier; per-label
    // rollup says which CLASS is noisy (deterministic hash-picked probe
    // budget, exact integer majority rule).
    Query("q_label_noise", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Similarity.labelNoiseKnn(
        emb.filter(
          pmod(graft.functions.PortableHash.keyHash(col("vec_id")), lit(16L)) === 0L),
        emb, k = 5)
    },
      // Label-noise replay: the q_embed_knn rank chain over the hash-picked
      // probe set, then the exact integer majority + per-label rollup.
      s"""WITH kn AS (
         |  SELECT * FROM (
         |    SELECT q.vec_id AS query_id, q.label AS ql, c.vec_id AS neighbor_id, c.label AS nl,
         |           row_number() OVER (
         |             PARTITION BY q.vec_id
         |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
         |                      c.vec_id) AS rank
         |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |    WHERE (${graft.functions.PortableHash.keyHashSql("q.vec_id")}) % 16 = 0)
         |  WHERE rank <= 5),
         |d AS (SELECT query_id, ql, CAST(count(*) AS BIGINT) AS kk,
         |             CAST(sum(CASE WHEN nl != ql THEN 1 ELSE 0 END) AS BIGINT) AS mis
         |      FROM kn GROUP BY 1, 2)
         |SELECT CAST(ql AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_checked,
         |       CAST(sum(CASE WHEN mis * 2 > kk THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
         |       round(CAST(sum(mis) AS DOUBLE) / sum(kk), 6) AS disagreement
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // IVF-probed label-noise audit at the UNBOUNDED-|Q| scale shape:
    // every labeled vector audits itself against its probed cells (the
    // q_hard_negatives_ivf recipe — plain cell_id equi-join, no corpus
    // or query broadcast). SELF-ASSERTING: per-query suspect flags vs
    // the in-plan exact brute-force twin; a probe miss can flip a
    // borderline majority vote, so agreement is approximate by design —
    // measured 0.9940 (sf0.01) / 0.9935 (sf0.1) with 8/16 cells
    // (tools/ProbeLabelNoise at 89034bd); floor 0.9 (the ADC-floor discipline:
    // just under the measured band, never half of it).
    Query("q_label_noise_ivf", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.operators.IvfIndex.build(s, emb, nLists = 16)
      val approx = graft.operators.IvfIndex.labelNoiseIvf(
          idx, emb.select(col("vec_id"), col("label")), emb, k = 5, nProbe = 8)
        .select(col("query_id"), col("suspect").as("s_ivf"))
      graft.operators.Similarity.labelNoisePerQuery(emb, emb, k = 5)
        .select(col("query_id"), col("suspect").as("s_exact"))
        .join(approx, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_audited"),
          sum(when(col("s_exact"), 1L).otherwise(0L)).as("n_suspect_exact"),
          (sum(when(col("s_exact") === coalesce(col("s_ivf"), lit(false)), 1L)
            .otherwise(0L)) >= count(lit(1)) * 0.9).as("agreement_ok"))
    },
      // IVF-probed audit: the oracle replays the EXACT unbounded-|Q| twin
      // (the same rank chain with no probe-budget filter) for n_audited and
      // n_suspect_exact, and pins the self-asserted flag agreement.
      """WITH kn AS (
        |  SELECT * FROM (
        |    SELECT q.vec_id AS query_id, q.label AS ql, c.label AS nl,
        |           row_number() OVER (
        |             PARTITION BY q.vec_id
        |             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
        |                      c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id)
        |  WHERE rank <= 5),
        |d AS (SELECT query_id, CAST(count(*) AS BIGINT) AS kk,
        |             CAST(sum(CASE WHEN nl != ql THEN 1 ELSE 0 END) AS BIGINT) AS mis
        |      FROM kn GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_audited,
        |       CAST(sum(CASE WHEN mis * 2 > kk THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect_exact,
        |       true AS agreement_ok
        |FROM d""".stripMargin,
      // Contract form: IVF audit ⋈ O(|Q|·|C|) brute-force twin + per-query
      // flag-agreement agg. Operator: the probed-bucket disagreement fold
      // against the at-rest index, rolled up per label — what a curation
      // pipeline runs at 100 TB.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        val emb = Tables.embeddings(s, d)
        graft.operators.Similarity.labelNoiseRollup(
          graft.operators.IvfIndex.labelNoiseIvf(
            reg.ivfFull(s, d), emb.select(col("vec_id"), col("label")),
            emb, k = 5, nProbe = 8))
      })),

    // Hard-negative mining: per query vector, the top-3 most-similar
    // candidates of a DIFFERENT label (the contrastive-training negatives
    // nearest the boundary). Mismatch predicate folded into the join,
    // bounded-heap top-k, labels rejoined on the bounded result.
    Query("q_hard_negatives", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb.filter(col("vec_id") < 32), emb, k = 3)
    },
      """SELECT * FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
                  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
                  CAST(row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
                             c.vec_id) AS INT) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id AND q.label != c.label
           WHERE q.vec_id < 32)
         WHERE rank <= 3 ORDER BY query_id, rank"""),

    // IVF-probed hard negatives at the UNBOUNDED-|Q| scale shape: true
    // self-mining (every corpus vector is a query), probes ⋈ cells on a
    // plain cell_id equi-join — no corpus or query-set broadcast. SELF-
    // ASSERTING recall vs the in-plan brute-force twin (approximate by
    // design, same harness pattern as q_embed_knn_ivf); measured recall
    // with 8/16 probed cells is ~0.8 on uniform-random data, floor 0.6.
    Query("q_hard_negatives_ivf", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.operators.IvfIndex.build(s, emb, nLists = 16)
      val approx = graft.operators.IvfIndex.hardNegativesIvf(
          idx, emb.select(col("vec_id"), col("label")), emb, k = 3, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val exact = Similarity.hardNegatives(emb, emb, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.6).as("recall_ok"))
    },
      // Self-asserting (recall vs the in-plan brute-force twin ≥ 0.6; the
      // oracle pins the self-mining query-set size and the literal `true`).
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings""",
      // The ANN search family: the contract forms rebuild model + index
      // in-plan so the verify gate can pin recall against an in-plan exact
      // twin, but a deployment trains offline and serves queries against the
      // index AT REST — so Bench times the search (or the per-batch add)
      // against [[graft.operators.IndexRegistry]]'s staged cell-partitioned
      // state, parameter-identical to the contract forms (same corpus, k,
      // nProbe, m, ksub — and the same deterministic model, so results are
      // identical too).
      // q_embed_knn_lsh is deliberately NOT overridden: its exact twin is a
      // bounded broadcast-|Q| brute-force scan (linear, not O(n²)), so the
      // contract form is already operator-shaped. (An override attempt
      // exposed a real bug instead: left to size estimates, the bucket join
      // hash-built the CORPUS-bands side — fatal at scale, and measurably
      // slow standalone. lshKnn now broadcasts the query side explicitly;
      // tools/ProbeLsh.scala at 89034bd records the investigation.) The split exists to
      // keep quadratic twins out of the bench, not to strip bounded ones.
      // Contract form: IVF mining ⋈ O(|Q|·|C|) brute-force twin + recall
      // agg. Operator: the cell-keyed self-mining join against the at-rest
      // index — the unbounded-|Q| path alone.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        val emb = Tables.embeddings(s, d)
        graft.operators.IvfIndex.hardNegativesIvf(
          reg.ivfFull(s, d), emb.select(col("vec_id"), col("label")),
          emb, k = 3, nProbe = 8)
      })),

    // IVF-PQ hard negatives — the compressed-tier twin of
    // q_hard_negatives_ivf: same unbounded-|Q| cell-keyed self-mining
    // join, but in-cell scoring is residual ADC over the 16-byte codes
    // (the corpus side of the join moves codes, never embeddings).
    // SELF-ASSERTING recall vs the in-plan exact brute-force twin;
    // doubly approximate (IVF probe misses AND PQ score quantization).
    // Floor 0.4, just under the measured cross-SF band — ADC direct
    // ordering measures 0.532 at sf0.01 but 0.435 at sf0.1
    // (tools/ProbeRerank at 89034bd, both SFs: fuller cells make ADC ordering errors
    // bite harder), so the earlier 0.45 sat INSIDE the band and failed
    // the larger SF. Still far above the halved-quality level (~0.22 —
    // the ADC-floor discipline holds); the rerank form below carries
    // the honest high floor (measured 0.759 at sf0.1).
    Query("q_hard_negatives_ivfpq", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.operators.Pq.buildIvfPq(
        s, emb, dims = 64, nLists = 16, m = 16, ksub = 64)
      val approx = graft.operators.Pq.hardNegativesIvfPq(
          idx, emb.select(col("vec_id"), col("label")), emb, k = 3, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val exact = Similarity.hardNegatives(emb, emb, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.4).as("recall_ok"))
    },
      // Self-asserting (ADC-scored recall vs the in-plan exact twin ≥ 0.4;
      // the oracle pins the self-mining query-set size and the literal).
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings""",
      // Contract form: IVF-PQ mining ⋈ O(|Q|·|C|) brute-force twin + recall
      // agg. Operator: the cell-keyed ADC self-mining join against the
      // at-rest encoded index — codes move, embeddings don't.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        val emb = Tables.embeddings(s, d)
        graft.operators.Pq.hardNegativesIvfPq(
          reg.ivfPqFull(s, d), emb.select(col("vec_id"), col("label")),
          emb, k = 3, nProbe = 8)
      })),

    // Two-tier IVF-PQ mining: the ADC cell join proposes a kShort=16
    // shortlist per query (codes move, embeddings don't — the expensive
    // stage is unchanged), then ONLY the bounded |Q|·16 shortlist is
    // rescored with exact float dots via plain id equi-joins (|Q| ≈
    // |corpus| in self-mining, so nothing is broadcast) and final top-3
    // is exact over the shortlist. Recall is bounded by shortlist
    // recall@16 instead of ADC ordering recall@3, so the SELF-ASSERTED
    // floor rises to the honest 0.6 (measured 0.811 at sf0.01 vs 0.532
    // for direct ADC ordering — tools/ProbeRerank at 89034bd records the kShort
    // sweep; 16 is the knee, 32 only reaches the IVF probe ceiling 0.823).
    Query("q_hard_negatives_ivfpq_rerank", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = graft.operators.Pq.buildIvfPq(
        s, emb, dims = 64, nLists = 16, m = 16, ksub = 64)
      val approx = graft.operators.Pq.hardNegativesIvfPqRerank(
          idx, emb.select(col("vec_id"), col("label")), emb, emb,
          k = 3, kShort = 16, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val exact = Similarity.hardNegatives(emb, emb, k = 3)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.6).as("recall_ok"))
    },
      // Self-asserting (shortlist + exact-rerank recall vs the in-plan
      // exact twin ≥ 0.6; the oracle pins the query-set size and literal).
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings""",
      // Contract form: two-tier mining ⋈ O(|Q|·|C|) brute-force twin +
      // recall agg. Operator: ADC shortlist + bounded exact rescore against
      // the at-rest encoded index.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        val emb = Tables.embeddings(s, d)
        graft.operators.Pq.hardNegativesIvfPqRerank(
          reg.ivfPqFull(s, d), emb.select(col("vec_id"), col("label")),
          emb, emb, k = 3, kShort = 16, nProbe = 8)
      })),

    // Banded hyperplane-LSH ANN, SELF-ASSERTING: the query emits recall@5
    // against the exact brute-force top-k (computed in the same plan — the
    // |Q|·|C| twin is the verification harness, bounded by |Q|=32). Measured
    // recall with 8 bands × 4 planes is ~0.67-0.69 on this uniform-random
    // data (LSH's worst case: true neighbors sit at modest cosine); the
    // assertion floor is 0.6 (r11, was 0.5 — the ADC-floor discipline:
    // a halved ANN quality must not pass any gate, so the floor sits just
    // under the measured band, not at half of it).
    Query("q_embed_knn_lsh", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshKnn(q, emb, k = 5, planes = 4, bands = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      // ONE left join + one agg: the brute-force twin appears once in the
      // DAG (a hits-join + separate totals agg would compute it twice)
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.6).as("recall_ok"))
    },
      // ANN entries are self-asserting (recall@5 vs the in-plan brute-force
      // twin ≥ a floor far below the measured value): the oracle pins the
      // query-set size and the literal `true`.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 32"""),

    // IVF (k-means coarse quantizer) ANN — the partition-pruned scale path.
    // Self-asserting recall@5 vs brute force, same pattern as the LSH entry:
    // probing 8/16 cells measures ~0.81-0.84 recall on uniform-random data
    // (IVF's worst case — no cluster structure); assertion floor 0.65.
    Query("q_embed_knn_ivf", Batch, (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val index = graft.operators.IvfIndex.build(s, emb, nLists = 16)
      val approx = graft.operators.IvfIndex.search(s, index, q, k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.65).as("recall_ok"))
    },
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: IVF search ⋈ brute-force twin + recall agg.
      // Operator: probe-set planning + cell-pruned in-cell exact scoring.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        graft.operators.IvfIndex.search(s, reg.ivfFull(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 32), k = 5, nProbe = 8)
      })),

    // INCREMENTAL IVF maintenance (the FAISS `add` path): vectors with
    // vec_id % 5 == 0 arrive after the index was built — centroids train
    // on the other 80% only, and the batch is assigned to the existing
    // cells in one codegen argmin pass (no retrain, corpus at rest
    // untouched; new rows append into their cell partitions). SELF-
    // ASSERTING twice over: search recall@5 vs the in-plan brute-force
    // exact twin (floor 0.65, same as q_embed_knn_ivf — measured 0.831 /
    // 0.838 at sf0.01/sf0.1 with 80%-trained centroids), and assignment
    // PARITY — the incremental
    // index's (vec_id, cell_id) rows equal a one-pass assignment of the
    // full corpus under the same centroids (add-then-search ≡ rebuild-
    // then-search, exactly).
    Query("q_ivf_incremental", Batch, (s, d) => {
      import graft.operators.IvfIndex
      val emb = Tables.embeddings(s, d)
      val isNew = col("vec_id") % 5 === 0
      // list count from the capacity rule on the ACCEPTED corpus — the
      // add path runs under a model whose cell structure was sized for
      // the corpus it trained on (fixed nLists measured 11.22x at 10x)
      val idx0 = IvfIndex.buildAuto(s, emb.filter(!isNew))
      val idx = IvfIndex.addToIndex(idx0, emb.filter(isNew))
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = IvfIndex.search(s, idx, q, k = 5,
        nProbe = IvfIndex.autoNProbe(idx.centroids.length))
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val recall = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.65).as("recall_ok"))
      val parity = idx.assigned.select(col("vec_id"), col("cell_id"))
        .join(
          IvfIndex.rebuildAssigned(emb, idx0)
            .select(col("vec_id"), col("cell_id").as("cell_full")),
          Seq("vec_id"), "full")
        .agg((sum(when(col("cell_id") =!= col("cell_full")
          || col("cell_id").isNull || col("cell_full").isNull, 1L).otherwise(0L)) === 0L)
          .as("parity_ok"))
      recall.crossJoin(parity)
    },
      // Incremental IVF add: recall floor + add≡rebuild assignment parity
      // are asserted in-plan; the oracle pins the query-set size and both
      // assertion outcomes.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                true AS parity_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: add-then-search ⋈ twin + rebuild parity.
      // Operator: one codegen argmin pass over the batch + cell append.
      benchPlan = Some((s, d) => {
        val reg = graft.operators.IndexRegistry
        graft.operators.IvfIndex
          .addToIndex(reg.ivf80(s, d),
            Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0))
          .assigned
      })),

    // DATA-DRIVEN list count — the executable "nLists grows with the
    // corpus" posture (the q_semdedup_auto_k convention): the capacity
    // rule picks the smallest candidate keeping expected cell occupancy
    // at or under 125 (4 at sf0.01's 500 vectors, 16 at sf0.1's 2000 —
    // ProbeScale measured the FIXED-nLists regime at 11.22x search cost
    // for 10x data, the regime this rule retires), then the standard
    // probe search runs under the selected model with the probe count
    // from the SEARCH-side companion rule (autoNProbe = 2·⌈√nLists⌉
    // capped at nLists — sublinear probe cost, non-exhaustive once the
    // tier grows past the tiny SFs). Self-asserting: recall@5 vs the
    // in-plan exact twin (floor 0.65, the IVF family convention); the
    // oracle replays BOTH integer rules, so a build that ignored either
    // selector hash-mismatches selected_nlists / ruled_nprobe.
    Query("q_ivf_auto_nlists", Batch, (s, d) => {
      import graft.operators.IvfIndex
      val emb = Tables.embeddings(s, d)
      val idx = IvfIndex.buildAuto(s, emb)
      val np = IvfIndex.autoNProbe(idx.centroids.length)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = IvfIndex.search(s, idx, q, k = 5, nProbe = np)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.65).as("recall_ok"))
        .select(lit(idx.centroids.length).as("selected_nlists"),
          lit(np).as("ruled_nprobe"), col("n_queries"), col("recall_ok"))
    },
      // Auto-nLists + auto-nProbe replay: BOTH exact integer capacity
      // rules as CASEs over the corpus count (generated from the SAME
      // constants as the operator), recall floor asserted in-plan.
      s"""SELECT CAST(${graft.operators.IvfIndex.autoNListsCaseSql("count(*)")} AS INT)
                   AS selected_nlists,
                 CAST(${graft.operators.IvfIndex.autoNProbeCaseSql("count(*)")} AS INT)
                   AS ruled_nprobe,
                 CAST(count(DISTINCT vec_id) FILTER (WHERE vec_id < 32) AS BIGINT)
                   AS n_queries,
                 true AS recall_ok
         FROM embeddings"""),

    // INCREMENTAL IVF-PQ maintenance — the FAISS add path for the
    // compressed tier: coarse centroids AND residual codebooks train on
    // the 80% corpus, the vec_id % 5 == 0 batch is assigned + residual-
    // encoded under that frozen model in one codegen pass and appends
    // into its cell partitions. Self-asserting: ADC search recall@5 vs
    // the in-plan exact twin (floor 0.35, as q_embed_knn_ivfpq; measured
    // 0.656 / 0.488 at sf0.01/sf0.1) and ENCODE PARITY — the incremental
    // index's
    // (vec_id, cell_id, code, recon_nrm) rows equal a rebuild under the
    // same model exactly.
    Query("q_ivfpq_incremental", Batch, (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val isNew = col("vec_id") % 5 === 0
      val old = emb.filter(!isNew)
      val nOld = old.count() // one corpus count feeds both the tier rule and the sampler
      val idx0 = Pq.buildIvfPq(s, old, dims = 64,
        nLists = graft.operators.IvfIndex.autoNLists(nOld), m = 16, ksub = 64,
        knownTotal = Some(nOld))
      val idx = Pq.addToIvfPq(idx0, emb.filter(isNew))
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // probe count from the search-side rule (exhaustive only at the
      // tiny 4-cell tier, where autoNProbe(4) = 4)
      val approx = Pq.ivfPqSearch(idx, q, k = 5,
        nProbe = graft.operators.IvfIndex.autoNProbe(idx.ivfCents.length))
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      val recall = exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.35).as("recall_ok"))
      val parity = idx.encoded
        .select(col("vec_id"), col("cell_id"), col("code"), col("recon_nrm"))
        .join(Pq.rebuildEncoded(emb, idx0).select(col("vec_id"),
          col("cell_id").as("c2"), col("code").as("k2"),
          col("recon_nrm").as("n2")), Seq("vec_id"), "full")
        .agg((sum(when(col("cell_id") =!= col("c2") || col("code") =!= col("k2")
          || col("recon_nrm") =!= col("n2") || col("cell_id").isNull
          || col("c2").isNull, 1L).otherwise(0L)) === 0L).as("parity_ok"))
      recall.crossJoin(parity)
    },
      // Incremental IVF-PQ add: recall floor + add≡rebuild encode parity
      // asserted in-plan, oracle pins the outcomes.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok,
                true AS parity_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: add-then-encode ⋈ twin + rebuild parity.
      // Operator: assign + residual-encode the batch under the frozen model.
      benchPlan = Some((s, d) => {
        import graft.operators.Pq
        val reg = graft.operators.IndexRegistry
        Pq.addToIvfPq(reg.ivfPq80(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0))
          .encoded
      })),

    // CONTINUOUS ANN ingestion — the streaming face of the IVF-PQ add
    // path: the model trains once on the accepted corpus (encoded rows at
    // rest, cell-partitioned), then the vec_id % 5 == 0 vectors replay as
    // a batched file stream and each micro-batch is residual-encoded
    // under the frozen model and appended into its cell partitions
    // (foreachBatch; no retrain, no rescan). Encoding is per-vector, so
    // stream-ingest ≡ rebuild-under-the-same-model exactly — asserted
    // row-for-row in-plan; the oracle pins the corpus size and booleans.
    Query("q_ann_ingest_stream", Stream, (s, d) =>
      graft.streaming.AnnIngest.runStreamAnnIngest(s, d),
      // streamed-ingest index ≡ rebuild-under-the-same-model asserted
      // row-for-row in-plan; the oracle pins the corpus size and booleans
      """SELECT count(*) AS n_vecs, true AS appended_nonempty, true AS parity_ok
         FROM embeddings""",
      // Contract form: at-rest index ⋈ whole-corpus re-encode (parity).
      // Operator: train + initial encode + the batched cell-append stream.
      benchPlan = Some((s, d) =>
        graft.streaming.AnnIngest.runStreamAnnIngest(s, d, assertFull = false))),

    // CONTINUOUS ANN serving — the query-side face of the same at-rest
    // index: query vectors replay as a batched file stream and each
    // micro-batch runs the batched join-based ADC search (probe planning
    // map-side, cell_id equi-join, no driver collect of queries) and
    // appends its top-k. Search is per-query pure under a frozen index, so
    // streamed results ≡ one whole-set batched search exactly — asserted
    // row-for-row in-plan; the oracle pins the query count and booleans.
    Query("q_ann_search_stream", Stream, (s, d) =>
      graft.streaming.AnnServe.runStreamAnnServe(s, d),
      // streamed search results ≡ whole-set batched ADC search asserted
      // row-for-row in-plan; the oracle pins the query-set size and booleans
      """SELECT count(*) AS n_queries, true AS results_nonempty, true AS parity_ok
         FROM embeddings WHERE vec_id % 5 = 1""",
      // Contract form: streamed results ⋈ whole-set batched search (parity).
      // Operator: the batched serving stream against the at-rest index.
      benchPlan = Some((s, d) =>
        graft.streaming.AnnServe.runStreamAnnServe(s, d, assertFull = false))),

    // Product-quantization ADC search (FAISS PQ, Jégou 2011), SELF-
    // ASSERTING like the LSH/IVF rows: recall@5 vs the in-plan exact
    // brute-force twin. m=16 × ksub=64 → 16-byte codes (16× compression);
    // the corpus side of the ADC scan reads ONLY (code, recon_nrm) — no
    // float math touches corpus rows. Measured recall on this uniform-
    // random corpus (PQ's worst case — no cluster structure): 0.594
    // (sf0.01) / 0.500 (sf0.1); floor 0.4.
    Query("q_embed_knn_pq", Batch, (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cb = Pq.train(s, emb, dims = 64, m = 16, ksub = 64)
      val approx = Pq.adcSearch(Pq.encode(emb, cb), cb, q, k = 5)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.4).as("recall_ok"))
    },
      // PQ/ADC: the recall floor is asserted in-plan vs the exact twin; the
      // oracle pins the query-set size and the assertion outcome.
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: ADC search ⋈ brute-force twin + recall agg.
      // Operator: driver-LUT ADC scan over the 16-byte codes at rest.
      benchPlan = Some((s, d) => {
        import graft.operators.Pq
        val reg = graft.operators.IndexRegistry
        Pq.adcSearch(reg.pqEncoded(s, d), reg.pqCodebook(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 32), k = 5)
      })),

    // IVF-PQ (FAISS IVFPQ): coarse cells + RESIDUAL product codes — the
    // production web-scale ANN layout (cell partition pruning cuts the
    // scan to nProbe/nLists of the corpus, and what IS read is 16-byte
    // codes, not floats). Self-asserting recall@5 vs the exact twin with
    // nProbe=8 of 16 cells; measured 0.575 (sf0.01) / 0.450 (sf0.1) on
    // uniform-random data (worst case), floor 0.35.
    Query("q_embed_knn_ivfpq", Batch, (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val idx = Pq.buildIvfPq(s, emb, dims = 64, nLists = 16, m = 16, ksub = 64)
      val approx = Pq.ivfPqSearch(idx, q, k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.35).as("recall_ok"))
    },
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: IVFPQ search ⋈ brute-force twin + recall agg.
      // Operator: cell-pruned residual-ADC scan of the at-rest codes.
      benchPlan = Some((s, d) => {
        import graft.operators.Pq
        val reg = graft.operators.IndexRegistry
        Pq.ivfPqSearch(reg.ivfPqFull(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 32), k = 5, nProbe = 8)
      })),

    // BATCHED (join-based) IVF-PQ ADC — the query side stays a TABLE:
    // per-row probe planning map-side, equi-join on cell_id, no driver
    // collect of queries (plan-tested in PqSpec). SELF-ASSERTING: the
    // batch path must return ROW-IDENTICAL results (query, neighbor,
    // cosine, rank) to the driver-planned ivfPqSearch on the same index —
    // same probe ranking, same ADC arithmetic, same rounding — and the
    // query emits that parity as a boolean the oracle pins.
    Query("q_embed_knn_pq_batch", Batch, (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val idx = Pq.buildIvfPq(s, emb, dims = 64, nLists = 16, m = 16, ksub = 64)
      val drv = Pq.ivfPqSearch(idx, q, k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .withColumn("in_drv", lit(1L))
      val bat = Pq.ivfPqSearchBatch(idx, q, k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .withColumn("in_bat", lit(1L))
      drv.join(bat, Seq("query_id", "neighbor_id", "cosine", "rank"), "full")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(when(col("in_drv").isNull || col("in_bat").isNull, 1L)), lit(0L)) === 0L)
            .as("paths_match"))
    },
      // batch/driver ADC parity is asserted in-plan; the oracle pins the
      // query count and the parity boolean
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS paths_match
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: batch path ⋈ driver-planned twin (parity assert).
      // Operator: the batched join-based ADC search alone.
      benchPlan = Some((s, d) => {
        import graft.operators.Pq
        val reg = graft.operators.IndexRegistry
        Pq.ivfPqSearchBatch(reg.ivfPqFull(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") < 32), k = 5, nProbe = 8)
      })),

    // Retrieve-then-rerank (stage-2 of every production vector search):
    // the PQ/ADC compressed search proposes a k'=64 shortlist per query,
    // then ONLY those |Q|·64 pairs are scored at full precision. Final
    // quality is bounded by shortlist recall@64, not compressed recall@5:
    // measured recall@5 jumps 0.59→1.000 (sf0.01) / 0.50→0.988 (sf0.1)
    // vs ADC-only, while full-precision work stays corpus-independent.
    // Floor 0.9.
    Query("q_embed_knn_rerank", Batch, (s, d) => {
      import graft.operators.Pq
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 32)
      val exact = Similarity.bruteForceKnn(q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cb = Pq.train(s, emb, dims = 64, m = 16, ksub = 64)
      val short = Pq.adcSearch(Pq.encode(emb, cb), cb, q, k = 64)
      val rr = Similarity.rerankExact(short, q, emb, k = 5)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
      exact.join(rr, Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          (coalesce(sum(col("hit")), lit(0L)) >= count(lit(1)) * 0.9).as("recall_ok"))
    },
      """SELECT count(DISTINCT vec_id) AS n_queries, true AS recall_ok
         FROM embeddings WHERE vec_id < 32""",
      // Contract form: ADC shortlist → exact rerank ⋈ twin + recall agg.
      // Operator: k'=64 compressed shortlist + |Q|·64 full-precision scores.
      benchPlan = Some((s, d) => {
        import graft.operators.Pq
        val reg = graft.operators.IndexRegistry
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 32)
        Similarity.rerankExact(
          Pq.adcSearch(reg.pqEncoded(s, d), reg.pqCodebook(s, d), q, k = 64),
          q, emb, k = 5)
      })),

    // int8 scalar quantization (FAISS SQ8): 4× smaller embeddings at rest.
    // Self-asserting: per-component reconstruction error must stay within
    // the round-to-nearest bound scale/2 (+ float slack), and cosine
    // against the original must stay ≥ 0.99 — the oracle pins corpus size
    // and the literal trues.
    Query("q_embed_quantize", Batch, (s, d) => {
      import graft.operators.Similarity
      val emb = Tables.embeddings(s, d)
      val q = emb.select(col("vec_id"), col("embedding"),
        Similarity.quantizeInt8(col("embedding")).as("q"))
      val r = q.select(col("vec_id"), col("embedding"),
        Similarity.dequantizeInt8(col("q")).as("recon"),
        (col("q.scale").cast("double") / 2 + lit(1e-6)).as("bound"))
      r.select(col("vec_id"),
          (aggregate(zip_with(col("embedding"), col("recon"), (a, b) => abs(a - b)),
            lit(0.0), (m, e) => greatest(m, e)) <= col("bound")).as("err_ok"),
          (cosineSimilarity(col("embedding"), col("recon")) >= 0.99 ||
            l2Norm(col("embedding")) === 0.0).as("cos_ok"))
        .agg(count(lit(1)).as("n_vectors"),
          (sum(when(col("err_ok") && col("cos_ok"), 0L).otherwise(1L)) === 0L).as("all_ok"))
    },
      "SELECT count(*) AS n_vectors, true AS all_ok FROM embeddings"),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-N
    // and the embedding-cosine semantic top-N (RRF, Cormack et al. 2009) —
    // rank-only combination, no score normalization, bounded fusion join.
    Query("q_hybrid_rrf", Batch, (s, d) =>
      graft.operators.Similarity.hybridRrf(
        Tables.documents(s, d), Tables.embeddings(s, d),
        Bm25QueryTerms, queryVecId = 7),
      // Lexical side = the q_bm25 scoring verbatim; semantic side = the
      // q_embed_knn cosine (rounded before ranking, same tie-break); fusion
      // adds the two 1/(60+rank) terms in the same order.
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
              f AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
                           CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) AS tf0,
                           CAST(len(list_filter(tk, x -> x = 'join')) AS DOUBLE) AS tf1,
                           CAST(len(list_filter(tk, x -> x = 'merge')) AS DOUBLE) AS tf2
                    FROM t),
              c AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                           sum(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
                           sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
                           sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2
                    FROM f),
              lex AS (SELECT doc_id,
                             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
                      FROM (
                        SELECT doc_id,
                               round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                                   + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                                   + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
                        FROM f, c)
                      WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 15),
              sem AS (SELECT neighbor_id AS doc_id,
                             CAST(row_number() OVER (ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS sem_rank
                      FROM (
                        SELECT c2.vec_id AS neighbor_id,
                               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                            CAST(c2.embedding AS DOUBLE[])), 6) AS cosine
                        FROM embeddings q, embeddings c2
                        WHERE q.vec_id = 7 AND c2.vec_id <> 7)
                      ORDER BY cosine DESC, neighbor_id LIMIT 15)
         SELECT doc_id, lex_rank, sem_rank,
                round(coalesce(1.0 / (60 + CAST(lex_rank AS DOUBLE)), 0.0)
                      + coalesce(1.0 / (60 + CAST(sem_rank AS DOUBLE)), 0.0), 6) AS rrf
         FROM lex FULL JOIN sem USING (doc_id)
         ORDER BY rrf DESC, doc_id LIMIT 10"""),
  )
}
