package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.{Batch, Stream}
import Common._

/** k-means clustering and the semantic-dedup family built on it
  * (`graft.operators.Clustering` and its streams). */
private[contract] object ClusteringQueries {

  /** Semantic split-leakage replay, shared by the offline audit
    * (q_semantic_leakage) and its streaming monitor (+ parity column):
    * within-cell pairs off the shared SemDeDup prefix, split labels
    * from the portable hash (kh % 100), sorted per pair, counts +
    * shares, off-diagonal rows flagged. */
  private lazy val semanticLeakageOracleSql: String =
    s"""WITH ${graft.operators.Clustering.semDedupCellsSql(
           8, 5, 64, graft.operators.Clustering.SemDedupTau)},
       |pr AS (SELECT CASE WHEN x.kh % 100 < 90 THEN 'train'
       |                   WHEN x.kh % 100 < 95 THEN 'val' ELSE 'test' END AS s_a,
       |              CASE WHEN y.kh % 100 < 90 THEN 'train'
       |                   WHEN y.kh % 100 < 95 THEN 'val' ELSE 'test' END AS s_b
       |       FROM sdv x JOIN sdv y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |       WHERE round(list_cosine_similarity(x.vd, y.vd), 6) >= ${graft.operators.Clustering.SemDedupTau}),
       |pu AS (SELECT least(s_a, s_b) AS split_a, greatest(s_a, s_b) AS split_b FROM pr),
       |c AS (SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
       |      FROM pu GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tt FROM c)
       |SELECT split_a, split_b, n_pairs,
       |       round(CAST(n_pairs AS DOUBLE) / t.tt, 6) AS share,
       |       split_a != split_b AS is_leak
       |FROM c, t ORDER BY 1, 2""".stripMargin

  val all: Seq[Query] = Seq(
    // Streaming cluster-share monitor: the frozen even-half k-means
    // model judges the arriving odd half — state = k integer counts
    // (stateless codegen assignment → complete-mode count), per-cluster
    // share table with smoothed PSI terms, parity asserted in-plan.
    Query("q_kmeans_share_stream", Stream, (s, d) =>
      graft.streaming.ClusterShareStream.runStreamClusterShare(s, d),
      graft.operators.Clustering.shareStreamOracleSql(8, 5, 64)),

    // Grouped cluster-share monitor: the count key is (label, cluster) —
    // the global form says WHICH mode shifted, this says WHOSE slice
    // shifted it. State = |labels|·k integers; within-label shares and
    // smoothed PSI terms; streamed ≡ batch asserted in-plan per label.
    Query("q_cluster_share_by_label", Stream, (s, d) =>
      graft.streaming.ClusterShareStream.runStreamClusterShareBy(s, d),
      // Grouped monitor twin: (label, cluster) counts off the same frozen
      // even-half chain; within-label shares/PSI; parity pinned TRUE.
      graft.operators.Clustering.shareStreamByOracleSql(8, 5, 64)),

    // Quality-weighted per-cluster sampling quotas — the SemDeDup-style
    // budget decision composing three operators: k-means assignment ×
    // quality keep counts × the capped-waterfill allocator (weight =
    // kept-doc count, capacity = cluster size, budget 60% of the
    // quality-bearing corpus; high-quality clusters saturate first).
    Query("q_cluster_quota", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      cl.sampleQuota(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d),
        graft.operators.Curation.qualityScoreRaw(Tables.documents(s, d))
          .select(col("doc_id"), col("keep")), budgetPct = 60)
    },
      // Cluster-quota replay: kmeans chain + the quality keep CTE + the
      // q_mixture_waterfill ratio-ordered window fold with (avail, w) =
      // (cluster size, kept count); zero-keep clusters drop.
      s"""WITH ${graft.operators.Clustering.stagesSql(8, 5, 64)},
         |ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
         |            z AS (SELECT doc_id,
         |                         -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
         |                         + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
         |                         + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
         |                         + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
         |                  FROM f)
         |       SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
         |sw AS (SELECT a.cl AS cl, CAST(count(*) AS BIGINT) AS avail,
         |              CAST(sum(CASE WHEN ql.keep THEN 1 ELSE 0 END) AS BIGINT) AS w
         |       FROM af a JOIN ql ON ql.doc_id = a.vec_id GROUP BY 1),
         |sw2 AS (SELECT * FROM sw WHERE w > 0),
         |t AS (SELECT CAST(sum(avail) AS HUGEINT) AS total FROM sw2),
         |r AS (SELECT cl, avail, w,
         |             row_number() OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl) AS rn,
         |             coalesce(sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefa,
         |             sum(w) OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remw
         |      FROM sw2),
         |s2 AS (SELECT r.*, CAST((t.total * 60) // 100 - r.prefa AS HUGEINT) AS lrem FROM r, t),
         |cut AS (SELECT rn AS crn, lrem AS lc, CAST(remw AS HUGEINT) AS wc FROM s2
         |        WHERE NOT (lrem * w >= CAST(avail AS HUGEINT) * remw)
         |        ORDER BY rn LIMIT 1)
         |SELECT CAST(s2.cl AS INT) AS cluster, s2.avail AS n, s2.w AS keeps,
         |       CAST(CASE WHEN s2.rn < cut.crn THEN s2.avail
         |                 ELSE (cut.lc * s2.w) // cut.wc END AS BIGINT) AS quota,
         |       s2.rn < cut.crn AS saturated,
         |       CASE WHEN s2.avail > 0
         |            THEN round(CAST(CASE WHEN s2.rn < cut.crn THEN s2.avail
         |                            ELSE (cut.lc * s2.w) // cut.wc END AS DOUBLE)
         |                       / s2.avail, 6) END AS fill_rate
         |FROM s2, cut ORDER BY cluster""".stripMargin),

    // SemDeDup (Abbas et al. 2023): within-k-means-cell semantic pruning
    // — pairs generated ONLY inside an assignment cell (the cell, not
    // the corpus, bounds the quadratic), keeper = the portable-hash key
    // minimum of each near-dup relation, per-cluster prune rates. The
    // oracle replays the full kmeans stage chain + the within-cell pair
    // predicate + the same keeper rule.
    Query("q_semdedup_kmeans", Batch, (s, d) =>
      graft.operators.Clustering.semDedup(
        graft.operators.Clustering.cleanVectors(Tables.embeddings(s, d)),
        graft.operators.Clustering.modelFor(s, d)),
      // SemDeDup replay: the full kmeans stage chain + within-cell pair
      // predicate (the established 6dp list_cosine_similarity twin) + the
      // portable-hash keeper rule + distinct-victim counts per cluster.
      graft.operators.Clustering.semDedupOracleSql(
      8, 5, 64, graft.operators.Clustering.SemDedupTau)),

    // Semantic split-leakage audit: near-dup EMBEDDING pairs crossing
    // the 90/5/5 split — the paraphrase contamination the text-shingle
    // leakage gate can't see. Off-diagonal rows are the leaks.
    Query("q_semantic_leakage", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      cl.semanticLeakage(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
    },
      // Semantic-leakage replay: within-cell pairs off the shared prefix
      // (sdv carries the portable hash, so the split rule is kh % 100),
      // split labels sorted per pair, counts + shares.
      semanticLeakageOracleSql),

    // The leakage REMEDY: split by the embedding near-dup CLUSTER ROOT
    // (connected components of the within-cell pair graph), so no
    // near-dup relation can span splits by construction; carries the
    // recomputed off-diagonal re-audit as its own proof (leak_free).
    Query("q_split_by_semcluster", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      cl.splitBySemCluster(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
    },
      // The remedy's replay: exact within-cell pairs off the shared
      // prefix, recursive-CTE components, cluster-root hash split, and
      // the recomputed off-diagonal re-audit fold.
      graft.operators.Clustering.splitBySemClusterOracleSql(
        8, 5, 64, graft.operators.Clustering.SemDedupTau)),

    // Grouped SemDeDup readout: the same keeper decision rolled up per
    // SOURCE — whose crawl contributed the near-dups (sums over sources
    // reproduce the global per-cluster totals, twin-tested).
    Query("q_semdedup_by_source", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      cl.semDedupBySource(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d),
        Tables.documents(s, d))
    },
      // Grouped SemDeDup replay: distinct victims off the shared prefix,
      // attributed to their document's source.
      s"""WITH ${graft.operators.Clustering.semDedupCellsSql(
             8, 5, 64, graft.operators.Clustering.SemDedupTau)},
         |sv AS (SELECT DISTINCT victim FROM sdp),
         |nn AS (SELECT dd.source AS source, CAST(count(*) AS BIGINT) AS n
         |       FROM sdv JOIN documents dd ON dd.doc_id = sdv.vec_id
         |       WHERE dd.source IS NOT NULL GROUP BY 1),
         |pp AS (SELECT dd.source AS source, CAST(count(*) AS BIGINT) AS np
         |       FROM sv JOIN documents dd ON dd.doc_id = sv.victim
         |       WHERE dd.source IS NOT NULL GROUP BY 1)
         |SELECT nn.source AS source, nn.n AS n,
         |       CAST(coalesce(pp.np, 0) AS BIGINT) AS n_pruned,
         |       CAST(nn.n - coalesce(pp.np, 0) AS BIGINT) AS n_kept,
         |       round(CAST(coalesce(pp.np, 0) AS DOUBLE) / nn.n, 6) AS prune_rate
         |FROM nn LEFT JOIN pp ON pp.source = nn.source ORDER BY 1""".stripMargin),

    // CONTINUOUS semantic split-leakage monitor — the audit as a gate:
    // each micro-batch generates its near-dup pairs (cell-pruned probe
    // + in-batch generator, the ingest machinery) and appends ONLY its
    // ≤6-row split-pair grid delta; state is 6 integers. A
    // contaminating crawl pages someone before the next offline audit.
    // Streamed grid ≡ the whole-corpus audit asserted in-plan.
    Query("q_semantic_leakage_stream", Stream, (s, d) =>
      graft.streaming.SemDedupIngest.runStreamSemanticLeakage(s, d),
      // The streaming monitor's replay: the same grid + the pinned
      // parity column (streamed 6-integer grid ≡ the whole-corpus audit,
      // asserted in-plan).
      withParityAfter(semanticLeakageOracleSql, "AS is_leak"),
      // Contract form: streamed 6-integer grid ⋈ whole-corpus audit (parity).
      // Operator: the grid-delta monitor stream alone.
      benchPlan = Some((s, d) =>
        graft.streaming.SemDedupIngest.runStreamSemanticLeakage(s, d, assertParity = false))),

    // SemDeDup with DATA-DRIVEN k — the executable "k grows with the
    // corpus" posture: the capacity rule (smallest candidate k with
    // n/k ≤ 64, the paper's bounded-cell regime; see
    // Clustering.selectK for why not the inertia elbow) picks k from
    // the corpus count, then the standard per-cluster prune table runs
    // under the selected model. Picks k = 2/4/8 at sf0.001/0.01/0.1.
    Query("q_semdedup_auto_k", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val clean = cl.cleanVectors(Tables.embeddings(s, d))
      val k = cl.selectK(clean.count())
      cl.semDedup(clean, cl.modelFor(s, d, k = k))
        .select(lit(k).as("selected_k"), col("*"))
    },
      // Auto-k replay: one namespaced chain per candidate k, the exact
      // integer capacity rule as a 1-row CTE, the selected chain's prune
      // table (mutually exclusive UNION arms).
      graft.operators.Clustering.semDedupAutoKOracleSql(
        graft.operators.Clustering.AutoKCandidates, 5, 64,
        graft.operators.Clustering.SemDedupTau,
        graft.operators.Clustering.AutoKCap)),

    // CONTINUOUS SemDeDup — the flagship's streaming face: embeddings
    // replay as a batched file stream; each micro-batch assigns under
    // the FROZEN k-means model, probes ONLY its own cells' at-rest
    // partitions for cross-batch near-dup pairs, runs the in-batch
    // generator for same-batch pairs, and appends. Keeper rule applies
    // to the accumulated pairs at readout (retroactive eviction for
    // free), so streamed decisions ≡ whole-corpus semDedup exactly,
    // any batch split — asserted in-plan (ids, cosines, multiplicity).
    Query("q_semdedup_ingest_stream", Stream, (s, d) =>
      graft.streaming.SemDedupIngest.runStreamSemDedupIngest(s, d),
      // Streaming SemDeDup replay: the whole-corpus per-cluster prune
      // table + the pinned parity column (streamed pairs ≡ whole-corpus
      // generator, multiplicity included, asserted in-plan).
      graft.operators.Clustering.semDedupStreamOracleSql(
        8, 5, 64, graft.operators.Clustering.SemDedupTau),
      // Contract form: streamed pairs ⋈ whole-corpus generator (equality).
      // Operator: the cell-pruned ingest stream under the frozen model.
      benchPlan = Some((s, d) =>
        graft.streaming.SemDedupIngest.runStreamSemDedupIngest(s, d, assertParity = false))),

    // The END-TO-END SemDeDup budget: prune near-dups per cell, then
    // waterfill the sample budget over the SURVIVING pool weighted by
    // its quality keeps — redundant modes can't absorb budget with
    // copies. Composes the dedup keeper, the quality gate, and the
    // capped-waterfill allocator into one decision table.
    Query("q_semdedup_quota", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      cl.semDedupQuota(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d),
        graft.operators.Curation.qualityScoreRaw(Tables.documents(s, d))
          .select(col("doc_id"), col("keep")), budgetPct = 60)
    },
      // End-to-end SemDeDup budget replay: the shared victim-pair prefix,
      // NOT EXISTS survivors, quality keeps among survivors, then the
      // same ratio-ordered waterfill windows over (n_kept, keeps).
      s"""WITH ${graft.operators.Clustering.semDedupCellsSql(
             8, 5, 64, graft.operators.Clustering.SemDedupTau)},
         |surv AS (SELECT v.cl AS cl, v.vec_id AS vec_id FROM sdv v
         |         WHERE NOT EXISTS (SELECT 1 FROM sdp p
         |                           WHERE p.cl = v.cl AND p.victim = v.vec_id)),
         |ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
         |            z AS (SELECT doc_id,
         |                         -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
         |                         + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
         |                         + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
         |                         + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
         |                  FROM f)
         |       SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
         |sz AS (SELECT cl, CAST(count(*) AS BIGINT) AS n FROM sdv GROUP BY 1),
         |sw AS (SELECT s.cl AS cl, CAST(count(*) AS BIGINT) AS avail,
         |              CAST(sum(CASE WHEN ql.keep THEN 1 ELSE 0 END) AS BIGINT) AS w
         |       FROM surv s JOIN ql ON ql.doc_id = s.vec_id GROUP BY 1),
         |sw2 AS (SELECT * FROM sw WHERE w > 0),
         |t AS (SELECT CAST(sum(avail) AS HUGEINT) AS total FROM sw2),
         |r AS (SELECT cl, avail, w,
         |             row_number() OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl) AS rn,
         |             coalesce(sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefa,
         |             sum(w) OVER (ORDER BY CAST(avail AS DOUBLE) / w, cl
         |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS remw
         |      FROM sw2),
         |s2 AS (SELECT r.*, CAST((t.total * 60) // 100 - r.prefa AS HUGEINT) AS lrem FROM r, t),
         |cut AS (SELECT rn AS crn, lrem AS lc, CAST(remw AS HUGEINT) AS wc FROM s2
         |        WHERE NOT (lrem * w >= CAST(avail AS HUGEINT) * remw)
         |        ORDER BY rn LIMIT 1)
         |SELECT CAST(s2.cl AS INT) AS cluster, sz.n AS n, s2.avail AS n_kept, s2.w AS keeps,
         |       CAST(CASE WHEN s2.rn < cut.crn THEN s2.avail
         |                 ELSE (cut.lc * s2.w) // cut.wc END AS BIGINT) AS quota,
         |       s2.rn < cut.crn AS saturated,
         |       CASE WHEN s2.avail > 0
         |            THEN round(CAST(CASE WHEN s2.rn < cut.crn THEN s2.avail
         |                            ELSE (cut.lc * s2.w) // cut.wc END AS DOUBLE)
         |                       / s2.avail, 6) END AS fill_rate
         |FROM s2 JOIN sz ON sz.cl = s2.cl, cut ORDER BY cluster""".stripMargin),

    // Distributed fixed-iteration Lloyd k-means over the embedding
    // corpus: per-cluster size + inertia. The model is k·d rounded
    // doubles (driver/broadcast-sized); each iteration = one shuffle-free
    // codegen assignment projection + one (cluster, dim) decimal
    // aggregation; exact-decimal distances make the argmin (ties to the
    // lower cluster id) bit-replayable in DuckDB.
    Query("q_kmeans", Batch, (s, d) =>
      graft.operators.Clustering.kmeansRollup(
        graft.operators.Clustering.cleanVectors(Tables.embeddings(s, d)),
        graft.operators.Clustering.modelFor(s, d)),
      // k-means family: the generated fixed-iteration Lloyd replay (the
      // BpeTrain stage pattern; see Clustering.stagesSql) — hash-order
      // seeds, per-stage exact-decimal argmin + rounded centroid update
      // with empty-cluster carry, then each consumer's final fold.
      graft.operators.Clustering.kmeansOracleSql(8, 5, 64)),

    // Elbow sweep k ∈ {2, 4, 8}: total inertia per model — the
    // model-selection evidence behind the family's fixed k (each model
    // trains once per JVM; each k costs one assignment + one fold).
    Query("q_kmeans_elbow", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val rows = cl.cleanVectors(Tables.embeddings(s, d))
      Seq(2, 4, 8).map { k =>
        cl.assign(rows, cl.modelFor(s, d, k))
          .agg(count(lit(1)).as("n"), sum(col("d2")).as("s"))
          .select(lit(k).as("k"), col("n"),
            round(col("s").cast("double"), 6).as("inertia"))
      }.reduce(_.unionAll(_)).orderBy(col("k"))
    },
      graft.operators.Clustering.elbowOracleSql(Seq(2, 4, 8), 5, 64)),

    // Per-cluster quality profile: WHICH semantic mode is low quality —
    // the SemDeDup-style pruning decision input (assignment ⋈ the LR
    // quality score on the shared id domain; exact decimal score sums).
    Query("q_cluster_quality", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val assigned = cl.assign(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
      val q = graft.operators.Curation.qualityScoreRaw(Tables.documents(s, d))
        .select(col("doc_id"), col("quality"), col("keep"))
      assigned.select(col("cl"), col("vec_id"))
        .join(q, col("vec_id") === col("doc_id"))
        .groupBy(col("cl"))
        .agg(count(lit(1)).as("n"),
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(8, 6))).as("sq"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"))
        .select(col("cl").cast("int").as("cluster"), col("n"),
          round(col("sq").cast("double") / col("n"), 6).as("avg_quality"),
          round(col("keeps").cast("double") / col("n"), 6).as("keep_rate"))
        .orderBy(col("cluster"))
    },
      // Cluster composition consumers: the assignment joined back to the
      // text stack on the shared id domain (quality profile; distinctive
      // terms with the rounded-score rank discipline of q_tfidf_top_per_doc).
      s"""WITH ${graft.operators.Clustering.stagesSql(8, 5, 64)},
         |ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
         |            z AS (SELECT doc_id,
         |                         -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
         |                         + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
         |                         + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
         |                         + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
         |                  FROM f)
         |       SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality,
         |              1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
         |j AS (SELECT a.cl AS cl, ql.quality AS q, ql.keep AS keep
         |      FROM af a JOIN ql ON ql.doc_id = a.vec_id)
         |SELECT CAST(cl AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
         |       round(CAST(sum(CAST(q AS DECIMAL(8,6))) AS DOUBLE) / count(*), 6) AS avg_quality,
         |       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),

    // Per-cluster distinctive terms: WHAT each semantic mode is about —
    // cluster-tf × ln(k / cluster-df) over the assignment ⋈ documents
    // join. The tf ≥ 3 prune bounds the ranking window's input: the true
    // top-5 of any large cluster has tf far above any fixed floor, so
    // pruning is lossless while keeping the per-cluster window small
    // (at 100 TB raise the floor with the data; the window never sees
    // the vocabulary tail).
    Query("q_cluster_terms", Batch, (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.tokens
      val cl = graft.operators.Clustering
      val k = graft.operators.Clustering.DefaultK
      val assigned = cl.assign(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl"), col("vec_id"))
      val terms = assigned
        .join(Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("vec_id") === col("doc_id"))
        .select(col("cl"), explode(tokens(col("text"))).as("term"))
        .filter(length(col("term")) >= 4) // drop stopword-length tokens
      val tf = terms.groupBy(col("cl"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      val w = Window.partitionBy(col("cl"))
        .orderBy(col("score").desc, col("term"))
      tf.filter(col("tf") >= 3).join(df_, Seq("term"))
        .select(col("cl"), col("term"),
          round(col("tf") * log(lit(k.toDouble * 2) / col("cdf")), 6).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("cl").cast("int").as("cluster"), col("rank"),
          col("term"), col("score"))
        .orderBy(col("cluster"), col("rank"))
    },
      s"""WITH ${graft.operators.Clustering.stagesSql(8, 5, 64)},
         |tj AS (SELECT a.cl AS cl, unnest(string_split(dd.text, ' ')) AS term
         |       FROM af a JOIN documents dd ON dd.doc_id = a.vec_id),
         |tt AS (SELECT cl, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM tj WHERE len(term) >= 4 GROUP BY 1, 2),
         |cdf AS (SELECT term, CAST(count(*) AS BIGINT) AS cdf FROM tt GROUP BY 1)
         |SELECT CAST(cl AS INT) AS cluster, rank, term, score FROM (
         |  SELECT cl, term, round(tf * ln(16.0 / cdf), 6) AS score,
         |         CAST(row_number() OVER (PARTITION BY cl
         |                ORDER BY round(tf * ln(16.0 / cdf), 6) DESC, term) AS INT) AS rank
         |  FROM tt JOIN cdf USING (term) WHERE tf >= 3)
         |WHERE rank <= 5 ORDER BY cluster, rank""".stripMargin),

    // Centroid-based silhouette (Rousseeuw 1987, centroid simplification)
    // of the trained model — cluster cohesion vs nearest-other-centroid
    // separation, one projection over the corpus, no O(n²) pairs.
    Query("q_silhouette", Batch, (s, d) =>
      graft.operators.Clustering.silhouette(
        graft.operators.Clustering.cleanVectors(Tables.embeddings(s, d)),
        graft.operators.Clustering.modelFor(s, d)),
      graft.operators.Clustering.silhouetteOracleSql(8, 5, 64)),

    // Cluster ↔ label mutual information — does the unsupervised
    // structure recover the labeling? Rides the established sorted-cell
    // MI fold over the (cluster, label) contingency cells.
    Query("q_cluster_label_mi", Batch, (s, d) => {
      val cl = graft.operators.Clustering
      val assigned = cl.assign(
        cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
      graft.operators.Robust.mutualInformation(
        assigned.join(
            Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
          .filter(col("label").isNotNull)
          .select(col("cl").cast("long").as("x"), col("label").cast("long").as("y")),
        "x", "y")
    },
      graft.operators.Clustering.labelMiOracleSql(8, 5, 64)),

    // Cluster-balanced sampling: a fixed quota per k-means cluster via
    // the portable-hash priority + bounded-heap top-k per cluster — the
    // SemDeDup-style diversity draw (no dense mode dominates the mix).
    Query("q_cluster_sample", Batch, (s, d) => {
      import graft.functions.TopKBy.topKBy
      val cl = graft.operators.Clustering
      cl.assign(cl.cleanVectors(Tables.embeddings(s, d)), cl.modelFor(s, d))
        .select(col("cl").cast("int").as("cluster"), col("vec_id"),
          graft.functions.PortableHash.keyHash(col("vec_id")).cast("double").as("pri"))
        .groupBy(col("cluster"))
        .agg(topKBy(col("pri"), col("vec_id"), 20).as("keep"))
        .select(col("cluster"), explode(col("keep.id")).as("vec_id"))
        .orderBy(col("cluster"), col("vec_id"))
    },
      graft.operators.Clustering.sampleOracleSql(8, 5, 64, 20)),
  )
}
