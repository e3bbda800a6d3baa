package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.{Batch, Stream}
import Common._

/** Training-data curation (`graft.operators.Curation` and its
  * streams): mixtures, splits, leakage, packing and ordering. */
private[contract] object CurationQueries {

  /** Target mixture weights per source — suffix mod 5 + 1, so the 20
    * sources span a 1..5× weight range. Shared with the generated oracle
    * SQL so both engines see the same literals. */
  private val MixtureWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((i % 5) + 1).toDouble).toMap

  /** Waterfill replay: saturation monotone along the avail/w ratio
    * order (IEEE double key, source tie-break — the operator sorts by
    * the identical key); rows before the first non-saturated row have
    * a VALID running leftover because every predecessor saturated, so
    * `ORDER BY rn LIMIT 1` over the violated condition is exactly the
    * cutoff; flags past the cutoff are never consulted. */
  // Supply from raw availability; the fold itself is the SHARED
  // generator (Curation.waterfillCtes) behind both chained mixture
  // plans, so the stage oracle cannot desynchronize from them.
  private lazy val mixtureWaterfillSql: String = {
    val wcase = MixtureWeights.toSeq.sortBy(_._1)
      .map { case (src, w) => s"WHEN '$src' THEN ${w.toLong}" }.mkString(" ")
    s"""WITH dt AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |            FROM documents WHERE source IS NOT NULL),
       |a AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS avail FROM dt GROUP BY 1),
       |sw AS (SELECT source, avail, CAST(CASE source $wcase END AS BIGINT) AS w
       |       FROM a WHERE (CASE source $wcase END) IS NOT NULL),
       |${graft.operators.Curation.waterfillCtes("", "sw", 90)}
       |SELECT wf.source AS source, wf.avail AS avail_tokens, wf.w AS weight,
       |       wf.alloc_tokens AS alloc_tokens,
       |       wf.saturated AS saturated,
       |       CASE WHEN wf.avail > 0
       |            THEN round(CAST(wf.alloc_tokens AS DOUBLE) / wf.avail, 6)
       |            END AS rate
       |FROM wf ORDER BY source""".stripMargin
  }

  // Mixture oracle: same weight literals (generated from MixtureWeights),
  // same op order in the rate arithmetic (bit-identical doubles), and the
  // keep decision as an INTEGER cut on the portable hash.
  private lazy val dataMixtureSql: String = {
    val wcase = MixtureWeights.toSeq.sortBy(_._1)
      .map { case (src, w) => s"WHEN '$src' THEN $w" }.mkString(" ")
    val wsum = MixtureWeights.values.sum
    s"""WITH d AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
                          ${PortableHash.keyHashSql("doc_id")} AS u
                   FROM documents),
             a AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS avail FROM d GROUP BY source),
             t AS (SELECT CAST(sum(avail) AS DOUBLE) AS total FROM a),
             r AS (SELECT source, avail,
                          least(1.0, (CASE source $wcase END) * 0.5 / $wsum * total
                                     / CAST(avail AS DOUBLE)) AS rate_real
                   FROM a, t),
             k AS (SELECT d.source, count(*) AS n_kept, CAST(sum(d.n_toks) AS BIGINT) AS kept_tokens
                   FROM d JOIN r ON d.source = r.source
                   WHERE d.u < CAST(floor(rate_real * 1000000007.0) AS BIGINT)
                   GROUP BY d.source)
        SELECT r.source, r.avail AS avail_tokens, round(r.rate_real, 6) AS rate,
               coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_tokens, 0) AS kept_tokens
        FROM r LEFT JOIN k ON r.source = k.source ORDER BY r.source"""
  }

  val all: Seq[Query] = Seq(
    // Concat-and-chunk sequence packing via the two-level distributed
    // prefix sum (never a single-partition global window).
    Query("q_seq_pack", Batch, (s, d) =>
      graft.operators.SequencePack.packAssignments(
        Tables.documents(s, d).select(
          col("doc_id"), size(tokens(col("text"))).as("n_toks")),
        "doc_id", col("n_toks"), capacity = 512)
        .orderBy(col("doc_id")),
      // Global windowed cumsum replays the distributed two-level prefix sum.
      // DuckDB window sum(BIGINT) widens to HUGEINT → cast back.
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
              c AS (SELECT doc_id, n_tokens,
                           CAST(sum(n_tokens) OVER (ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS s
                    FROM t)
         SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                s // 512 AS seq_id,
                CAST(s % 512 AS INT) AS seq_offset,
                CAST((s + n_tokens - 1) // 512 - s // 512 + 1 AS INT) AS n_seqs,
                (s + n_tokens - 1) // 512 <> s // 512 AS straddles
         FROM c ORDER BY doc_id"""),

    // Curriculum ordering with source-balanced round-robin interleave
    // (easy-first by doc length): every training window sees the source
    // mixture. Distributed rank per source + a value-domain source index —
    // no single-task window (see operators/TrainingOrder.scala).
    Query("q_curriculum", Batch, (s, d) =>
      graft.operators.TrainingOrder.curriculumInterleave(
          Tables.documents(s, d), "source", length(col("text")), "doc_id")
        .orderBy(col("position")),
      // Curriculum interleave: within-source length rank, round-robin
      // position over dense source indexes — plain window functions replay
      // the distributed ranking exactly.
      """SELECT doc_id, source,
                (row_number() OVER (PARTITION BY source ORDER BY length(text), doc_id) - 1)
                  * (SELECT count(DISTINCT source) FROM documents)
                  + dense_rank() OVER (ORDER BY source) - 1 AS position
         FROM documents ORDER BY position"""),

    // Deterministic sharded shuffle: reproducible global training order +
    // shard placement from the doc id alone (overflow-proof Knuth
    // scramble), each shard ordered by the scrambled key. Rank rides the
    // same distributed core.
    Query("q_shard_shuffle", Batch, (s, d) =>
      graft.operators.TrainingOrder.shardShuffle(Tables.documents(s, d), "doc_id")
        .orderBy(col("shard"), col("pos")),
      // Sharded shuffle: the same overflow-proof Knuth scramble in plain
      // BIGINT arithmetic; per-shard ordering replayed with a window.
      s"""WITH k AS (SELECT doc_id, ${PortableHash.shardKeySql("doc_id")} AS key
                    FROM documents)
         SELECT doc_id, CAST(key % 16 AS BIGINT) AS shard,
                row_number() OVER (PARTITION BY key % 16 ORDER BY key, doc_id) AS pos
         FROM k ORDER BY shard, pos"""),

    // Dolma-style source mixing: deterministic hash-sample to a per-source
    // rate derived from target weights + token budget.
    Query("q_data_mixture", Batch, (s, d) =>
      graft.operators.Curation.dataMixture(
        Tables.documents(s, d), MixtureWeights, budgetFrac = 0.5),
      dataMixtureSql),

    // Capped waterfill allocator: the overflow a saturated source can't
    // absorb redistributes ∝ weight to the unsaturated ones (at 90% the
    // weight-4/5 sources bind and spill into the rest). One per-source
    // aggregation + a driver fold over the |sources|-row summary.
    // DoReMi-style domain reweighting (Xie 2023) — the mixture family's
    // feedback loop: EG ascent on per-domain excess loss (proxy:
    // 1 - avg LR quality; a production run feeds real losses into the
    // same fold). One corpus aggregation; the 5-iteration EG fold runs
    // on the |Sources|-row summary with 6dp rounding each step and a
    // LEFT-ASSOCIATED normalizer, so the weight trajectory replays
    // hash-exactly in the unrolled oracle (the BT MM discipline).
    Query("q_mixture_reweight", Batch, (s, d) =>
      graft.operators.Curation.mixtureReweight(s, Tables.documents(s, d)),
      // EG reweighting replay: the quality CTE + per-source aggregation +
      // 5 unrolled weight CTEs with explicit left-assoc normalizer sums,
      // all generated from the shared Sources/eta/iters constants.
      graft.operators.Curation.mixtureReweightSql()),

    // CONTINUOUS mixture reweighting — the monitor-family face of the
    // EG fold: per-source (count, exact DECIMAL quality-sum) state over
    // the fixed 20-source vocabulary; decimal sums merge exactly, so
    // streamed ≡ batch bit-for-bit (asserted in-plan) and the weight
    // table hash-matches the same unrolled oracle.
    Query("q_mixture_reweight_stream", Stream, (s, d) =>
      graft.streaming.MixtureStream.runStreamMixtureReweight(s, d),
      // Streamed EG monitor: identical expected table + pinned parity.
      graft.operators.Curation.mixtureReweightSql(parityCol = true),
      // Contract form: streamed per-source state ⋈ batch recompute (parity).
      // Operator: the complete-mode quality stream + EG readout alone.
      benchPlan = Some((s, d) =>
        graft.streaming.MixtureStream.runStreamMixtureReweight(s, d, assertParity = false))),

    Query("q_mixture_waterfill", Batch, (s, d) =>
      graft.operators.Curation.mixtureWaterfill(
        Tables.documents(s, d),
        MixtureWeights.view.mapValues(_.toLong).toMap, budgetPct = 90),
      // Waterfill replay: the same ratio-ordered prefix scan — exact
      // HUGEINT cross-products decide saturation, the first non-saturated
      // row pins the water level, floor division allocates the rest.
      mixtureWaterfillSql),

    // Data-constrained repeat-epochs allocator (Muennighoff 2023): when
    // the budget (200% of deduped tokens) exceeds a source's uniques,
    // epochs repeat (capped at 4) and repeated passes are priced with a
    // per-epoch 1/2 value decay — m(E) = 2 - 2^(1-E), dyadic hence
    // double-exact; all else is integer arithmetic, hash-exact.
    Query("q_repeat_epochs", Batch, (s, d) =>
      graft.operators.Curation.repeatEpochs(
        Tables.documents(s, d),
        MixtureWeights.view.mapValues(_.toLong).toMap),
      // Repeat-epochs replay: the same (source, text) dedup + integer
      // allocation chain, dyadic multipliers from the shared formula.
      graft.operators.Curation.repeatEpochsSql(
      MixtureWeights.view.mapValues(_.toLong).toMap)),

    // The END-TO-END mixture plan — the composition a production run
    // executes: measured quality → EG weights (mixtureReweight) →
    // integer micro-weights → proportional requests priced under the
    // repeat-decay curve (repeatEpochs) → capped waterfill allocation
    // against availability. One row per source with all three stages'
    // outputs plus four in-plan invariants (weights sum to 1, priced ≤
    // funded, alloc ≤ avail, Σalloc within the waterfill budget). The
    // oracle chains the three stage generators off the SAME weight CTE.
    Query("q_mixture_plan", Batch, (s, d) =>
      graft.operators.Curation.mixturePlan(s, Tables.documents(s, d)),
      // Chained mixture-plan replay: the reweight prelude's weight CASE
      // feeds the micro-weight CTE that drives both allocator chains —
      // all three stage oracles from the shared generators.
      graft.operators.Curation.mixturePlanSql()),

    // The COUPLED plan — waterfill over PRICED availability: each
    // source's supply is ⌊effective_tokens⌋ from the epoch pricing
    // (exact-integer dyadic floor), so alloc ≤ effective by
    // construction and the budget is spent in value units — the
    // allocator a production run couples to its pricing. Shared
    // generators end-to-end (reweight prelude, epochs chain, waterfill
    // fold); invariants include the coupling (alloc_within_effective).
    Query("q_mixture_plan_v2", Batch, (s, d) =>
      graft.operators.Curation.mixturePlanV2(s, Tables.documents(s, d)),
      graft.operators.Curation.mixturePlanV2Sql()),

    // Padding-waste audit — the batch-shape cost a trainer pays:
    // flat padding to maxLen vs B equal-width length buckets, per
    // bucket waste + overall fractions, all exact integers; the
    // bucketed-never-worse invariant asserted in-plan.
    Query("q_padding_waste", Batch, (s, d) =>
      graft.operators.Curation.paddingWaste(Tables.documents(s, d)),
      graft.operators.Curation.paddingWasteSql()),

    // Incremental (batch-vs-corpus) dedup with reason-coded statuses; the
    // corpus/batch split is the id midpoint, derived like orderSpan.
    Query("q_incremental_dedup", Batch, (s, d) => {
      val half = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) / 2
      graft.operators.Curation.incrementalDedup(Tables.documents(s, d), half)
    },
      // Brute-force quadratic replay of the prefix-filter near checks (the
      // driver runs oracles at sf0.01 only); same 6-dp rounded Jaccard, same
      // size-ratio precondition, same precedence CASE.
      """WITH sp AS (SELECT max(doc_id) // 2 AS half FROM documents),
              tk AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
              sh AS (SELECT doc_id, sha256(text) AS sha,
                            CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                                 ELSE list_distinct([array_to_string(t[i:i+2], ' ')
                                                     for i in range(1, len(t) - 1)]) END AS s
                     FROM tk),
              c AS (SELECT sh.* FROM sh, sp WHERE doc_id < half),
              b AS (SELECT sh.* FROM sh, sp WHERE doc_id >= half),
              ec AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.sha = c.sha),
              eb AS (SELECT b1.doc_id FROM b b1
                     WHERE EXISTS (SELECT 1 FROM b b2 WHERE b2.sha = b1.sha AND b2.doc_id < b1.doc_id)),
              nc AS (SELECT DISTINCT b.doc_id FROM b JOIN c
                       ON len(c.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(c.s)
                      AND round(len(list_intersect(b.s, c.s)) * 1.0
                                / len(list_distinct(list_concat(b.s, c.s))), 6) >= 0.7),
              nb AS (SELECT DISTINCT b2.doc_id FROM b b1 JOIN b b2
                       ON b1.doc_id < b2.doc_id
                      AND len(b1.s) * 0.7 <= len(b2.s) AND len(b2.s) * 0.7 <= len(b1.s)
                      AND round(len(list_intersect(b1.s, b2.s)) * 1.0
                                / len(list_distinct(list_concat(b1.s, b2.s))), 6) >= 0.7)
         SELECT doc_id,
                CASE WHEN doc_id IN (SELECT doc_id FROM ec) THEN 'exact_corpus'
                     WHEN doc_id IN (SELECT doc_id FROM eb) THEN 'exact_batch'
                     WHEN doc_id IN (SELECT doc_id FROM nc) THEN 'near_corpus'
                     WHEN doc_id IN (SELECT doc_id FROM nb) THEN 'near_batch'
                     ELSE 'kept' END AS status
         FROM b ORDER BY doc_id"""),

    // Deterministic 90/5/5 split manifest per source.
    Query("q_dataset_split", Batch, (s, d) =>
      graft.operators.Curation.datasetSplit(Tables.documents(s, d)),
      s"""SELECT source,
                CASE WHEN ${PortableHash.keyHashSql("doc_id")} % 100 < 90 THEN 'train'
                     WHEN ${PortableHash.keyHashSql("doc_id")} % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Split-leakage gate: near-dup clusters spanning train/val/test — the
    // eval-contamination bug a doc-id-hashed split cannot see (clusters
    // from the banded dedup stack, one keyed join, 1-row fold).
    Query("q_split_leakage", Batch, (s, d) =>
      graft.operators.Curation.splitLeakage(Tables.documents(s, d)),
      // Same recursive-CTE clusters joined with the doc-id-hash split rule;
      // leaky = a cluster whose members span more than one split.
      s"""WITH RECURSIVE pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(v, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
         clusters AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         sp AS (SELECT doc_id,
                       CASE WHEN ${PortableHash.keyHashSql("doc_id")} % 100 < 90 THEN 'train'
                            WHEN ${PortableHash.keyHashSql("doc_id")} % 100 < 95 THEN 'val'
                            ELSE 'test' END AS split
                FROM documents),
         per AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
                        count(DISTINCT split) AS n_splits
                 FROM clusters JOIN sp USING (doc_id) GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(count(CASE WHEN n_splits > 1 THEN 1 END) AS BIGINT) AS n_leaky_clusters,
                CAST(coalesce(sum(CASE WHEN n_splits > 1 THEN n_docs END), 0) AS BIGINT) AS n_leaky_docs
         FROM per"""),

    // The remedy: split by cluster root — leak-free by construction, with
    // the re-audit carried in the output (leak_free column).
    Query("q_split_by_cluster", Batch, (s, d) =>
      graft.operators.Curation.splitByCluster(Tables.documents(s, d)),
      // The remedy's oracle: same clusters, split on the cluster-root hash,
      // per-split rollup plus the recomputed leak_free re-audit.
      s"""WITH RECURSIVE pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(v, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
         clusters AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         a AS (SELECT d.doc_id, c.cluster_id,
                      CASE WHEN ${PortableHash.keyHashSql("coalesce(c.cluster_id, d.doc_id)")} % 100 < 90 THEN 'train'
                           WHEN ${PortableHash.keyHashSql("coalesce(c.cluster_id, d.doc_id)")} % 100 < 95 THEN 'val'
                           ELSE 'test' END AS split
               FROM documents d LEFT JOIN clusters c USING (doc_id)),
         per AS (SELECT cluster_id, count(DISTINCT split) AS n_splits
                 FROM a WHERE cluster_id IS NOT NULL GROUP BY 1),
         leak AS (SELECT CAST(coalesce(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaky
                  FROM per)
         SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(cluster_id) AS BIGINT) AS n_clustered_docs,
                (SELECT n_leaky FROM leak) = 0 AS leak_free
         FROM a GROUP BY 1 ORDER BY 1"""),

    // Heaps'-law vocabulary growth at doc-order deciles — "is new data
    // still bringing new language?" (exact integers: two-level running
    // scan for cutoffs, token-domain first-doc aggregate, 10-row joins).
    Query("q_vocab_growth", Batch, (s, d) =>
      graft.operators.Curation.vocabGrowth(Tables.documents(s, d)),
      // Same doc-order running totals, rank-pick cutoffs, first-doc token
      // aggregate and 10-row condition join; ttr = vocab/tokens.
      """WITH pd AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS c
                     FROM documents),
              cum AS (SELECT doc_id,
                             CAST(sum(c) OVER (ORDER BY doc_id) AS BIGINT) AS cum_c,
                             CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
                      FROM pd),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pd),
              tg AS (SELECT CAST(k AS INT) AS decile, (n * k + 9) // 10 AS r
                     FROM tot, range(1, 11) t(k)),
              cuts AS (SELECT tg.decile, cum.doc_id AS cut, cum.rn AS n_docs,
                              cum.cum_c AS n_tokens
                       FROM tg JOIN cum ON cum.rn = tg.r),
              firsts AS (SELECT tok, min(doc_id) AS first_doc FROM
                           (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
                            FROM documents)
                         GROUP BY 1),
              vc AS (SELECT c.decile, CAST(count(*) AS BIGINT) AS vocab
                     FROM cuts c JOIN firsts f ON f.first_doc <= c.cut GROUP BY 1)
         SELECT c.decile, c.n_docs, c.n_tokens, vc.vocab,
                round(CAST(vc.vocab AS DOUBLE) / CAST(c.n_tokens AS DOUBLE), 6) AS ttr
         FROM cuts c JOIN vc USING (decile) ORDER BY decile"""),

    // Zipf-law fit over the top-1000 frequency head: slope ≈ −1 is
    // healthy language; flat = boilerplate, steep = degenerate vocab
    // (TakeOrdered head, sorted ≤1000-term ln fold).
    Query("q_zipf_fit", Batch, (s, d) =>
      graft.operators.Curation.zipfFit(Tables.documents(s, d)),
      // Same top-K head (ORDER BY f DESC, tok LIMIT), same sorted struct
      // list, ascending-rank ln folds (1-based list index = rank) and the
      // identical OLS chain.
      """WITH f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM
                      (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
                    GROUP BY 1 ORDER BY f DESC, tok LIMIT 1000),
              hs AS (SELECT list_sort(list({'nf': -f, 'tok': tok, 'f': f})) AS hs,
                            CAST(count(*) AS BIGINT) AS k FROM f),
              t AS (SELECT k, list_transform(hs, (x, i) ->
                      {'lx': ln(CAST(i AS DOUBLE)), 'ly': ln(CAST(x.f AS DOUBLE))}) AS ts
                    FROM hs),
              m AS (SELECT k, CAST(k AS DOUBLE) AS kd,
                           list_sum(list_transform(ts, q -> q.lx)) AS sx,
                           list_sum(list_transform(ts, q -> q.ly)) AS sy,
                           list_sum(list_transform(ts, q -> q.lx * q.ly)) AS sxy,
                           list_sum(list_transform(ts, q -> q.lx * q.lx)) AS sxx,
                           list_sum(list_transform(ts, q -> q.ly * q.ly)) AS syy
                    FROM t),
              e AS (SELECT k, kd, sx, sy,
                           kd * sxy - sx * sy AS covn,
                           kd * sxx - sx * sx AS vx,
                           kd * syy - sy * sy AS vy
                    FROM m)
         SELECT k AS n_terms,
                round(CASE WHEN k >= 2 THEN covn / vx END, 6) AS slope,
                round(CASE WHEN k >= 2 THEN (sy - (covn / vx) * sx) / kd END, 6) AS intercept,
                round(CASE WHEN k >= 2 AND vy > 0 THEN covn * covn / (vx * vy) END, 6) AS r2
         FROM e"""),

    // Near-dup rate by ingestion batch — the crawler-health trend from
    // the dedup side (rank deciles via the two-level scan, banded
    // clusters, one left join, 10-row rollup).
    Query("q_dup_rate_by_batch", Batch, (s, d) =>
      graft.operators.Curation.dupRateByBatch(Tables.documents(s, d)),
      // Same rank-decile assignment (row_number + integer division), same
      // recursive-CTE clusters, one left join and a 10-row rollup.
      """WITH RECURSIVE pairs AS (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    round(len(list_intersect(a.toks, b.toks)) * 1.0
                          / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
             FROM (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
             JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
               ON a.source = b.source AND a.doc_id < b.doc_id)
           WHERE jaccard >= 0.9),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
         reach(v, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT r.v, e.b FROM reach r JOIN edges e ON r.r = e.a),
         clusters AS (SELECT DISTINCT v AS doc_id FROM reach),
         rk AS (SELECT doc_id,
                       CAST((row_number() OVER (ORDER BY doc_id) - 1) * 10
                            // count(*) OVER () + 1 AS INT) AS batch
                FROM documents),
         j AS (SELECT rk.batch, c.doc_id IS NOT NULL AS dup
               FROM rk LEFT JOIN clusters c USING (doc_id))
         SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT) AS n_dup,
                round(CAST(count(CASE WHEN dup THEN 1 END) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 6) AS dup_rate
         FROM j GROUP BY 1 ORDER BY 1"""),

    // Fused curation gate with reason codes (language → length → TTR →
    // repetition; first failing gate wins).
    Query("q_curation_audit", Batch, (s, d) =>
      graft.operators.Curation.curationAudit(Tables.documents(s, d)),
      curationAuditSql),

    // Per-source Jensen–Shannon divergence from the corpus unigram
    // distribution over the global top-256 vocabulary + residual bucket —
    // the source-drift curation diagnostic; sorted-vocab fold determinism.
    Query("q_js_divergence", Batch, (s, d) =>
      graft.operators.Curation.jsDivergence(Tables.documents(s, d)),
      // Same sorted-vocab fold as the Spark HOF; the residual bucket is one
      // closed-form term added AFTER the list_sum, on both engines.
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
              tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
              top AS (SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT ${graft.operators.Curation.JsVocabSize}),
              corpus AS (SELECT (SELECT list_sort(list({'term': term, 'cnt': cnt})) FROM top) AS qs,
                                CAST(sum(cnt) AS BIGINT) AS qtot,
                                CAST((SELECT sum(cnt) FROM top) AS BIGINT) AS qtop
                         FROM tc),
              st AS (SELECT source, term, count(*) AS c FROM tok
                     WHERE term IN (SELECT term FROM top) GROUP BY 1, 2),
              ps AS (SELECT source, list({'term': term, 'c': c}) AS ps,
                            CAST(sum(c) AS BIGINT) AS ptop FROM st GROUP BY 1),
              tot AS (SELECT source, count(*) AS n_tokens FROM tok GROUP BY 1)
         SELECT source, n_tokens,
                round(list_sum(list_transform(qs, e ->
                    0.5 * ((CASE WHEN CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0
                            THEN (CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                 * ln((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                      / ((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)
                         + (CASE WHEN CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE) > 0
                            THEN (CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE))
                                 * ln((CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE))
                                      / ((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END))))
                  + 0.5 * ((CASE WHEN CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0
                            THEN (CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                 * ln((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                      / ((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)
                         + (CASE WHEN CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE) > 0
                            THEN (CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE))
                                 * ln((CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE))
                                      / ((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)), 6) AS js_nats
         FROM tot LEFT JOIN ps USING (source), corpus
         ORDER BY source"""),

    // Drift of drift: per-(source, ingest-batch) JS divergence from the
    // corpus mixture — the trend line behind q_js_divergence's one-number
    // row (a source whose js_nats climbs batch over batch is drifting).
    // Batches are fixed-width doc_id blocks (the arrival-order analog of
    // weekly partitions; count grows with the corpus, width doesn't).
    Query("q_js_drift_by_batch", Batch, (s, d) =>
      graft.operators.Curation.jsDivergenceBy(
        Tables.documents(s, d).withColumn("batch", expr("doc_id div 128")),
        Seq("source", "batch")),
      // Grouped twin: the identical sorted-vocab fold with (source, batch)
      // riding the tokenize, per-key lists and totals; the corpus reference
      // distribution stays GLOBAL (the gate compares cells to the mixture).
      s"""WITH tok AS (SELECT source, doc_id // 128 AS batch,
                              unnest(string_split(text, ' ')) AS term FROM documents),
              tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
              top AS (SELECT term, cnt FROM tc ORDER BY cnt DESC, term LIMIT ${graft.operators.Curation.JsVocabSize}),
              corpus AS (SELECT (SELECT list_sort(list({'term': term, 'cnt': cnt})) FROM top) AS qs,
                                CAST(sum(cnt) AS BIGINT) AS qtot,
                                CAST((SELECT sum(cnt) FROM top) AS BIGINT) AS qtop
                         FROM tc),
              st AS (SELECT source, batch, term, count(*) AS c FROM tok
                     WHERE term IN (SELECT term FROM top) GROUP BY 1, 2, 3),
              ps AS (SELECT source, batch, list({'term': term, 'c': c}) AS ps,
                            CAST(sum(c) AS BIGINT) AS ptop FROM st GROUP BY 1, 2),
              tot AS (SELECT source, batch, count(*) AS n_tokens FROM tok GROUP BY 1, 2)
         SELECT source, batch, n_tokens,
                round(list_sum(list_transform(qs, e ->
                    0.5 * ((CASE WHEN CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0
                            THEN (CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                 * ln((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                      / ((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)
                         + (CASE WHEN CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE) > 0
                            THEN (CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE))
                                 * ln((CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE))
                                      / ((CAST(coalesce(list_sum(list_transform(list_filter(ps, x -> x.term = e.term), x -> x.c)), 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(e.cnt AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END))))
                  + 0.5 * ((CASE WHEN CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0
                            THEN (CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                 * ln((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                                      / ((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)
                         + (CASE WHEN CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE) > 0
                            THEN (CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE))
                                 * ln((CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE))
                                      / ((CAST(n_tokens - coalesce(ptop, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                                          + CAST(qtot - qtop AS DOUBLE) / CAST(qtot AS DOUBLE)) / 2.0))
                            ELSE 0.0 END)), 6) AS js_nats
         FROM tot LEFT JOIN ps USING (source, batch), corpus
         ORDER BY source, batch"""),

    // Gini coefficient of source token concentration — the one-number
    // corpus-dominance health metric (sorted-shares closed form, exact
    // integer counts, bounded ascending fold).
    Query("q_source_gini", Batch, (s, d) =>
      graft.operators.Curation.sourceGini(Tables.documents(s, d)),
      // Same ascending-(toks, source) sorted fold; identical index algebra.
      """WITH per AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
                      FROM documents GROUP BY 1),
              one AS (SELECT list_sort(list({'toks': toks, 'source': source})) AS xs,
                             CAST(sum(toks) AS BIGINT) AS n_tokens,
                             CAST(count(*) AS BIGINT) AS n_sources
                      FROM per)
         SELECT n_sources, n_tokens,
                round(list_sum(list_transform(range(1, CAST(n_sources AS INT) + 1), i ->
                        (2.0 * i - CAST(n_sources AS DOUBLE) - 1.0) * CAST(xs[i].toks AS DOUBLE)))
                      / (CAST(n_sources AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6) AS gini
         FROM one"""),

    // Pareto frontier (2-D skyline) of price vs discount — the rows no
    // other row beats on both criteria, via the distributed descending-x
    // prefix-strict-max sweep (two keyed aggregates + the two-level scan;
    // never a single-task global window). Duplicates keep multiplicity.
    Query("q_skyline", Batch, (s, d) =>
      graft.operators.Pareto.skyline2D(
        Tables.lineitem(s, d), col("l_extendedprice"), col("l_discount")),
      // Skyline: the same sweep as a window twin — survive iff the per-x
      // max y strictly exceeds every y at strictly greater x.
      """WITH pts AS (SELECT l_extendedprice AS x, l_discount AS y FROM lineitem
                      WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
              gxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY x, y),
              gx AS (SELECT x, max(y) AS ym FROM gxy GROUP BY x),
              pm AS (SELECT x, ym, max(ym) OVER (ORDER BY x DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
                     FROM gx)
         SELECT pm.x AS x, pm.ym AS y, gxy.n AS n
         FROM pm JOIN gxy ON gxy.x = pm.x AND gxy.y = pm.ym
         WHERE pm.m IS NULL OR pm.ym > pm.m
         ORDER BY x"""),

    // CCNet-style perplexity bucketing: per-source head/middle/tail
    // terciles over the unigram-LM log-prob (head = most fluent = highest
    // log-prob; CCNet trains on head+middle and drops tail). A per-source
    // ntile WINDOW would sort every document of a source on one task — and
    // a pretraining corpus has few, enormous sources (one web crawl is most
    // of the data) — so buckets come from the distributed rank + the exact
    // ntile size formula instead (Ranking.ntileAssign: range-repartition,
    // partition-local rank, broadcast per-(partition,source) offsets —
    // rank-space thresholds, the same map-side cutoff assignment CCNet
    // itself uses). Ordering is total via the ROUNDED score + doc_id so
    // both engines tile identically; per-bucket bounds via
    // order-insensitive min/max (never a cross-row float sum).
    Query("q_ppl_buckets", Batch, (s, d) => {
      val lp = TextAnalysis.unigramLogProb(Tables.documents(s, d))
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      graft.operators.Ranking.ntileAssign(
          lp.join(src, Seq("doc_id")),
          Seq("source"), Seq(col("avg_logprob").desc, col("doc_id")), 3, "bucket")
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("avg_logprob")).as("lp_best"),
          min(col("avg_logprob")).as("lp_worst"))
        .orderBy(col("source"), col("bucket"))
    },
      // same tokenization + tf CTEs as q_unigram_lm; tiling ordered by the
      // rounded score + doc_id (total order) so both engines tile alike
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
              tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS n_total FROM tf),
              lp AS (SELECT doc_id, round(avg(ln(tf / n_total)), 6) AS avg_logprob
                     FROM tok JOIN tf USING (term), tot GROUP BY doc_id),
              b AS (SELECT d.source, lp.doc_id, lp.avg_logprob,
                           ntile(3) OVER (PARTITION BY d.source
                                          ORDER BY lp.avg_logprob DESC, lp.doc_id) AS bucket
                    FROM lp JOIN documents d USING (doc_id))
         SELECT source, bucket, count(*) AS n_docs,
                max(avg_logprob) AS lp_best, min(avg_logprob) AS lp_worst
         FROM b GROUP BY source, bucket ORDER BY source, bucket"""),

    // DSIR importance weights (target = lang 'en' slice vs whole corpus):
    // exact n-gram counts, one fixed log-ratio chain per feature, per-doc
    // SORTED fold — the oracle replays every step bit-identically.
    Query("q_dsir_weights", Batch, (s, d) =>
      graft.operators.Curation.dsirWeights(Tables.documents(s, d), col("lang") === "en"),
      // DSIR: same counts, same smoothing, same sorted per-doc fold.
      """WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS t FROM documents),
              feats AS (
                SELECT doc_id, tgt, unnest(t) AS f FROM tk
                UNION ALL
                SELECT doc_id, tgt, unnest([array_to_string(t[i:i+1], ' ')
                                            for i in range(1, len(t))]) AS f
                FROM tk WHERE len(t) >= 2),
              model AS (SELECT f, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                               CAST(count(*) AS BIGINT) AS cr
                        FROM feats GROUP BY 1),
              tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr,
                             CAST(count(*) AS BIGINT) AS v FROM model),
              ratio AS (SELECT f, ln(CAST(ct + 1 AS DOUBLE) * CAST(nr + v AS DOUBLE)
                                     / (CAST(cr + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE))) AS lr
                        FROM model CROSS JOIN tot),
              dm AS (SELECT doc_id, f, CAST(count(*) AS BIGINT) AS m FROM feats GROUP BY 1, 2),
              agg AS (SELECT doc_id,
                             list_sort(list({'f': dm.f, 'm': m, 'lr': lr})) AS fs,
                             CAST(sum(m) AS BIGINT) AS n_feats
                      FROM dm JOIN ratio ON dm.f = ratio.f GROUP BY doc_id)
         SELECT doc_id, n_feats,
                round(list_sum(list_transform(fs, c -> CAST(c.m AS DOUBLE) * c.lr)), 6) AS weight
         FROM agg ORDER BY doc_id"""),

    // Quality-classifier inference (fixed-weight logistic over length/
    // lexical/stopword signals) — the fastText-style pretraining gate.
    Query("q_quality_lr", Batch, (s, d) =>
      graft.operators.Curation.qualityScore(Tables.documents(s, d)),
      // Quality LR: identical feature chains and sigmoid.
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
              z AS (SELECT doc_id,
                           -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
                           + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
                           + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
                           + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
                    FROM f)
         SELECT doc_id,
                round(1.0 / (1.0 + exp(-z)), 6) AS quality,
                1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
         FROM z ORDER BY doc_id"""),
  )
}
