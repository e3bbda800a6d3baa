package graft
package contract

import org.apache.spark.sql.functions._

import graft.sources.Tables
import Query.{Batch, Stream}

/** Re-identification risk audits and differential-privacy
  * accounting (privacy release gates). */
private[contract] object PrivacyQueries {

  val all: Seq[Query] = Seq(
    // k-anonymity class-size histogram over the (nation, segment,
    // acctbal-bucket) quasi-identifier: one hash-shuffle groupBy + a
    // class-table re-agg; the smallest class_size row IS the dataset's k.
    Query("q_k_anonymity", Batch, (s, d) =>
      graft.operators.Privacy.kAnonymityProfile(
        Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100.0).cast("long"))),
      // k-anonymity histogram: classes over the QI, then sizes re-agged.
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
                  CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bb,
                  count(*) AS class_size
           FROM customer GROUP BY 1, 2, 3)
         SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
                CAST(sum(class_size) AS BIGINT) AS n_rows
         FROM cls GROUP BY 1 ORDER BY 1"""),

    // l-diversity of the sensitive attribute (acctbal) within (nation,
    // segment) classes: l = 1 classes leak the attribute even when
    // k-anonymous.
    Query("q_l_diversity", Batch, (s, d) =>
      graft.operators.Privacy.lDiversitySummary(
        Tables.customer(s, d),
        Seq(col("c_nationkey"), col("c_mktsegment")), col("c_acctbal")),
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
                  count(DISTINCT c_acctbal) AS l
           FROM customer GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_classes,
                CAST(min(l) AS BIGINT) AS min_l,
                CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS classes_l1,
                CAST(sum(CASE WHEN l = 1 THEN class_size ELSE 0 END) AS BIGINT) AS rows_l1
         FROM cls"""),

    // t-closeness — the ladder rung above l-diversity: per-QI-class EMD
    // of the sensitive distribution (acctbal thousands-bucket, an
    // ordered 11-value integer domain) vs the global one, via exact
    // integer prefix sums with the common denominator cleared; one
    // corpus scan, everything after re-aggregates the bounded
    // (QI x value) class table. Hash-exact like q_k_anonymity.
    Query("q_t_closeness", Batch, (s, d) =>
      graft.operators.Privacy.tCloseness(Tables.customer(s, d)),
      // t-closeness replay: the same integer prefix-sum EMD chain, the
      // threshold interpolated from the shared DefaultT constant.
      graft.operators.Privacy.tClosenessSql()),

    // CONTINUOUS t-closeness monitor — the privacy ladder's streaming
    // rung above q_k_anonymity_stream: complete-mode counts over the
    // fixed (nation, segment, bucket) grid (model-sized state), readout
    // through the SAME tClosenessFromCounts expression tree as the
    // batch audit, streamed ≡ batch asserted in-plan (exact integers).
    Query("q_t_closeness_stream", Stream, (s, d) =>
      graft.streaming.KAnonStream.runStreamTCloseness(s, d),
      // Streaming monitor replay: identical expected table (integer counts
      // merge exactly), parity boolean pinned.
      graft.operators.Privacy.tClosenessSql(parityCol = true),
      // Contract form: streamed grid ⋈ batch recompute (parity).
      // Operator: the complete-mode count stream + EMD readout alone.
      benchPlan = Some((s, d) =>
        graft.streaming.KAnonStream.runStreamTCloseness(s, d, assertParity = false))),

    // (ε, δ) COMPOSITION ACCOUNTANT — the budget meter over a release
    // campaign (one Laplace release per (nation, segment) histogram,
    // heterogeneous ε in integer micro-units): per release, ε spent
    // under basic composition (Σε) AND zCDP composition (Bun–Steinke:
    // Σε²/2, converted back at δ = 1e-6), the tighter of the two
    // charged, each release flagged against the 2.0 budget. The shipped
    // ledger plants BOTH regimes: within_budget flips true→false near
    // release 12, and the √k zCDP bound overtakes basic in the tail.
    // All prefix sums exact BIGINT (micro-units); hash-exact oracle.
    Query("q_dp_accountant", Batch, (s, d) =>
      graft.operators.Privacy.dpAccountant(
        graft.operators.Privacy.dpAccountantLedger(Tables.customer(s, d))),
      // Composition accountant replay: the same BIGINT micro-unit prefix
      // chain; ln(1/δ) and the budget interpolated from shared constants.
      graft.operators.Privacy.dpAccountantSql()),

    // CONTINUOUS DP accounting — the accountant's monitor face: the
    // ledger's classes are discovered on arrival (complete-mode QI
    // counts, model-sized state), the readout runs the same shared ε
    // rule + accountant expression tree, and the exact-BIGINT prefix
    // arithmetic makes streamed ≡ batch bit-for-bit (asserted in-plan).
    Query("q_dp_accountant_stream", Stream, (s, d) =>
      graft.streaming.KAnonStream.runStreamDpAccountant(s, d),
      // Streaming accountant replay: identical table (exact integer
      // arithmetic merges exactly), parity boolean pinned.
      graft.operators.Privacy.dpAccountantSql(parityCol = true)),

    // Heterogeneous (ε, δ) composition — the production ledger of mixed
    // Laplace + GAUSSIAN releases: basic composition sums BOTH axes
    // (Σε, Σδ), so a Gaussian campaign can exhaust the δ budget while ε
    // is cheap; the zCDP path (ρ adds regardless of mechanism) stays
    // valid at the fixed conversion δ. All three regimes visible on the
    // shipped ledger: ε binds basic near release 12, zCDP overtakes in
    // the tail, Σδ crosses the δ budget late. Exact BIGINT prefix sums
    // in micro/nano/micro² units; hash-exact oracle.
    Query("q_dp_accountant_hetero", Batch, (s, d) =>
      graft.operators.Privacy.dpAccountantHetero(
        graft.operators.Privacy.dpAccountantHeteroLedger(Tables.customer(s, d))),
      graft.operators.Privacy.dpAccountantHeteroSql()),

    // CONTINUOUS heterogeneous (ε, δ) accounting — the mixed-mechanism
    // ledger's monitor face: classes discovered on arrival, the ledger
    // built through the shared FromClasses face, the δ-budget page
    // fires when the crossing Gaussian release arrives; exact BIGINT
    // prefix sums on all three axes ⇒ streamed ≡ batch bit-for-bit.
    Query("q_dp_accountant_hetero_stream", Stream, (s, d) =>
      graft.streaming.KAnonStream.runStreamDpAccountantHetero(s, d),
      graft.operators.Privacy.dpAccountantHeteroSql(parityCol = true)),

    // Amplification by Poisson subsampling — the privacy ladder's third
    // composition rung: a release computed on a q-subsample enjoys
    // ε' = ln(1 + q·(e^ε − 1)) (Balle et al. 2018), 18× cheaper at
    // q = 5%, ε = 0.25 — how production pipelines afford release
    // campaigns. ε' is rounded to integer micro-units per release (one
    // exp + one ln, the libm-agreement precedent, BEFORE composition),
    // so every prefix sum is exact BIGINT and the oracle replays
    // hash-exactly.
    Query("q_dp_accountant_subsampled", Batch, (s, d) =>
      graft.operators.Privacy.dpAccountantSubsampled(
        graft.operators.Privacy.dpAccountantSubsampledLedger(Tables.customer(s, d))),
      graft.operators.Privacy.dpAccountantSubsampledSql()),

    // RDP (moments) accountant for subsampled-Gaussian training runs —
    // the DP-SGD rung (Abadi et al. 2016; Mironov 2017; MTZ 2019): each
    // class is a run (q, σ, T); the one-step RDP bound at each integer
    // order in the grid is a finite binomial sum, CEILED to micro-units
    // (valid upper bound — the conservative direction), after which run
    // totals (T·ε_step) and campaign prefix sums are exact BIGINT; the
    // (ε, δ)-conversion min over orders makes best_alpha move down the
    // ledger. Hash-exact oracle from the same unrolled expression tree.
    Query("q_dp_accountant_rdp", Batch, (s, d) =>
      graft.operators.Privacy.dpAccountantRdp(
        graft.operators.Privacy.dpAccountantRdpLedger(Tables.customer(s, d))),
      graft.operators.Privacy.dpAccountantRdpSql()),

    // CONTINUOUS RDP (DP-SGD) accounting — runs discovered on arrival,
    // the ledger built through the shared FromClasses face, the same
    // accountant tree: per-run ceil-to-micro keeps every prefix sum
    // exact BIGINT, so streamed ≡ batch bit-for-bit under any slicing;
    // the budget page fires when the crossing run arrives.
    Query("q_dp_accountant_rdp_stream", Stream, (s, d) =>
      graft.streaming.KAnonStream.runStreamDpAccountantRdp(s, d),
      graft.operators.Privacy.dpAccountantRdpSql(parityCol = true)),

    // Differentially-private release composition: suppress classes under
    // the k-anonymity floor, Laplace(1/ε)-noise the surviving counts
    // (deterministic inverse-CDF over a portable-hash uniform — the
    // bootstrap replicate discipline, so the oracle replays the release
    // bit-for-bit; production draws a fresh seed).
    Query("q_dp_release", Batch, (s, d) =>
      graft.operators.Privacy.dpRelease(Tables.customer(s, d),
        k = graft.operators.Privacy.DefaultK, eps = 0.5),
      // DP release: same suppression gate + the same inverse-CDF Laplace
      // sequence with literals generated from shared constants.
      graft.operators.Privacy.dpReleaseSql(k = graft.operators.Privacy.DefaultK, eps = 0.5)),

    // CONTINUOUS k-anonymity monitor — the privacy family's streaming
    // face (the ClusterShareStream count discipline): arriving records
    // update per-QI class counts (state = the fixed 25×5 (nation,
    // segment) vocabulary — model-sized); a class dipping under the k
    // floor pages on arrival, not at the next offline audit. Integer
    // counts merge exactly, so streamed ≡ batch bit-for-bit (asserted
    // in-plan) and the histogram hash-matches the plain-SQL oracle.
    Query("q_k_anonymity_stream", Stream, (s, d) =>
      graft.streaming.KAnonStream.runStreamKAnonymity(s, d),
      // Streaming k-anonymity monitor: the (nation, segment) class-size
      // histogram replayed in plain SQL; parity pinned (streamed counts ≡
      // batch recompute, exact integers, asserted in-plan).
      s"""WITH cls AS (
           SELECT c_nationkey, c_mktsegment, count(*) AS class_size
           FROM customer GROUP BY 1, 2)
         SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
                CAST(sum(class_size) AS BIGINT) AS n_rows,
                (class_size < ${graft.operators.Privacy.DefaultK}) AS at_risk, true AS parity_ok
         FROM cls GROUP BY 1 ORDER BY 1""",
      // Contract form: streamed class counts ⋈ batch recompute (parity).
      // Operator: the complete-mode count stream + histogram readout alone.
      benchPlan = Some((s, d) =>
        graft.streaming.KAnonStream.runStreamKAnonymity(s, d, assertParity = false))),

    // Fixed generalization ladder to k ≥ 5: per level the class count,
    // min class size and suppression cost, `chosen` marking the minimal
    // qualifying generalization. Levels 1+ re-aggregate level 0's class
    // table — one corpus scan serves the whole ladder.
    Query("q_k_anon_generalize", Batch, (s, d) =>
      graft.operators.Privacy.generalizationLadder(Tables.customer(s, d),
        k = graft.operators.Privacy.DefaultK),
      // Generalization ladder: level 0 is the only corpus-scale GROUP BY;
      // levels 1+ re-aggregate the class table (floor-bucket coarsening
      // composes). `chosen` = first level with min_k >= DefaultK.
      s"""WITH l0 AS (
           SELECT c_nationkey AS nation, c_mktsegment AS segment,
                  CAST(floor(c_acctbal / 100.0) AS BIGINT) AS bb,
                  count(*) AS cnt
           FROM customer GROUP BY 1, 2, 3),
         l1 AS (SELECT nation, segment,
                       CAST(floor(CAST(bb AS DOUBLE) / 10.0) AS BIGINT) AS bb,
                       CAST(sum(cnt) AS BIGINT) AS cnt
                FROM l0 GROUP BY 1, 2, 3),
         l2 AS (SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS cnt
                FROM l0 GROUP BY 1, 2),
         l3 AS (SELECT segment, CAST(sum(cnt) AS BIGINT) AS cnt
                FROM l0 GROUP BY 1),
         lv AS (
           SELECT 0 AS level, CAST(count(*) AS BIGINT) AS n_classes,
                  CAST(min(cnt) AS BIGINT) AS min_k,
                  CAST(sum(CASE WHEN cnt < ${graft.operators.Privacy.DefaultK} THEN cnt ELSE 0 END) AS BIGINT) AS rows_at_risk
           FROM l0
           UNION ALL
           SELECT 1, CAST(count(*) AS BIGINT), CAST(min(cnt) AS BIGINT),
                  CAST(sum(CASE WHEN cnt < ${graft.operators.Privacy.DefaultK} THEN cnt ELSE 0 END) AS BIGINT) FROM l1
           UNION ALL
           SELECT 2, CAST(count(*) AS BIGINT), CAST(min(cnt) AS BIGINT),
                  CAST(sum(CASE WHEN cnt < ${graft.operators.Privacy.DefaultK} THEN cnt ELSE 0 END) AS BIGINT) FROM l2
           UNION ALL
           SELECT 3, CAST(count(*) AS BIGINT), CAST(min(cnt) AS BIGINT),
                  CAST(sum(CASE WHEN cnt < ${graft.operators.Privacy.DefaultK} THEN cnt ELSE 0 END) AS BIGINT) FROM l3)
         SELECT level, n_classes, min_k, rows_at_risk,
                (min_k >= ${graft.operators.Privacy.DefaultK} AND coalesce(max(CASE WHEN min_k >= ${graft.operators.Privacy.DefaultK} THEN 1 ELSE 0 END)
                   OVER (ORDER BY level ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0)
                  AS chosen
         FROM lv ORDER BY level"""),
  )
}
