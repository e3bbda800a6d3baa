package graft
package contract

import org.apache.spark.sql.functions._

import graft.sources.Tables
import Query.{Batch, Stream}

/** Pairwise-preference ranking (Bradley–Terry, DPO pairs). */
private[contract] object PreferenceQueries {

  val all: Seq[Query] = Seq(
    // Bradley–Terry strengths over the 5-language domain from hash-block-
    // bounded within-source comparisons (winner = longer doc). The win
    // matrix is aggregated distributed; the MM fit runs on the collected
    // MODEL-sized matrix (≤10 integer rows) in an explicit left-assoc op
    // order the generated oracle unrolls — scores hash-match at 6dp.
    Query("q_bradley_terry", Batch, (s, d) =>
      graft.operators.Preference.bradleyTerry(s, Tables.documents(s, d)),
      // Bradley–Terry: the MM fit unrolled from the SAME constants as the
      // Scala driver loop (identical IEEE ops in identical order — hash-
      // exact scores, no floors). See Preference.btOracleSql.
      graft.operators.Preference.btOracleSql),

    // Grouped form: independent fits per length regime (short/long at 300
    // chars) — is the language preference order stable across regimes?
    Query("q_bradley_terry_by_len", Batch, (s, d) =>
      graft.operators.Preference.bradleyTerryByRegime(s, Tables.documents(s, d)),
      graft.operators.Preference.btOracleSqlByRegime),

    // DPO-style preference-pair construction (Rafailov 2023 data prep):
    // within each (source, block, lang) cell, every doc pair with a
    // strictly different INTEGER quality signal (unique-token count)
    // becomes one (chosen, rejected) row — mining preference data from
    // a quality-ranked corpus when no human labels exist. Hash-exact.
    Query("q_dpo_pairs", Batch, (s, d) =>
      graft.operators.Preference.dpoPairs(Tables.documents(s, d)),
      // DPO pairs: the same cell join over the same integer signal.
      graft.operators.Preference.dpoPairsSql),

    // CAPPED DPO mining — the production shape of q_dpo_pairs: top-m
    // highest-gap rejected per chosen (bounded-heap TopKBy aggregate —
    // map-side partial heaps ship <= m entries per chosen through the
    // one shuffle) with a minimum-margin threshold, so output is O(n*m)
    // not O(cell^2). Self-asserting: the heap form is compared row-for-
    // row against the row_number window twin in-plan (parity_ok) and
    // the per-chosen bound is asserted (bound_ok); the oracle replays
    // the integer ranking via a window over the same candidate join.
    Query("q_dpo_pairs_capped", Batch, (s, d) => {
      val P = graft.operators.Preference
      val docs = Tables.documents(s, d)
      val keys = Seq("lang", "source", "chosen_id", "rejected_id",
        "chosen_uq", "rejected_uq", "gap", "pair_rank")
      val capped = P.dpoPairsCapped(docs)
      val joined = capped.withColumn("in_a", lit(1L))
        .join(P.dpoPairsCappedWindow(docs).withColumn("in_b", lit(1L)),
          keys, "full")
      val checks = joined.agg(
        (coalesce(sum(when(col("in_a").isNull || col("in_b").isNull, 1L)),
          lit(0L)) === 0L).as("parity_ok"),
        (max(col("pair_rank")) <= P.DpoCapM).as("bound_ok"))
      capped.crossJoin(broadcast(checks))
        .orderBy(col("chosen_id"), col("pair_rank"))
    },
      // Capped-miner replay: same candidate join, same integer window
      // ranking, caps interpolated from the shared constants; parity and
      // bound booleans pinned.
      graft.operators.Preference.dpoPairsCappedSql()),

    // CONTINUOUS DPO mining — the capped miner's streaming face (the
    // PreferenceIngest block-pruned probe discipline): each micro-batch
    // mines candidate pairs against the at-rest store (cross-batch, at
    // the later arrival) plus the in-batch join; the cap applies at
    // readout over the accumulated candidates (keeper-at-readout, so a
    // late high-gap partner retroactively evicts a weaker pair exactly
    // as the batch miner would). Streamed candidate set ≡ batch
    // dpoPairs asserted in-plan with multiplicity; output table =
    // dpoPairsCapped bit-for-bit, same generated window-replay oracle.
    Query("q_dpo_pairs_stream", Stream, (s, d) =>
      graft.streaming.PreferenceIngest.runStreamDpoPairs(s, d),
      // Streamed capped miner: identical expected table (the cap is a
      // deterministic readout view of the exactly-once candidate set).
      graft.operators.Preference.dpoPairsCappedSql(),
      // Contract form: streamed candidate set ⋈ batch dpoPairs (parity).
      // Operator: the block-pruned mining stream + capped readout alone.
      benchPlan = Some((s, d) =>
        graft.streaming.PreferenceIngest.runStreamDpoPairs(s, d, assertParity = false))),

    // Per-pair fit diagnostics: observed vs model-expected wins under
    // the fitted strengths — the calibration check on the BT assumption
    // itself (a large residual marks a pair the single-scalar model
    // can't explain: non-transitive preference hiding under the
    // leaderboard number). Hash-exact via the same unrolled chain.
    Query("q_bt_fit", Batch, (s, d) =>
      graft.operators.Preference.fitDiagnostics(s, Tables.documents(s, d)),
      // Fit diagnostics: the unrolled chain + one UNION arm per pair over
      // the final iteration's full-precision p columns.
      graft.operators.Preference.btFitOracleSql),

    // Pairwise win rates with the Wilson 95% interval — the leaderboard-
    // confidence companion: a pair whose interval straddles 1/2 has not
    // demonstrated a preference at this sample size, however the point
    // fit orders it. Fully distributed, closed-form, hash-exact.
    Query("q_bt_pairs_ci", Batch, (s, d) =>
      graft.operators.Preference.pairsWilson(Tables.documents(s, d)),
      // Wilson intervals: same matrix, same closed-form op sequence with
      // z literals generated from the shared constant.
      graft.operators.Preference.btPairsWilsonSql),

    // CONTINUOUS Bradley–Terry — the preference family's streaming face
    // (the SemDedupIngest convention): documents replay as a batched
    // file stream; each micro-batch generates comparisons against the
    // at-rest store (block-pruned probe) plus itself, and appends its
    // win-matrix INCREMENTS (integers — additive, so streamed ≡ batch
    // exactly for any split, asserted in-plan). The readout fits the
    // SAME unrolled MM arithmetic: scores stay hash-exact in the oracle.
    Query("q_bradley_terry_stream", Stream, (s, d) =>
      graft.streaming.PreferenceIngest.runStreamBradleyTerry(s, d),
      // Streaming replay: the batch fit's exact chain + the pinned parity
      // (streamed win matrix ≡ whole-corpus matrix, exact integers).
      graft.operators.Preference.btOracleSqlStream,
      // Contract form: streamed win matrix ⋈ whole-corpus matrix (equality).
      // Operator: the block-pruned ingest stream + MM readout alone.
      benchPlan = Some((s, d) =>
        graft.streaming.PreferenceIngest.runStreamBradleyTerry(s, d, assertParity = false))),
  )
}
