package graft
package contract

import org.apache.spark.sql.functions._

import graft.functions._
import graft.sources.Tables
import Query.Batch

/** Robust statistics and hypothesis tests (`graft.operators.Robust`). */
private[contract] object RobustQueries {

  /** The q_mann_whitney_by_lang oracle, shared verbatim with the FDR
    * meta-gate's nested CTE (q_fdr_mw_by_lang) — one spelling, two
    * consumers, so the gate and its correction can never drift. */
  private val mwByLangSql: String =
    """WITH t AS (SELECT lang AS g, n_chars AS v, source = 'src0' AS is_a
                  FROM documents WHERE source IN ('src0', 'src1')),
            pv AS (SELECT g, v,
                          CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                          CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
                   FROM t GROUP BY 1, 2),
            r AS (SELECT *, coalesce(sum(ca + cb) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                  FROM pv),
            a AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                         CAST(sum(CAST(ca AS HUGEINT) * (CAST(below AS HUGEINT) * 2 + ca + cb + 1)) AS HUGEINT) AS r2a,
                         CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb)) AS HUGEINT) AS tie3
                  FROM r GROUP BY 1
                  HAVING sum(ca) > 0 AND sum(cb) > 0),
            z AS (SELECT g, n_a, n_b, r2a - n_a * (n_a + 1) AS u2a, tie3,
                         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
                  FROM a)
       SELECT g AS lang, n_a, n_b, CAST(u2a AS BIGINT) AS u2_a,
              round((CAST(u2a AS DOUBLE) / 2.0 - na * nb / 2.0)
                    / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                           - CAST(tie3 AS DOUBLE) / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
       FROM z ORDER BY 1"""

  val all: Seq[Query] = Seq(
    // Robust per-group stats: discrete quantiles, MAD, winsorized mean.
    Query("q_robust_stats", Batch, (s, d) =>
      graft.operators.Robust.robustStats(
        Tables.lineitem(s, d), "l_returnflag", col("l_extendedprice")),
      // Discrete (rank-based) quantiles: the value at rank ceil(p·n) in pure
      // integer arithmetic — tie-invariant, interpolation-free, so MAD and
      // the decimal winsorized sum replay exactly.
      """WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
              r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                           count(*) OVER (PARTITION BY g) AS n
                    FROM b),
              q AS (SELECT g, max(n) AS n,
                           max(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS p05,
                           max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS med,
                           max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95
                    FROM r GROUP BY g),
              d AS (SELECT b.g, abs(b.v - q.med) AS dev FROM b JOIN q ON b.g = q.g),
              r2 AS (SELECT g, dev, row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
                            count(*) OVER (PARTITION BY g) AS n
                     FROM d),
              m AS (SELECT g, max(CASE WHEN rn = (50 * n + 99) // 100 THEN dev END) AS mad_raw
                    FROM r2 GROUP BY g),
              w AS (SELECT b.g,
                           CAST(sum(CAST(least(greatest(b.v, q.p05), q.p95) AS DECIMAL(18,2))) AS DOUBLE) AS wsum,
                           count(*) AS cnt
                    FROM b JOIN q ON b.g = q.g GROUP BY b.g)
         SELECT q.g AS l_returnflag, q.n AS n, q.p05 AS p05, q.med AS median, q.p95 AS p95,
                round(m.mad_raw, 6) AS mad, round(w.wsum / w.cnt, 6) AS wins_mean
         FROM q JOIN m ON q.g = m.g JOIN w ON q.g = w.g
         ORDER BY 1"""),

    // Neyman-allocation stratified sampling: budget split ∝ N_h·σ_h (the
    // minimum-variance allocation), drawn with deterministic hash cuts.
    Query("q_neyman_sample", Batch, (s, d) =>
      graft.operators.Robust.neymanSample(
        Tables.orders(s, d), "o_orderstatus", col("o_totalprice"),
        col("o_orderkey"), totalSamples = 1000),
      // mirror the exact arithmetic: 6-dp sigma before allocation, exact
      // decimal normalizer, identical op order in the rate expression
      s"""WITH b AS (SELECT o_orderstatus AS s, o_totalprice AS v,
                           ${PortableHash.keyHashSql("o_orderkey")} AS u
                    FROM orders),
              st AS (SELECT s, count(*) AS n_rows, round(stddev_samp(v), 6) AS sigma
                     FROM b GROUP BY s),
              t AS (SELECT sum(n_rows * CAST(sigma AS DECIMAL(18,6))) AS w FROM st),
              r AS (SELECT s, n_rows, sigma,
                           least(1.0, 1000.0 * (CAST(n_rows AS DOUBLE) * sigma)
                                      / CAST(w AS DOUBLE) / CAST(n_rows AS DOUBLE)) AS rate
                    FROM st, t),
              k AS (SELECT b.s, count(*) AS n_kept
                    FROM b JOIN r ON b.s = r.s
                    WHERE b.u < CAST(floor(rate * 1000000007.0) AS BIGINT)
                    GROUP BY b.s)
         SELECT r.s AS o_orderstatus, r.n_rows, r.sigma, round(r.rate, 6) AS rate,
                coalesce(k.n_kept, 0) AS n_kept
         FROM r LEFT JOIN k ON r.s = k.s ORDER BY 1"""),

    // Two-sample KS drift statistic between two sources' length
    // distributions: distributed per-value pre-agg, cumulative window over
    // the DISTINCT-value table only (Robust.ksStatistic).
    Query("q_ks_drift", Batch, (s, d) =>
      graft.operators.Robust.ksStatistic(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1"),
      // ECDFs as exact-integer cumulative counts divided once at the end —
      // bit-portable; max() is order-independent.
      """WITH t AS (SELECT n_chars AS v, source = 'src0' AS is_a FROM documents
                    WHERE source IN ('src0', 'src1')),
              p AS (SELECT v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                           sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
                    FROM t GROUP BY v),
              c AS (SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sa,
                           sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb
                    FROM p),
              g AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM p)
         SELECT n_a, n_b,
                round(max(abs(CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)), 6) AS ks_stat
         FROM c, g GROUP BY n_a, n_b"""),

    // Per-language KS drift between the two sources — "WHICH segment
    // drifted?", the first question after the global gate trips. ECDF
    // cumulatives ride the GROUPED two-level scan (runningTotalsBy):
    // range keys on (lang, value), per-(lang, partition) offsets — never
    // a per-group single-task window.
    Query("q_ks_drift_by_lang", Batch, (s, d) =>
      graft.operators.Robust.ksStatisticBy(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
      // Grouped twin: the same exact-integer ECDF algebra with every window
      // and total partitioned by lang; groups missing either side drop.
      """WITH t AS (SELECT lang, n_chars AS v, source = 'src0' AS is_a FROM documents
                    WHERE source IN ('src0', 'src1')),
              p AS (SELECT lang, v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                           sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
                    FROM t GROUP BY 1, 2),
              c AS (SELECT lang,
                           sum(ca) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sa,
                           sum(cb) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb
                    FROM p),
              g AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
                    FROM p GROUP BY 1 HAVING sum(ca) > 0 AND sum(cb) > 0)
         SELECT c.lang AS lang, n_a, n_b,
                round(max(abs(CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)), 6) AS ks_stat
         FROM c JOIN g ON c.lang = g.lang GROUP BY 1, 2, 3 ORDER BY 1"""),

    // Wasserstein-1 (earth-mover) drift between the two sources' length
    // distributions — the MAGNITUDE companion to q_ks_drift: KS reports
    // the worst ECDF gap, W1 how much mass moved times how far, in
    // characters. Exact-integer |cumA·nB − cumB·nA|·gap summands in
    // DECIMAL(38,0); the successor of each value rides the same
    // two-level scan as the cumulatives (runningTotalsBy withNextV).
    Query("q_wasserstein_drift", Batch, (s, d) =>
      graft.operators.Robust.wassersteinDistance(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1"),
      // W1 as the exact integer Σ |cumA·nB − cumB·nA| · (next_v − v) in
      // HUGEINT (mirrors the Spark DECIMAL(38,0) summand), one double
      // division by nA·nB at the end — order-free, bit-portable.
      """WITH t AS (SELECT n_chars AS v, source = 'src0' AS is_a FROM documents
                    WHERE source IN ('src0', 'src1')),
              p AS (SELECT v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                           sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
                    FROM t GROUP BY v),
              c AS (SELECT v, lead(v) OVER (ORDER BY v) AS nv,
                           sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sa,
                           sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb
                    FROM p),
              g AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM p)
         SELECT n_a, n_b,
                round(CAST(sum(abs(CAST(sa AS HUGEINT) * n_b - CAST(sb AS HUGEINT) * n_a)
                             * COALESCE(CAST(nv - v AS HUGEINT), 0)) AS DOUBLE)
                      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS w1_dist
         FROM c, g GROUP BY n_a, n_b"""),

    // Per-language W1 drift — "HOW FAR did each segment's distribution
    // move?", completing the grouped drift family's magnitude axis
    // (ks = sup-gap, psi = binned divergence, w1 = mass × distance).
    Query("q_wasserstein_drift_by_lang", Batch, (s, d) =>
      graft.operators.Robust.wassersteinDistanceBy(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
      // Grouped twin: every window, lead and total partitioned by lang;
      // groups missing either side drop.
      """WITH t AS (SELECT lang, n_chars AS v, source = 'src0' AS is_a FROM documents
                    WHERE source IN ('src0', 'src1')),
              p AS (SELECT lang, v, sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                           sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS cb
                    FROM t GROUP BY 1, 2),
              c AS (SELECT lang, v, lead(v) OVER (PARTITION BY lang ORDER BY v) AS nv,
                           sum(ca) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sa,
                           sum(cb) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb
                    FROM p),
              g AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
                    FROM p GROUP BY 1 HAVING sum(ca) > 0 AND sum(cb) > 0)
         SELECT c.lang AS lang, n_a, n_b,
                round(CAST(sum(abs(CAST(sa AS HUGEINT) * n_b - CAST(sb AS HUGEINT) * n_a)
                             * COALESCE(CAST(nv - v AS HUGEINT), 0)) AS DOUBLE)
                      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS w1_dist
         FROM c JOIN g ON c.lang = g.lang GROUP BY 1, 2, 3 ORDER BY 1"""),

    // Per-language Mann–Whitney U — "is the rank shift SIGNIFICANT in the
    // segment that drifted?", the question after q_ks_drift_by_lang
    // answers WHICH. Same exact-integer doubled-rank algebra as the
    // global statistic with the language riding every key (grouped
    // two-level scan, never a per-group single-task window); u2_a per
    // group is the exact integer, so the compare is float-free.
    Query("q_mann_whitney_by_lang", Batch, (s, d) =>
      graft.operators.Robust.mannWhitneyUBy(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
      // Grouped twin: identical exact-integer rank algebra with every
      // window, aggregate and moment partitioned by lang; one-sided
      // languages drop (HAVING both sides present).
      mwByLangSql),

    // Benjamini–Hochberg FDR over the per-language MW z's — the
    // multiple-testing meta-gate the per-segment dashboard needs (50
    // segments at α=.05 expect 2-3 false alarms from noise). Two-sided
    // p via the A&S 7.1.26 erfc chain (spelled once, replayed in SQL),
    // step-up running min over the segment-bounded domain.
    Query("q_fdr_mw_by_lang", Batch, (s, d) =>
      graft.operators.Robust.fdrAdjust(
        graft.operators.Robust.mannWhitneyUBy(
          Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
        "lang", "z_stat"),
      // BH-FDR over the per-language MW z's: the same grouped-gate SQL as
      // a nested CTE, then the identical A&S 7.1.26 erfc Horner chain and
      // the p-descending running-min step-up (ties rank by key on both
      // engines). The z feeding p is the 6-dp ROUNDED gate output.
      s"""WITH base AS ($mwByLangSql),
              st AS (SELECT lang, z_stat,
                            abs(z_stat) / sqrt(2.0) AS x,
                            CAST(count(*) OVER () AS BIGINT) AS m
                     FROM base WHERE z_stat IS NOT NULL),
              p AS (SELECT lang, z_stat, m,
                           (1.0 / (1.0 + 0.3275911 * x))
                           * (0.254829592 + (1.0 / (1.0 + 0.3275911 * x)) * (-0.284496736
                              + (1.0 / (1.0 + 0.3275911 * x)) * (1.421413741
                                + (1.0 / (1.0 + 0.3275911 * x)) * (-1.453152027
                                  + (1.0 / (1.0 + 0.3275911 * x)) * 1.061405429))))
                           * exp(-x * x) AS pv
                    FROM st),
              r AS (SELECT *, row_number() OVER (ORDER BY pv DESC, lang DESC) AS rn FROM p),
              a AS (SELECT *, least(1.0, min(pv * m / (m - rn + 1)) OVER (
                              ORDER BY pv DESC, lang DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS adj
                    FROM r)
         SELECT lang, z_stat, round(pv, 6) AS p_value, round(adj, 6) AS p_adj,
                adj <= 0.05 AS significant
         FROM a ORDER BY lang"""),

    // Population Stability Index — the production drift gate (reference-
    // quantile bins, smoothed proportions); complements KS (max ECDF gap)
    // and Mann-Whitney (rank shift) with the binned-divergence view.
    Query("q_psi_drift", Batch, (s, d) =>
      graft.operators.Robust.psiDrift(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1"),
      // Same discrete rank rule for the reference deciles, same smoothed
      // proportions, same sorted-bin fold order as the Spark aggregate.
      """WITH t AS (SELECT CAST(n_chars AS DOUBLE) AS v, source = 'src0' AS is_ref
                    FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
              r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
                    FROM t WHERE is_ref),
              e AS (SELECT max(CASE WHEN rn = (10*n+99)//100 THEN v END) AS e1,
                           max(CASE WHEN rn = (20*n+99)//100 THEN v END) AS e2,
                           max(CASE WHEN rn = (30*n+99)//100 THEN v END) AS e3,
                           max(CASE WHEN rn = (40*n+99)//100 THEN v END) AS e4,
                           max(CASE WHEN rn = (50*n+99)//100 THEN v END) AS e5,
                           max(CASE WHEN rn = (60*n+99)//100 THEN v END) AS e6,
                           max(CASE WHEN rn = (70*n+99)//100 THEN v END) AS e7,
                           max(CASE WHEN rn = (80*n+99)//100 THEN v END) AS e8,
                           max(CASE WHEN rn = (90*n+99)//100 THEN v END) AS e9
                    FROM r),
              b AS (SELECT (CASE WHEN v > e1 THEN 1 ELSE 0 END) + (CASE WHEN v > e2 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e3 THEN 1 ELSE 0 END) + (CASE WHEN v > e4 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e5 THEN 1 ELSE 0 END) + (CASE WHEN v > e6 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e7 THEN 1 ELSE 0 END) + (CASE WHEN v > e8 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e9 THEN 1 ELSE 0 END) AS bin, is_ref
                    FROM t, e),
              c AS (SELECT bin, sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
                           sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
                    FROM b GROUP BY 1),
              g AS (SELECT gs.g AS bin, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
                    FROM generate_series(0, 9) gs(g) LEFT JOIN c ON c.bin = gs.g),
              one AS (SELECT list_sort(list({'bin': bin, 'cr': cr, 'cc': cc})) AS bs,
                             CAST(sum(cr) AS BIGINT) AS n_ref,
                             CAST(sum(cc) AS BIGINT) AS n_cur
                      FROM g)
         SELECT n_ref, n_cur,
                round(list_sum(list_transform(bs, b ->
                  ((CAST(b.cr AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)
                   - (CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
                  * ln(((CAST(b.cr AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
                       / ((CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))))), 6) AS psi
         FROM one"""),

    // Per-language PSI, each language binned against ITS OWN reference
    // quantile edges (a shared global binning would hide a segment whose
    // mass moved inside one global bin) — completes the grouped drift
    // family with q_ks_drift_by_lang. Edges via the GROUPED bit-grid
    // selection; languages with an empty reference profile drop loudly.
    Query("q_psi_drift_by_lang", Batch, (s, d) =>
      graft.operators.Robust.psiDriftBy(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
      // Grouped twin: identical discrete-rank edges, binning and smoothed
      // fold, with every window, edge set and bin grid partitioned by lang.
      """WITH t AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v, source = 'src0' AS is_ref
                    FROM documents WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
              r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
                           count(*) OVER (PARTITION BY lang) AS n
                    FROM t WHERE is_ref),
              e AS (SELECT lang,
                           max(CASE WHEN rn = (10*n+99)//100 THEN v END) AS e1,
                           max(CASE WHEN rn = (20*n+99)//100 THEN v END) AS e2,
                           max(CASE WHEN rn = (30*n+99)//100 THEN v END) AS e3,
                           max(CASE WHEN rn = (40*n+99)//100 THEN v END) AS e4,
                           max(CASE WHEN rn = (50*n+99)//100 THEN v END) AS e5,
                           max(CASE WHEN rn = (60*n+99)//100 THEN v END) AS e6,
                           max(CASE WHEN rn = (70*n+99)//100 THEN v END) AS e7,
                           max(CASE WHEN rn = (80*n+99)//100 THEN v END) AS e8,
                           max(CASE WHEN rn = (90*n+99)//100 THEN v END) AS e9
                    FROM r GROUP BY lang),
              b AS (SELECT t.lang, (CASE WHEN v > e1 THEN 1 ELSE 0 END) + (CASE WHEN v > e2 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e3 THEN 1 ELSE 0 END) + (CASE WHEN v > e4 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e5 THEN 1 ELSE 0 END) + (CASE WHEN v > e6 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e7 THEN 1 ELSE 0 END) + (CASE WHEN v > e8 THEN 1 ELSE 0 END)
                         + (CASE WHEN v > e9 THEN 1 ELSE 0 END) AS bin, is_ref
                    FROM t JOIN e ON t.lang = e.lang),
              c AS (SELECT lang, bin, sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
                           sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
                    FROM b GROUP BY 1, 2),
              g AS (SELECT e.lang, gs.g AS bin, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
                    FROM e CROSS JOIN generate_series(0, 9) gs(g)
                    LEFT JOIN c ON c.lang = e.lang AND c.bin = gs.g),
              one AS (SELECT lang, list_sort(list({'bin': bin, 'cr': cr, 'cc': cc})) AS bs,
                             CAST(sum(cr) AS BIGINT) AS n_ref,
                             CAST(sum(cc) AS BIGINT) AS n_cur
                      FROM g GROUP BY lang)
         SELECT lang, n_ref, n_cur,
                round(list_sum(list_transform(bs, b ->
                  ((CAST(b.cr AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)
                   - (CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
                  * ln(((CAST(b.cr AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
                       / ((CAST(b.cc AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))))), 6) AS psi
         FROM one ORDER BY lang"""),

    // Quantity-weighted (lower, discrete) median price per return flag.
    Query("q_weighted_median", Batch, (s, d) =>
      graft.operators.Robust.weightedMedian(
        Tables.lineitem(s, d), "l_returnflag", col("l_extendedprice"), col("l_quantity")),
      """WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                           CAST(l_quantity AS BIGINT) AS w FROM lineitem),
              c AS (SELECT g, v,
                           sum(w) OVER (PARTITION BY g ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                           sum(w) OVER (PARTITION BY g) AS tot FROM b)
         SELECT g AS l_returnflag, min(v) AS w_median
         FROM c WHERE cum * 2 >= tot GROUP BY g ORDER BY g"""),

    // Mutual information lang ↔ source — the feature-leakage probe;
    // distributed contingency cells, sorted single-row MI fold.
    Query("q_mutual_info", Batch, (s, d) =>
      graft.operators.Robust.mutualInformation(Tables.documents(s, d), "lang", "source"),
      // Same sorted-cell fold (struct sort on (x, y, cnt)) as the Spark HOF;
      // marginals are exact-integer re-sums of the same list.
      """WITH cells AS (SELECT lang AS x, source AS y, count(*) AS cnt FROM documents GROUP BY 1, 2),
              one AS (SELECT list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells)
         SELECT n AS n_rows,
                round(list_sum(list_transform(cs, c ->
                  (CAST(c.cnt AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln(CAST(c.cnt AS DOUBLE) * CAST(n AS DOUBLE)
                       / (CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                          * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE))))), 6) AS mi_nats
         FROM one"""),

    // Per-year MI status ↔ priority — the leakage probe per period,
    // completing the grouped association trio (chi2By significance,
    // kendallBy ordinal, miBy information); per-year sorted folds under
    // the per-year contingency-cell ceiling.
    Query("q_mutual_info_by_year", Batch, (s, d) =>
      graft.operators.Robust.mutualInformationBy(
        Tables.orders(s, d).withColumn("order_year", year(col("o_orderdate")).cast("int")),
        "o_orderstatus", "o_orderpriority", "order_year"),
      // Grouped twin: the identical sorted-cell MI fold per order year.
      """WITH cells AS (SELECT CAST(year(o_orderdate) AS INT) AS g, o_orderstatus AS x,
                               o_orderpriority AS y, count(*) AS cnt
                        FROM orders GROUP BY 1, 2, 3),
              one AS (SELECT g, list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY 1)
         SELECT g AS order_year, n AS n_rows,
                round(list_sum(list_transform(cs, c ->
                  (CAST(c.cnt AS DOUBLE) / CAST(n AS DOUBLE))
                  * ln(CAST(c.cnt AS DOUBLE) * CAST(n AS DOUBLE)
                       / (CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                          * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE))))), 6) AS mi_nats
         FROM one ORDER BY 1"""),

    // Chi-square independence statistic lang ↔ source (the significance
    // companion to q_mutual_info; same sorted-cell fold determinism),
    // plus Cramér's V — χ² normalized to a [0,1] effect size.
    Query("q_chi_square", Batch, (s, d) =>
      graft.operators.Robust.chiSquare(Tables.documents(s, d), "lang", "source"),
      // zero-cell mass in closed form: χ² = Σ_obs (o−e)²/e + (N − Σ_obs e)
      """WITH cells AS (SELECT lang AS x, source AS y, count(*) AS cnt FROM documents GROUP BY 1, 2),
              one AS (SELECT list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells),
              s AS (SELECT n,
                len(list_distinct(list_transform(cs, c -> c.x))) AS nx,
                len(list_distinct(list_transform(cs, c -> c.y))) AS ny,
                round(list_sum(list_transform(cs, c ->
                  (CAST(c.cnt AS DOUBLE)
                   - CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                     * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  * (CAST(c.cnt AS DOUBLE)
                     - CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                       * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                       / CAST(n AS DOUBLE))
                  / (CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                     * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                     / CAST(n AS DOUBLE))))
                  + (CAST(n AS DOUBLE) - list_sum(list_transform(cs, c ->
                      CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                      * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                      / CAST(n AS DOUBLE)))), 6) AS chi2
                FROM one)
         SELECT n AS n_rows, CAST((nx - 1) * (ny - 1) AS BIGINT) AS dof, chi2,
                CASE WHEN least(nx - 1, ny - 1) > 0 THEN
                  round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(nx - 1, ny - 1))), 6)
                END AS cramers_v
         FROM s"""),

    // Per-year chi-square of status ↔ priority — "does the association
    // hold in EVERY period, or is the global χ² a mixture artifact?"
    // (Simpson's-paradox screening); per-(year, x, y) cells distributed,
    // per-year sorted fold under the per-year contingency-cell ceiling.
    Query("q_chi_square_by_year", Batch, (s, d) =>
      graft.operators.Robust.chiSquareBy(
        Tables.orders(s, d).withColumn("order_year", year(col("o_orderdate")).cast("int")),
        "o_orderstatus", "o_orderpriority", "order_year"),
      // Grouped twin: the identical sorted-cell fold per order year; V from
      // the rounded chi2, the same two-step chain as the operator.
      """WITH cells AS (SELECT CAST(year(o_orderdate) AS INT) AS g, o_orderstatus AS x,
                               o_orderpriority AS y, count(*) AS cnt
                        FROM orders GROUP BY 1, 2, 3),
              one AS (SELECT g, list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY 1),
              s AS (SELECT g, n,
                len(list_distinct(list_transform(cs, c -> c.x))) AS nx,
                len(list_distinct(list_transform(cs, c -> c.y))) AS ny,
                round(list_sum(list_transform(cs, c ->
                  (CAST(c.cnt AS DOUBLE)
                   - CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                     * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  * (CAST(c.cnt AS DOUBLE)
                     - CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                       * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                       / CAST(n AS DOUBLE))
                  / (CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                     * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                     / CAST(n AS DOUBLE))))
                  + (CAST(n AS DOUBLE) - list_sum(list_transform(cs, c ->
                      CAST(list_sum(list_transform(list_filter(cs, x -> x.x = c.x), t -> t.cnt)) AS DOUBLE)
                      * CAST(list_sum(list_transform(list_filter(cs, x -> x.y = c.y), t -> t.cnt)) AS DOUBLE)
                      / CAST(n AS DOUBLE)))), 6) AS chi2
                FROM one)
         SELECT g AS order_year, n AS n_rows, CAST((nx - 1) * (ny - 1) AS BIGINT) AS dof, chi2,
                CASE WHEN least(nx - 1, ny - 1) > 0 THEN
                  round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(nx - 1, ny - 1))), 6)
                END AS cramers_v
         FROM s ORDER BY 1"""),

    // Two-proportion z-test: arms by user-id parity, success = a purchase
    // within 24 h of the user's first event (exact µs integer cutoffs).
    Query("q_ab_test", Batch, (s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val units = ev.join(first, "user_id")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) <= unix_micros(col("t0")) + lit(86400000000L),
          1L).otherwise(0L)).as("conv"))
      graft.operators.Robust.twoProportionZ(
        units, pmod(col("user_id"), lit(2L)), col("conv") === 1L)
    },
      // Same exact-integer counts and the same double expression tree for z.
      """WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
              c AS (SELECT e.user_id,
                           max(CASE WHEN e.event_type = 'purchase'
                                     AND epoch_us(e.ts) <= epoch_us(f.t0) + 86400000000
                                    THEN 1 ELSE 0 END) AS conv
                    FROM events e JOIN f ON e.user_id = f.user_id GROUP BY e.user_id),
              a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                           CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(sum(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
                    FROM c),
              z AS (SELECT *, (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p FROM a)
         SELECT n_a, conv_a, n_b, conv_b,
                round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                      / sqrt(p * (1.0 - p)
                             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z_stat
         FROM z"""),

    // Per-signup-weekday two-proportion z — "does the conversion uplift
    // hold for weekday vs weekend signups?", completing the grouped A/B
    // family's rate axis (welchTBy means, mwBy ranks, upliftCiBy effect
    // CI). Weekday = epoch-day mod 7 (0 = Thursday) — a pure-integer
    // spelling portable across engine dayofweek() conventions.
    Query("q_ab_test_by_dow", Batch, (s, d) => {
      val ev = Tables.events(s, d)
      val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val units = ev.join(first, "user_id")
        .groupBy(col("user_id"),
          pmod(datediff(to_date(col("t0")), lit("1970-01-01").cast("date")), lit(7))
            .cast("long").as("dow07"))
        .agg(max(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) <= unix_micros(col("t0")) + lit(86400000000L),
          1L).otherwise(0L)).as("conv"))
      graft.operators.Robust.twoProportionZBy(
        units, pmod(col("user_id"), lit(2L)), col("conv") === 1L, "dow07")
    },
      // Grouped twin: the identical integer counts and double chain with
      // the signup-weekday (epoch-day mod 7, engine-portable integer — no
      // dayofweek() convention mismatch) riding the aggregation; segments
      // missing either arm drop.
      """WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
              c AS (SELECT e.user_id,
                           CAST(date_diff('day', DATE '1970-01-01', CAST(f.t0 AS DATE)) % 7 AS BIGINT) AS dow07,
                           max(CASE WHEN e.event_type = 'purchase'
                                     AND epoch_us(e.ts) <= epoch_us(f.t0) + 86400000000
                                    THEN 1 ELSE 0 END) AS conv
                    FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2),
              a AS (SELECT dow07,
                           CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
                           CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(sum(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
                    FROM c GROUP BY 1
                    HAVING sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) > 0
                       AND sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) > 0),
              z AS (SELECT *, (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                              / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p FROM a)
         SELECT dow07, n_a, conv_a, n_b, conv_b,
                round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                       - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                      / sqrt(p * (1.0 - p)
                             * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z_stat
         FROM z ORDER BY 1"""),

    // Welch's t-test: mean order value, arms by customer-key parity —
    // exact decimal moments per arm, one fixed double chain for t and the
    // Welch–Satterthwaite df, bit-replayed by the oracle.
    Query("q_welch_t", Batch, (s, d) =>
      graft.operators.Robust.welchT(
        Tables.orders(s, d), pmod(col("o_custkey"), lit(2L)), col("o_totalprice")),
      // Welch t: same exact decimal moments, same double expression tree.
      """WITH a AS (SELECT CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           sum(CASE WHEN o_custkey % 2 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS ds_a,
                           sum(CASE WHEN o_custkey % 2 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END) AS dss_a,
                           CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           sum(CASE WHEN o_custkey % 2 <> 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS ds_b,
                           sum(CASE WHEN o_custkey % 2 <> 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END) AS dss_b
                    FROM orders),
              d AS (SELECT n_a, n_b,
                           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                           CAST(ds_a AS DOUBLE) AS sa, CAST(ds_b AS DOUBLE) AS sb,
                           CAST(dss_a AS DOUBLE) AS ssa, CAST(dss_b AS DOUBLE) AS ssb
                    FROM a),
              v AS (SELECT *, (ssa - sa * sa / na) / (na - 1.0) / na AS sea,
                              (ssb - sb * sb / nb) / (nb - 1.0) / nb AS seb
                    FROM d)
         SELECT n_a, n_b,
                round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
                round((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t_stat,
                round((sea + seb) * (sea + seb)
                      / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6) AS welch_df
         FROM v"""),

    // One-way ANOVA F across the five order priorities — the k-sample
    // screen BEFORE pairwise tests + FDR ("does price differ across ANY
    // priority?"). One keyed aggregation of exact decimal moments,
    // sorted ≤ k-row fold, F chain spelled once.
    Query("q_anova_f", Batch, (s, d) =>
      graft.operators.Robust.anovaF(
        Tables.orders(s, d), col("o_totalprice"), col("o_orderpriority")),
      // Same exact-decimal per-group moments, same sorted-group fold for
      // the Σ S²/n term, identical F chain.
      """WITH g AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                           CAST(count(*) AS BIGINT) AS n,
                           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                           sum(CAST(o_totalprice AS DECIMAL(18,2))
                               * CAST(o_totalprice AS DECIMAL(18,2))) AS ss
                    FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
                    GROUP BY 1),
              one AS (SELECT list_sort(list({'g': g, 'n': n, 's': s, 'ss': ss})) AS gs,
                             CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_rows,
                             sum(s) AS t, sum(ss) AS tss FROM g),
              e AS (SELECT k, n_rows, CAST(n_rows AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
                           list_sum(list_transform(gs, x ->
                             CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE) / CAST(x.n AS DOUBLE))) AS sb,
                           CAST(t AS DOUBLE) AS td, CAST(tss AS DOUBLE) AS tssd
                    FROM one),
              f AS (SELECT k, n_rows, sb - td * td / nd AS ssb, tssd - sb AS ssw, nd, kd FROM e)
         SELECT k, n_rows,
                round(CASE WHEN n_rows > k AND ssw > 0
                           THEN (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END, 6) AS f_stat,
                k - 1 AS df1, n_rows - k AS df2
         FROM f"""),

    // Kruskal–Wallis H across the three return flags — the nonparametric
    // k-sample companion (exact doubled-rank algebra generalized from
    // Mann–Whitney; heavy integer ties exercise the average-rank path).
    Query("q_kruskal_wallis", Batch, (s, d) =>
      graft.operators.Robust.kruskalWallis(
        Tables.lineitem(s, d), col("l_quantity"), col("l_returnflag")),
      // Same exact doubled-rank sums in HUGEINT (operand cast before the
      // multiply), same sorted-group fold and tie-corrected H chain.
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS g, l_quantity AS v
                    FROM lineitem WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
              gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
              pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct FROM gv GROUP BY 1),
              r AS (SELECT v, ct,
                           coalesce(sum(ct) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
                           CAST(ct AS HUGEINT) * ct * ct - ct AS tie3
                    FROM pv),
              rg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                            CAST(sum(CAST(c AS HUGEINT)
                              * (CAST(below AS HUGEINT) * 2 + ct + 1)) AS HUGEINT) AS r2
                     FROM gv JOIN r USING (v) GROUP BY 1),
              one AS (SELECT list_sort(list({'g': g, 'n': n, 'r2': r2})) AS gs,
                             CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_rows
                      FROM rg),
              tt AS (SELECT CAST(sum(tie3) AS HUGEINT) AS tie3 FROM r),
              e AS (SELECT k, n_rows, CAST(n_rows AS DOUBLE) AS nd,
                           list_sum(list_transform(gs, x ->
                             CAST(x.r2 AS DOUBLE) * CAST(x.r2 AS DOUBLE)
                             / (4.0 * CAST(x.n AS DOUBLE)))) AS sr,
                           CAST(tie3 AS DOUBLE) AS tied
                    FROM one, tt),
              h AS (SELECT k, n_rows,
                           12.0 / (nd * (nd + 1.0)) * sr - 3.0 * (nd + 1.0) AS hraw,
                           1.0 - tied / (nd * nd * nd - nd) AS corr
                    FROM e)
         SELECT k, n_rows, round(CASE WHEN corr > 0 THEN hraw / corr END, 6) AS h_stat,
                k - 1 AS df
         FROM h"""),

    // Brown–Forsythe W across the five order priorities — the variance-
    // homogeneity screen BEFORE trusting q_anova_f's equal-variance
    // assumption (Levene with median centering; medians via the
    // distributed value-domain rank pick, never a per-group sort).
    Query("q_brown_forsythe", Batch, (s, d) =>
      graft.operators.Robust.brownForsythe(
        Tables.orders(s, d), col("o_totalprice"), col("o_orderpriority")),
      // Same discrete rank-((n+1)//2) median pick per group; the z-moments
      // are count-weighted exact integer cents over the value domain, then
      // the identical ANOVA fold/chain (F is cents-scale invariant).
      """WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                           CAST(o_totalprice AS DECIMAL(18,2)) AS v
                    FROM orders WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
              gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
              med AS (SELECT g, v AS med FROM (
                        SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                               count(*) OVER (PARTITION BY g) AS c
                        FROM b) WHERE rn = (c + 1) // 2),
              z AS (SELECT gv.g, gv.c, CAST(abs(gv.v - med.med) * 100 AS HUGEINT) AS zc
                    FROM gv JOIN med USING (g)),
              g AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                           CAST(sum(c * zc) AS HUGEINT) AS s,
                           CAST(sum(c * zc * zc) AS HUGEINT) AS ss
                    FROM z GROUP BY 1),
              one AS (SELECT list_sort(list({'g': g, 'n': n, 's': s, 'ss': ss})) AS gs,
                             CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_rows,
                             sum(s) AS t, sum(ss) AS tss FROM g),
              e AS (SELECT k, n_rows, CAST(n_rows AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
                           list_sum(list_transform(gs, x ->
                             CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE) / CAST(x.n AS DOUBLE))) AS sb,
                           CAST(t AS DOUBLE) AS td, CAST(tss AS DOUBLE) AS tssd
                    FROM one),
              f AS (SELECT k, n_rows, sb - td * td / nd AS ssb, tssd - sb AS ssw, nd, kd FROM e)
         SELECT k, n_rows,
                round(CASE WHEN n_rows > k AND ssw > 0
                           THEN (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END, 6) AS w_stat,
                k - 1 AS df1, n_rows - k AS df2
         FROM f"""),

    // Cochran–Armitage trend z: does the fulfillment rate trend
    // monotonically across the ordered priority scores 1..5? (exact
    // integer A/B algebra, one double chain, k-row fold).
    Query("q_cochran_armitage", Batch, (s, d) =>
      graft.operators.Robust.cochranArmitage(
        Tables.orders(s, d),
        substring(col("o_orderpriority"), 1, 1),
        col("o_orderstatus") === "F"),
      // Same integer A/B trend algebra in HUGEINT and the identical
      // one-double z chain; degenerate successes or a single score → NULL.
      """WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
                           o_orderstatus = 'F' AS y
                    FROM orders
                    WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
              g AS (SELECT w, CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS s
                    FROM b GROUP BY 1),
              one AS (SELECT CAST(count(*) AS BIGINT) AS k,
                             CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(s) AS HUGEINT) AS ss,
                             CAST(sum(w * s) AS HUGEINT) AS ws,
                             CAST(sum(w * n) AS HUGEINT) AS wn,
                             CAST(sum(w * w * n) AS HUGEINT) AS wwn
                      FROM g),
              e AS (SELECT k, nn, ss, nn * ws - ss * wn AS a,
                           nn * wwn - wn * wn AS bb FROM one)
         SELECT k, CAST(nn AS BIGINT) AS n_rows, CAST(ss AS BIGINT) AS n_success,
                round(CASE WHEN ss > 0 AND ss < nn AND bb > 0
                           THEN CAST(a AS DOUBLE)
                                / sqrt(CAST(ss * (nn - ss) * bb AS DOUBLE)
                                       / CAST(nn AS DOUBLE)) END, 6) AS z_stat
         FROM e"""),

    // Per-year Cochran–Armitage — is the priority→fulfillment gradient a
    // structural fact or one era's artifact? Same integer algebra with
    // the year riding the score aggregation.
    Query("q_cochran_armitage_by_year", Batch, (s, d) =>
      graft.operators.Robust.cochranArmitageBy(
        Tables.orders(s, d)
          .withColumn("order_year", year(col("o_orderdate")).cast("int")),
        substring(col("o_orderpriority"), 1, 1),
        col("o_orderstatus") === "F", "order_year"),
      // Grouped twin: the year rides the score aggregation; identical
      // HUGEINT A/B algebra and z chain per segment.
      """WITH b AS (SELECT CAST(year(o_orderdate) AS INT) AS seg,
                           CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
                           o_orderstatus = 'F' AS y
                    FROM orders
                    WHERE o_orderdate IS NOT NULL
                      AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
              g AS (SELECT seg, w, CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT) AS s
                    FROM b GROUP BY 1, 2),
              one AS (SELECT seg, CAST(count(*) AS BIGINT) AS k,
                             CAST(sum(n) AS HUGEINT) AS nn, CAST(sum(s) AS HUGEINT) AS ss,
                             CAST(sum(w * s) AS HUGEINT) AS ws,
                             CAST(sum(w * n) AS HUGEINT) AS wn,
                             CAST(sum(w * w * n) AS HUGEINT) AS wwn
                      FROM g GROUP BY 1),
              e AS (SELECT seg, k, nn, ss, nn * ws - ss * wn AS a,
                           nn * wwn - wn * wn AS bb FROM one)
         SELECT seg AS order_year, k, CAST(nn AS BIGINT) AS n_rows,
                CAST(ss AS BIGINT) AS n_success,
                round(CASE WHEN ss > 0 AND ss < nn AND bb > 0
                           THEN CAST(a AS DOUBLE)
                                / sqrt(CAST(ss * (nn - ss) * bb AS DOUBLE)
                                       / CAST(nn AS DOUBLE)) END, 6) AS z_stat
         FROM e ORDER BY order_year"""),

    // Per-priority Welch t — the heterogeneous-treatment-effect screen:
    // is the A/B effect uniform across order priorities, or driven by
    // one? Same exact-decimal moments with the segment riding the one
    // keyed aggregation; under-2-rows-per-arm segments drop.
    Query("q_welch_t_by_priority", Batch, (s, d) =>
      graft.operators.Robust.welchTBy(
        Tables.orders(s, d), pmod(col("o_custkey"), lit(2L)), col("o_totalprice"),
        "o_orderpriority"),
      // Grouped twin: identical exact-decimal moments and double chain with
      // the priority riding the aggregation; <2-rows-per-arm segments drop.
      """WITH a AS (SELECT o_orderpriority,
                           CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           sum(CASE WHEN o_custkey % 2 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS ds_a,
                           sum(CASE WHEN o_custkey % 2 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END) AS dss_a,
                           CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           sum(CASE WHEN o_custkey % 2 <> 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS ds_b,
                           sum(CASE WHEN o_custkey % 2 <> 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) END) AS dss_b
                    FROM orders GROUP BY 1
                    HAVING sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) > 1
                       AND sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END) > 1),
              d AS (SELECT o_orderpriority, n_a, n_b,
                           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                           CAST(ds_a AS DOUBLE) AS sa, CAST(ds_b AS DOUBLE) AS sb,
                           CAST(dss_a AS DOUBLE) AS ssa, CAST(dss_b AS DOUBLE) AS ssb
                    FROM a),
              v AS (SELECT *, (ssa - sa * sa / na) / (na - 1.0) / na AS sea,
                              (ssb - sb * sb / nb) / (nb - 1.0) / nb AS seb
                    FROM d)
         SELECT o_orderpriority, n_a, n_b,
                round(sa / na, 6) AS mean_a, round(sb / nb, 6) AS mean_b,
                round((sa / na - sb / nb) / sqrt(sea + seb), 6) AS t_stat,
                round((sea + seb) * (sea + seb)
                      / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 6) AS welch_df
         FROM v ORDER BY 1"""),

    // Mann–Whitney U (rank-sum) on l_quantity A-vs-N return flags —
    // integer-heavy values exercise the average-rank tie path; u2_a is
    // the exact-integer 2·U_A, z uses the tie-corrected sigma.
    Query("q_mann_whitney", Batch, (s, d) =>
      graft.operators.Robust.mannWhitneyU(
        Tables.lineitem(s, d), col("l_quantity"), col("l_returnflag"), "A", "N"),
      // Mann–Whitney: same exact-integer rank algebra (2·R_A with average
      // ranks ×2), same tie-corrected double chain for z. The per-row
      // products evaluate in HUGEINT (operand cast BEFORE the multiply),
      // mirroring the operator's DECIMAL(38,0) path — BIGINT products
      // overflow at ~2M same-value ties / ~2e9 rows, exactly the scales
      // the decimal Spark path was added for.
      """WITH t AS (SELECT l_quantity AS v, l_returnflag = 'A' AS is_a
                    FROM lineitem WHERE l_returnflag IN ('A', 'N')),
              pv AS (SELECT v,
                            CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                            CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
                     FROM t GROUP BY v),
              r AS (SELECT *, coalesce(sum(ca + cb) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                    FROM pv),
              a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                           CAST(sum(CAST(ca AS HUGEINT) * (CAST(below AS HUGEINT) * 2 + ca + cb + 1)) AS HUGEINT) AS r2a,
                           CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb)) AS HUGEINT) AS tie3
                    FROM r),
              z AS (SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2a, tie3,
                           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
                    FROM a)
         SELECT n_a, n_b, CAST(u2a AS BIGINT) AS u2_a,
                round((CAST(u2a AS DOUBLE) / 2.0 - na * nb / 2.0)
                      / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                             - CAST(tie3 AS DOUBLE) / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
         FROM z"""),

    // Cliff's delta on the same A-vs-N split — the EFFECT-SIZE companion
    // to q_mann_whitney (at corpus n everything is significant; δ =
    // P(a>b) − P(a<b) says how big and which way). Exact-integer
    // dominance sums in DECIMAL(38,0), one division.
    Query("q_cliffs_delta", Batch, (s, d) =>
      graft.operators.Robust.cliffsDelta(
        Tables.lineitem(s, d), col("l_quantity"), col("l_returnflag"), "A", "N"),
      // Dominance sums in HUGEINT (operand cast BEFORE the multiply),
      // mirroring the operator's DECIMAL(38,0) path; one double division.
      """WITH t AS (SELECT l_quantity AS v, l_returnflag = 'A' AS is_a
                    FROM lineitem WHERE l_returnflag IN ('A', 'N')),
              pv AS (SELECT v,
                            CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                            CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
                     FROM t GROUP BY v),
              r AS (SELECT *, sum(cb) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
                    FROM pv),
              a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                           CAST(sum(CAST(ca AS HUGEINT) * (CAST(cumb AS HUGEINT) * 2 - cb)) AS HUGEINT) AS s
                    FROM r)
         SELECT n_a, n_b,
                round(CAST(s - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS cliffs_delta
         FROM a"""),

    // Per-language Cliff's delta between the two sources — the
    // effect-size column of the per-segment drift dashboard (ks = gap,
    // mw = significance, w1 = distance, δ = dominance + direction).
    Query("q_cliffs_delta_by_lang", Batch, (s, d) =>
      graft.operators.Robust.cliffsDeltaBy(
        Tables.documents(s, d), col("n_chars"), col("source"), "src0", "src1", "lang"),
      // Grouped twin: every window and aggregate partitioned by lang;
      // one-sided languages drop.
      """WITH t AS (SELECT lang AS g, n_chars AS v, source = 'src0' AS is_a
                    FROM documents WHERE source IN ('src0', 'src1')),
              pv AS (SELECT g, v,
                            CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                            CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
                     FROM t GROUP BY 1, 2),
              r AS (SELECT *, sum(cb) OVER (PARTITION BY g ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
                    FROM pv),
              a AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                           CAST(sum(CAST(ca AS HUGEINT) * (CAST(cumb AS HUGEINT) * 2 - cb)) AS HUGEINT) AS s
                    FROM r GROUP BY 1 HAVING sum(ca) > 0 AND sum(cb) > 0)
         SELECT g AS lang, n_a, n_b,
                round(CAST(s - CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) AS cliffs_delta
         FROM a ORDER BY 1"""),

    // Kendall τ-b of quantity vs the 10k-bucketed extended price — the
    // tie-robust ordinal association on a bounded contingency-cell
    // domain (≤ 50 × ~7 cells): pair counts are an O(cells²) fold over
    // one collected array, marginal tie pairs aggregate distributed.
    // Positive by construction (price grows with quantity); P and Q are
    // emitted as exact integers.
    Query("q_kendall_tau", Batch, (s, d) =>
      graft.operators.Robust.kendallTauB(
        Tables.lineitem(s, d), col("l_quantity"),
        floor(col("l_extendedprice") / lit(10000.0)).cast("int")),
      // Kendall τ-b: exact integer pair counts over the cell domain (empty
      // strict-filter sublists sum to NULL, which the outer sum skips —
      // identical to adding the zero the engine's 0-seeded fold produces).
      """WITH t AS (SELECT l_quantity AS x, CAST(floor(l_extendedprice / 10000.0) AS INT) AS y
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
              one AS (SELECT list({'x': x, 'y': y, 'cnt': cnt}) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells),
              mx AS (SELECT CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS n1
                     FROM (SELECT sum(cnt) AS tx FROM cells GROUP BY x)),
              my AS (SELECT CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS n2
                     FROM (SELECT sum(cnt) AS ty FROM cells GROUP BY y)),
              pq AS (SELECT n,
                            CAST(coalesce(list_sum(list_transform(cs, c -> c.cnt *
                              list_sum(list_transform(list_filter(cs,
                                o -> o.x > c.x AND o.y > c.y), o -> o.cnt)))), 0) AS BIGINT) AS concordant,
                            CAST(coalesce(list_sum(list_transform(cs, c -> c.cnt *
                              list_sum(list_transform(list_filter(cs,
                                o -> o.x > c.x AND o.y < c.y), o -> o.cnt)))), 0) AS BIGINT) AS discordant
                     FROM one)
         SELECT n, concordant, discordant,
                round(CAST(concordant - discordant AS DOUBLE)
                      / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE))
                         * sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))), 6) AS tau_b
         FROM pq, mx, my"""),

    // Per-return-flag Kendall τ-b — the tie-robust per-segment
    // association screen next to q_spearman_by_flag: each segment's
    // O(cells²) pair fold runs over its OWN collected cell array under
    // the per-group contingency ceiling.
    Query("q_kendall_tau_by_flag", Batch, (s, d) =>
      graft.operators.Robust.kendallTauBBy(
        Tables.lineitem(s, d), col("l_quantity"),
        floor(col("l_extendedprice") / lit(10000.0)).cast("int"), "l_returnflag"),
      // Grouped Kendall τ-b: the same cell-domain pair-count folds with the
      // return flag partitioning every relation.
      """WITH t AS (SELECT l_returnflag AS g, l_quantity AS x,
                           CAST(floor(l_extendedprice / 10000.0) AS INT) AS y
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              cells AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2, 3),
              one AS (SELECT g, list({'x': x, 'y': y, 'cnt': cnt}) AS cs,
                             CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY g),
              mx AS (SELECT g, CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS n1
                     FROM (SELECT g, sum(cnt) AS tx FROM cells GROUP BY g, x) GROUP BY g),
              my AS (SELECT g, CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS n2
                     FROM (SELECT g, sum(cnt) AS ty FROM cells GROUP BY g, y) GROUP BY g),
              pq AS (SELECT g, n,
                            CAST(coalesce(list_sum(list_transform(cs, c -> c.cnt *
                              list_sum(list_transform(list_filter(cs,
                                o -> o.x > c.x AND o.y > c.y), o -> o.cnt)))), 0) AS BIGINT) AS concordant,
                            CAST(coalesce(list_sum(list_transform(cs, c -> c.cnt *
                              list_sum(list_transform(list_filter(cs,
                                o -> o.x > c.x AND o.y < c.y), o -> o.cnt)))), 0) AS BIGINT) AS discordant
                     FROM one)
         SELECT pq.g AS l_returnflag, n, concordant, discordant,
                round(CAST(concordant - discordant AS DOUBLE)
                      / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE))
                         * sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))), 6) AS tau_b
         FROM pq JOIN mx ON pq.g = mx.g JOIN my ON pq.g = my.g
         ORDER BY 1"""),

    // Spearman rank correlation of quantity vs extended price — monotone
    // association on ranks (average-rank ties via the exact-integer
    // doubled-rank algebra, distributed runningTotals ECDF scan, moments
    // combined in DECIMAL(38,0)). Positive by construction here
    // (extendedprice ≈ qty × unit price), so the sign also sanity-checks
    // the rank plumbing.
    Query("q_spearman", Batch, (s, d) =>
      graft.operators.Robust.spearmanRho(
        Tables.lineitem(s, d), col("l_quantity"), col("l_extendedprice")),
      // Spearman: same doubled-rank tie algebra (2·avgrank = 2·below+cnt+1),
      // HUGEINT moment combination (n·Sxy needs >63 bits), sqrt of each
      // variance separately — the variance PRODUCT would need ~2× the digits.
      """WITH t AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              rx AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
              rxc AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
                      FROM rx),
              ry AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
              ryc AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
                      FROM ry),
              j AS (SELECT rxc.r2 AS r2x, ryc.r2 AS r2y
                    FROM t JOIN rxc ON t.x = rxc.v JOIN ryc ON t.y = ryc.v),
              m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(r2x) AS HUGEINT) AS sx, CAST(sum(r2y) AS HUGEINT) AS sy,
                           CAST(sum(r2x * r2y) AS HUGEINT) AS sxy,
                           CAST(sum(r2x * r2x) AS HUGEINT) AS sxx,
                           CAST(sum(r2y * r2y) AS HUGEINT) AS syy
                    FROM j)
         SELECT CAST(n AS BIGINT) AS n,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
         FROM m"""),

    // Per-return-flag Spearman ρ — the Simpson's-paradox screen: does the
    // global monotone association hold in every segment? Within-group
    // ranks via the GROUPED two-level scan; same doubled-rank tie algebra
    // and DECIMAL(38,0) moment combination per group.
    Query("q_spearman_by_flag", Batch, (s, d) =>
      graft.operators.Robust.spearmanRhoBy(
        Tables.lineitem(s, d), col("l_quantity"), col("l_extendedprice"), "l_returnflag"),
      // Grouped twin: identical doubled-rank algebra with every window,
      // join and moment partitioned by the return flag.
      """WITH t AS (SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              rx AS (SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
              rxc AS (SELECT g, v, 2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
                      FROM rx),
              ry AS (SELECT g, y AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
              ryc AS (SELECT g, v, 2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
                      FROM ry),
              j AS (SELECT t.g, rxc.r2 AS r2x, ryc.r2 AS r2y
                    FROM t JOIN rxc ON t.g = rxc.g AND t.x = rxc.v
                           JOIN ryc ON t.g = ryc.g AND t.y = ryc.v),
              m AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
                           CAST(sum(r2x) AS HUGEINT) AS sx, CAST(sum(r2y) AS HUGEINT) AS sy,
                           CAST(sum(r2x * r2y) AS HUGEINT) AS sxy,
                           CAST(sum(r2x * r2x) AS HUGEINT) AS sxx,
                           CAST(sum(r2y * r2y) AS HUGEINT) AS syy
                    FROM j GROUP BY 1)
         SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
                round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
         FROM m ORDER BY 1"""),
  )
}
