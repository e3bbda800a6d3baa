package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import Query.{Batch, Stream}
import Common._

/** Label quality and calibration: rater agreement, conformal gates,
  * isotonic calibration and classifier metrics. */
private[contract] object CalibrationQueries {

  /** The rater frame every calibration plan reads: `doc_id`, the `extra`
    * documents columns, the LR `quality` probability and its `keep`
    * decision, and the curation audit's `kept` verdict — from ONE fused
    * text-kernel pass ([[graft.operators.Curation.qualityKeptRaw]], pinned
    * row-identical to `qualityScoreRaw ⋈ curationAuditRaw` by
    * CurationSpec). It stands in for that join on `doc_id` (and the
    * documents join for `extra`) because `doc_id` is the documents key:
    * unique and non-null in every documents table the plans read (the
    * sf0.001/sf0.01/sf0.1 testdata sets, and `np.arange` ids in
    * perfbench's generator), so each join matched every row once. */
  private def raters(s: SparkSession, d: String, extra: String*): DataFrame =
    graft.operators.Curation.qualityKeptRaw(Tables.documents(s, d), extra = extra)

  /** Shared rater-join CTE prefix for the calibration family: the LR
    * quality probability joined with the curation-audit label, both
    * reusing the existing oracle SQL (the [[curationAuditSql]] nested-CTE
    * pattern). `r` carries (q DECIMAL(8,6), y BOOLEAN). */
  private lazy val raterJoinCte: String =
    s"""WITH ca AS ($curationAuditSql),
              ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
                          z AS (SELECT doc_id,
                                       -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
                                       + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
                                       + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
                                       + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
                                FROM f)
                     SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality FROM z),
              r AS (SELECT d.source AS g, CAST(ql.quality AS DECIMAL(8,6)) AS q,
                           ca.reason = 'kept' AS y
                    FROM ql JOIN ca USING (doc_id) JOIN documents d USING (doc_id))"""

  /** Fleiss replay: the cohenKappaSql rater CTEs plus the n_chars length
    * gate; κ = (A·r·N − E·(r−1)) / ((r−1)·(r²N² − E)) at r = 3, exact
    * HUGEINT intermediates, one double division (den = 0 → NULL). */
  private lazy val fleissKappaSql: String =
    s"""WITH ca AS ($curationAuditSql),
       |     ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
       |                 z AS (SELECT doc_id,
       |                              -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
       |                              + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
       |                              + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
       |                              + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
       |                       FROM f)
       |            SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
       |     kk AS (SELECT (CASE WHEN ql.keep THEN 1 ELSE 0 END
       |                  + CASE WHEN ca.reason = 'kept' THEN 1 ELSE 0 END
       |                  + CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END) AS k
       |            FROM ql JOIN ca USING (doc_id) JOIN documents d USING (doc_id)),
       |     agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                    CAST(sum(k) AS HUGEINT) AS s1,
       |                    CAST(sum(k * (k - 1) + (3 - k) * (2 - k)) AS HUGEINT) AS a
       |             FROM kk),
       |     alg AS (SELECT n, a,
       |                    s1 * s1 + (3 * CAST(n AS HUGEINT) - s1) * (3 * CAST(n AS HUGEINT) - s1) AS e
       |             FROM agg)
       |SELECT n,
       |       round(CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * 6.0), 6) AS p_bar,
       |       round(CAST(e AS DOUBLE) / (9.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_e,
       |       CASE WHEN 2 * (9 * CAST(n AS HUGEINT) * n - e) = 0 THEN NULL
       |            ELSE round(CAST(a * 3 * CAST(n AS HUGEINT) - e * 2 AS DOUBLE)
       |                       / CAST(2 * (9 * CAST(n AS HUGEINT) * n - e) AS DOUBLE), 6) END AS kappa
       |FROM alg""".stripMargin

  /** Conformal replay: the rater CTEs with doc_id carried for the parity
    * split; q̂ = min v with cum ≥ ⌈(n_cal+1)·0.9⌉ (coalesce 1 when the
    * rank overshoots), exact DECIMAL(8,6) nonconformity compares. */
  private lazy val conformalGateSql: String =
    s"""WITH ca AS ($curationAuditSql),
       |     ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
       |                 z AS (SELECT doc_id,
       |                              -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
       |                              + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
       |                              + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
       |                              + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
       |                       FROM f)
       |            SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality FROM z),
       |     rr AS (SELECT ql.doc_id AS doc_id, CAST(ql.quality AS DECIMAL(8,6)) AS q,
       |                   ca.reason = 'kept' AS y
       |            FROM ql JOIN ca USING (doc_id)),
       |     b AS (SELECT doc_id, q, y,
       |                  (${graft.functions.PortableHash.keyHashSql("doc_id")}) % 2 = 0 AS is_cal,
       |                  CASE WHEN y THEN CAST(CAST(1 AS DECIMAL(8,6)) - q AS DECIMAL(8,6))
       |                       ELSE q END AS a
       |           FROM rr),
       |     pv AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS c FROM b WHERE is_cal GROUP BY 1),
       |     tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM pv),
       |     cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM pv),
       |     qh AS (SELECT coalesce(min(v), CAST(1 AS DECIMAL(8,6))) AS qhat
       |            FROM cum, tot
       |            WHERE cum >= CAST(floor(CAST(90 * (n_cal + 1) + 99 AS DOUBLE) / 100.0) AS BIGINT))
       |SELECT max(tot.n_cal) AS n_cal, CAST(count(*) AS BIGINT) AS n_test,
       |       CAST(max(qh.qhat) AS DOUBLE) AS qhat,
       |       round(CAST(sum(CASE WHEN b.a <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage,
       |       round(CAST(sum((CASE WHEN CAST(CAST(1 AS DECIMAL(8,6)) - b.q AS DECIMAL(8,6)) <= qh.qhat THEN 1 ELSE 0 END)
       |                    + (CASE WHEN b.q <= qh.qhat THEN 1 ELSE 0 END)) AS DOUBLE) / count(*), 6) AS avg_set_size
       |FROM b, qh, tot WHERE NOT b.is_cal""".stripMargin

  /** [[conformalGateSql]] + the monitor's pinned parity column. */
  private lazy val conformalStreamSql: String =
    withParityAfter(conformalGateSql, "AS avg_set_size")

  /** [[conformalBySql]] + the grouped monitor's pinned parity column. */
  private lazy val conformalStreamBySql: String =
    withParityAfter(conformalBySql, "AS avg_set_size")

  /** Mondrian conformal replay: source rides the parity split, the
    * PARTITION BY of the rank window, and every fold; LEFT JOINs drive
    * from the calibration side like the operator. */
  private lazy val conformalBySql: String =
    s"""WITH ca AS ($curationAuditSql),
       |     ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
       |                 z AS (SELECT doc_id,
       |                              -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
       |                              + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
       |                              + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
       |                              + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
       |                       FROM f)
       |            SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS quality FROM z),
       |     rr AS (SELECT ql.doc_id AS doc_id, d.source AS g,
       |                   CAST(ql.quality AS DECIMAL(8,6)) AS q, ca.reason = 'kept' AS y
       |            FROM ql JOIN ca USING (doc_id) JOIN documents d USING (doc_id)),
       |     b AS (SELECT doc_id, g, q, y,
       |                  (${graft.functions.PortableHash.keyHashSql("doc_id")}) % 2 = 0 AS is_cal,
       |                  CASE WHEN y THEN CAST(CAST(1 AS DECIMAL(8,6)) - q AS DECIMAL(8,6))
       |                       ELSE q END AS a
       |           FROM rr),
       |     pv AS (SELECT g, a AS v, CAST(count(*) AS BIGINT) AS c FROM b WHERE is_cal GROUP BY 1, 2),
       |     tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_cal FROM pv GROUP BY 1),
       |     cum AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM pv),
       |     qh0 AS (SELECT cum.g AS g, min(cum.v) AS qh0
       |             FROM cum JOIN tot ON tot.g = cum.g
       |             WHERE cum.cum >= CAST(floor(CAST(90 * (tot.n_cal + 1) + 99 AS DOUBLE) / 100.0) AS BIGINT)
       |             GROUP BY 1),
       |     qh AS (SELECT tot.g AS g, tot.n_cal AS n_cal,
       |                   coalesce(qh0.qh0, CAST(1 AS DECIMAL(8,6))) AS qhat
       |            FROM tot LEFT JOIN qh0 ON qh0.g = tot.g),
       |     tf AS (SELECT b.g AS g, CAST(count(*) AS BIGINT) AS n_test,
       |                   CAST(sum(CASE WHEN b.a <= qh.qhat THEN 1 ELSE 0 END) AS BIGINT) AS cov,
       |                   CAST(sum((CASE WHEN CAST(CAST(1 AS DECIMAL(8,6)) - b.q AS DECIMAL(8,6)) <= qh.qhat THEN 1 ELSE 0 END)
       |                          + (CASE WHEN b.q <= qh.qhat THEN 1 ELSE 0 END)) AS BIGINT) AS sz
       |            FROM b JOIN qh ON qh.g = b.g WHERE NOT b.is_cal GROUP BY 1)
       |SELECT qh.g AS source, qh.n_cal AS n_cal,
       |       coalesce(tf.n_test, 0) AS n_test,
       |       CAST(qh.qhat AS DOUBLE) AS qhat,
       |       round(CAST(tf.cov AS DOUBLE) / tf.n_test, 6) AS coverage,
       |       round(CAST(tf.sz AS DOUBLE) / tf.n_test, 6) AS avg_set_size
       |FROM qh LEFT JOIN tf ON tf.g = qh.g ORDER BY source""".stripMargin

  /** Grouped Fleiss replay: the same rater CTEs with d.source riding the
    * vote-count aggregation; identical per-source HUGEINT algebra. */
  private lazy val fleissKappaBySql: String =
    s"""WITH ca AS ($curationAuditSql),
       |     ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
       |                 z AS (SELECT doc_id,
       |                              -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
       |                              + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
       |                              + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
       |                              + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
       |                       FROM f)
       |            SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
       |     kk AS (SELECT d.source AS g,
       |                   (CASE WHEN ql.keep THEN 1 ELSE 0 END
       |                  + CASE WHEN ca.reason = 'kept' THEN 1 ELSE 0 END
       |                  + CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END) AS k
       |            FROM ql JOIN ca USING (doc_id) JOIN documents d USING (doc_id)),
       |     agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |                    CAST(sum(k) AS HUGEINT) AS s1,
       |                    CAST(sum(k * (k - 1) + (3 - k) * (2 - k)) AS HUGEINT) AS a
       |             FROM kk GROUP BY g),
       |     alg AS (SELECT g, n, a,
       |                    s1 * s1 + (3 * CAST(n AS HUGEINT) - s1) * (3 * CAST(n AS HUGEINT) - s1) AS e
       |             FROM agg)
       |SELECT g AS source, n,
       |       round(CAST(a AS DOUBLE) / (CAST(n AS DOUBLE) * 6.0), 6) AS p_bar,
       |       round(CAST(e AS DOUBLE) / (9.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_e,
       |       CASE WHEN 2 * (9 * CAST(n AS HUGEINT) * n - e) = 0 THEN NULL
       |            ELSE round(CAST(a * 3 * CAST(n AS HUGEINT) - e * 2 AS DOUBLE)
       |                       / CAST(2 * (9 * CAST(n AS HUGEINT) * n - e) AS DOUBLE), 6) END AS kappa
       |FROM alg ORDER BY source""".stripMargin

  /** Per-source PAV replay: the q_isotonic_calibration stage chain with
    * the source partitioning every pool window and join. */
  private lazy val isotonicBySql: String = {
    val stages = (1 to 9).map { t =>
      s"""pl$t AS (SELECT g, pool, CAST(sum(pos) AS HUGEINT) AS ppos,
         |               CAST(sum(n) AS HUGEINT) AS pn
         |        FROM s${t - 1} GROUP BY g, pool),
         |mg$t AS (SELECT g, pool, CASE WHEN lpos IS NOT NULL AND lpos * pn > ppos * lpn
         |                          THEN lpool ELSE pool END AS np
         |        FROM (SELECT g, pool, ppos, pn,
         |                     lag(pool) OVER (PARTITION BY g ORDER BY pool) AS lpool,
         |                     lag(ppos) OVER (PARTITION BY g ORDER BY pool) AS lpos,
         |                     lag(pn) OVER (PARTITION BY g ORDER BY pool) AS lpn
         |              FROM pl$t)),
         |s$t AS (SELECT s.g, s.bin, s.n, s.pos, m.np AS pool
         |       FROM s${t - 1} s JOIN mg$t m ON s.g = m.g AND s.pool = m.pool)""".stripMargin
    }.mkString(",\n")
    raterJoinCte +
      s""",
         |b AS (SELECT g, least(CAST(floor(q * 10) AS INT), 9) AS bin, q, y FROM r),
         |g0 AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
         |              CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |       FROM b GROUP BY 1, 2),
         |s0 AS (SELECT g, bin, n, pos, bin AS pool FROM g0),
         |$stages,
         |fin AS (SELECT s.g AS g, s.bin AS bin, pl.ppos AS ppos, pl.pn AS pn
         |        FROM s9 s JOIN (SELECT g, pool, CAST(sum(pos) AS HUGEINT) AS ppos,
         |                               CAST(sum(n) AS HUGEINT) AS pn
         |                        FROM s9 GROUP BY g, pool) pl
         |          ON s.g = pl.g AND s.pool = pl.pool)
         |SELECT g0.g AS source, CAST(g0.bin AS INT) AS bin, g0.n,
         |       round(CAST(g0.sq AS DOUBLE) / g0.n, 6) AS avg_pred,
         |       round(CAST(g0.pos AS DOUBLE) / g0.n, 6) AS frac_pos,
         |       round(CAST(f.ppos AS DOUBLE) / f.pn, 6) AS frac_iso
         |FROM g0 JOIN fin f ON f.g = g0.g AND f.bin = g0.bin
         |ORDER BY source, bin""".stripMargin
  }

  /** PAV replay for `q_isotonic_calibration`: the calibration bins, then
    * 9 unrolled merge stages — 10 bins need at most 9 merges, and every
    * stage with a violation performs at least one, so stage 9 is always
    * the fixed point (asserted by construction: a violating pair whose
    * predecessor pair is sound does a genuine merge). */
  private lazy val isotonicCalibrationSql: String = {
    val stages = (1 to 9).map { t =>
      s"""pl$t AS (SELECT pool, CAST(sum(pos) AS HUGEINT) AS ppos,
         |               CAST(sum(n) AS HUGEINT) AS pn
         |        FROM s${t - 1} GROUP BY pool),
         |mg$t AS (SELECT pool, CASE WHEN lpos IS NOT NULL AND lpos * pn > ppos * lpn
         |                          THEN lpool ELSE pool END AS np
         |        FROM (SELECT pool, ppos, pn,
         |                     lag(pool) OVER (ORDER BY pool) AS lpool,
         |                     lag(ppos) OVER (ORDER BY pool) AS lpos,
         |                     lag(pn) OVER (ORDER BY pool) AS lpn
         |              FROM pl$t)),
         |s$t AS (SELECT s.bin, s.n, s.pos, m.np AS pool
         |       FROM s${t - 1} s JOIN mg$t m ON s.pool = m.pool)""".stripMargin
    }.mkString(",\n")
    raterJoinCte +
      s""",
         |b AS (SELECT least(CAST(floor(q * 10) AS INT), 9) AS bin, q, y FROM r),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
         |             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |      FROM b GROUP BY 1),
         |s0 AS (SELECT bin, n, pos, bin AS pool FROM g),
         |$stages,
         |fin AS (SELECT s.bin AS bin, pl.ppos AS ppos, pl.pn AS pn
         |        FROM s9 s JOIN (SELECT pool, CAST(sum(pos) AS HUGEINT) AS ppos,
         |                               CAST(sum(n) AS HUGEINT) AS pn
         |                        FROM s9 GROUP BY pool) pl ON s.pool = pl.pool)
         |SELECT CAST(g.bin AS INT) AS bin, g.n,
         |       round(CAST(g.sq AS DOUBLE) / g.n, 6) AS avg_pred,
         |       round(CAST(g.pos AS DOUBLE) / g.n, 6) AS frac_pos,
         |       round(CAST(f.ppos AS DOUBLE) / f.pn, 6) AS frac_iso
         |FROM g JOIN fin f ON f.bin = g.bin ORDER BY bin""".stripMargin
  }

  /** Cohen's kappa between the LR keep gate and the curation-audit kept
    * gate — both rater CTEs reuse the existing oracle SQL verbatim (the
    * [[curationAuditSql]] nested-CTE pattern); the kappa algebra is the
    * N²-scaled integer form with margin folds over the sorted cell list. */
  private lazy val cohenKappaSql: String =
    s"""WITH ca AS ($curationAuditSql),
              ql AS (WITH f AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
                          z AS (SELECT doc_id,
                                       -3.0 + 0.6 * ln(1.0 + CAST(len(t) AS DOUBLE))
                                       + 0.25 * ((CAST(length(text) AS DOUBLE) - CAST(len(t) - 1 AS DOUBLE)) / CAST(len(t) AS DOUBLE))
                                       + 1.2 * (CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE))
                                       + 2.0 * (CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / CAST(len(t) AS DOUBLE)) AS z
                                FROM f)
                     SELECT doc_id, 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep FROM z),
              r AS (SELECT CAST(ql.keep AS VARCHAR) AS x,
                           CAST(ca.reason = 'kept' AS VARCHAR) AS y
                    FROM ql JOIN ca USING (doc_id)),
              cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
              one AS (SELECT list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS HUGEINT) AS n,
                             CAST(sum(CASE WHEN x = y THEN cnt ELSE 0 END) AS HUGEINT) AS agree
                      FROM cells),
              e AS (SELECT n, agree,
                           list_sum(list_transform(
                             list_sort(list_distinct(list_concat(
                               list_transform(cs, c -> c.x), list_transform(cs, c -> c.y)))),
                             cat -> CAST(coalesce(list_sum(list_transform(
                                      list_filter(cs, c2 -> c2.x = cat), c2 -> c2.cnt)), 0) AS HUGEINT)
                                  * CAST(coalesce(list_sum(list_transform(
                                      list_filter(cs, c2 -> c2.y = cat), c2 -> c2.cnt)), 0) AS HUGEINT)))
                           AS pe
                    FROM one)
         SELECT CAST(n AS BIGINT) AS n_rows, CAST(agree AS BIGINT) AS n_agree,
                round(CASE WHEN n * n - pe <> 0
                           THEN CAST(n * agree - pe AS DOUBLE) / CAST(n * n - pe AS DOUBLE)
                           END, 6) AS kappa
         FROM e"""

  val all: Seq[Query] = Seq(
    // Cohen's kappa between the two quality raters (LR keep vs curation
    // audit kept) — chance-corrected gate agreement: can the cheap gate
    // stand in for the expensive one? Exact N²-scaled integer algebra,
    // one double division over the guarded cell fold.
    Query("q_cohen_kappa", Batch, (s, d) =>
      graft.operators.Robust.cohenKappa(raters(s, d), col("keep"), col("kept")),
      // Both rater CTEs are the existing oracles (nested-CTE reuse, the
      // fdr pattern); kappa = (N·D − Σ row·col)/(N² − Σ row·col) in HUGEINT.
      cohenKappaSql),

    // Calibration bins of the LR quality probability against the curation
    // label — over-confidence audit before the score is used as a
    // sampling weight (exact decimal per-bin means, integer rates).
    Query("q_calibration", Batch, (s, d) =>
      graft.operators.Robust.calibrationBins(raters(s, d), col("quality"), col("kept")),
      // Same rater CTEs; DECIMAL(8,6) recovers the 6-dp score exactly, the
      // per-bin mean is an exact decimal sum, rates pure integers.
      (raterJoinCte +
      """,
              b AS (SELECT least(CAST(floor(q * 10) AS INT), 9) AS bin, q, y FROM r),
              g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
                           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
                    FROM b GROUP BY 1)
         SELECT CAST(bin AS INT) AS bin, n, round(CAST(sq AS DOUBLE) / n, 6) AS avg_pred,
                round(CAST(pos AS DOUBLE) / n, 6) AS frac_pos
         FROM g ORDER BY bin""")),

    // Fleiss' kappa of the THREE-gate panel (LR keep, curation audit,
    // length gate) — the multi-rater chance-corrected agreement pairwise
    // Cohen's kappa can't see. One pass: per-doc vote count k, three
    // exact integers (N, Σk, Σ pair-agreements), DECIMAL(38,0) algebra.
    Query("q_fleiss_kappa", Batch, (s, d) =>
      graft.operators.Robust.fleissKappa(raters(s, d, "n_chars"),
        Seq(col("keep"), col("kept"), col("n_chars") >= 300)),
      // Fleiss: the three rater CTEs (LR keep + curation kept + length
      // gate), per-doc vote count, then the exact HUGEINT κ algebra.
      fleissKappaSql),

    // Split-conformal calibration of the quality gate: hash-parity
    // calibration/test split, exact ⌈(n+1)·0.9⌉-th order statistic of
    // the nonconformity scores via the two-level scan, then the
    // distribution-free coverage + set-size audit on the held-out half.
    Query("q_conformal_gate", Batch, (s, d) =>
      graft.operators.Robust.conformalGate(raters(s, d),
        col("doc_id"), col("quality"), col("kept")),
      // Conformal replay: doc-id-parity split, window rank pick of the
      // nonconformity order statistic, max()-folded scalars so the empty
      // test half still yields the operator's single row.
      conformalGateSql),

    // Streaming conformal coverage monitor: q̂ frozen from the
    // calibration half offline; the test half arrives as a stream and
    // the coverage audit maintains THREE integers (n, covered, set-size
    // sum) — trivially mergeable, batch parity asserted in-plan.
    Query("q_conformal_stream", Stream, (s, d) =>
      graft.streaming.ConformalStream.runStreamConformal(s, d),
      // Streaming coverage monitor: the batch gate replay restricted to the
      // same frozen-q̂ algebra (integer counts merge exactly under any
      // micro-batch slicing, so streamed ≡ batch — parity pinned TRUE).
      conformalStreamSql),

    // Grouped streaming coverage monitor: a SEPARATE frozen q̂ per
    // source; arriving rows join their source's q̂ through a stream-
    // static broadcast, state = three integers per source. A marginal
    // monitor can read healthy while one source under-covers.
    Query("q_conformal_stream_by_source", Stream, (s, d) =>
      graft.streaming.ConformalStream.runStreamConformalBy(s, d),
      // Grouped monitor: the Mondrian gate replay + pinned parity (per-
      // source integer counts merge exactly per segment).
      conformalStreamBySql),

    // Mondrian (group-conditional) conformal: a separate q̂ per source so
    // the coverage guarantee holds per source, not just marginally.
    Query("q_conformal_by_source", Batch, (s, d) =>
      graft.operators.Robust.conformalGateBy(raters(s, d, "source"),
        col("doc_id"), col("quality"), col("kept"), "source"),
      // Mondrian replay: source partitioning the split, the rank window,
      // and every fold; calibration-side-driven LEFT JOINs keep test-less
      // sources as (n_test = 0, NULL coverage) rows.
      conformalBySql),

    // Grouped Fleiss: is the panel's agreement uniform across sources?
    // The segment rides the one aggregation's key; unanimous sources
    // keep their row with NULL kappa.
    Query("q_fleiss_kappa_by_source", Batch, (s, d) =>
      graft.operators.Robust.fleissKappaBy(raters(s, d, "source", "n_chars"),
        Seq(col("keep"), col("kept"), col("n_chars") >= 300), "source"),
      // Grouped twins: source riding the aggregation keys / the PAV pools.
      fleissKappaBySql),

    // Per-source isotonic recalibration — each source gets its own
    // monotone fit (per-(source, bin) stats in one aggregation, per-
    // source exact-integer PAVA on the ≤ |sources|·10 collected rows).
    Query("q_isotonic_by_source", Batch, (s, d) =>
      graft.operators.Robust.isotonicCalibrationBy(raters(s, d, "source"),
        col("quality"), col("kept"), "source"),
      isotonicBySql),

    // Isotonic (PAV) recalibration of the same reliability bins — the
    // monotone remap that makes the over-confident LR score usable as a
    // sampling weight. Distributed work = the one ≤10-bin aggregation;
    // PAVA folds the collected stats with exact integer rate compares.
    Query("q_isotonic_calibration", Batch, (s, d) =>
      graft.operators.Robust.isotonicCalibration(raters(s, d), col("quality"), col("kept")),
      // Isotonic replay: the same bins, then ≤9 unrolled pool-adjacent-
      // violator merge stages (each stage: pool sums → lag compare on
      // exact integer cross-products → adopt the predecessor's pool id).
      // Any maximal adjacent-pooling order reaches the unique isotonic
      // fit, so this fixed point equals the engine's stack PAVA.
      isotonicCalibrationSql),

    // Brier score of the same pair — the one-number calibration metric
    // (exact decimal (q − y)² sums off the 6-dp score).
    Query("q_brier", Batch, (s, d) =>
      graft.operators.Robust.brierScore(raters(s, d), col("quality"), col("kept")),
      // Same rater CTEs; exact decimal (q − y)² sums, one double division.
      (raterJoinCte +
      """,
              s AS (SELECT (q - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(8,6)))
                         * (q - CAST(CASE WHEN y THEN 1 ELSE 0 END AS DECIMAL(8,6))) AS sq
                    FROM r)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                round(CAST(sum(sq) AS DOUBLE) / count(*), 6) AS brier
         FROM s""")),

    // ROC AUC of the same pair — exact via the Mann–Whitney doubled-rank
    // algebra (AUC IS U/(n⁺·n⁻)); ranking quality where calibration
    // measures probability quality.
    Query("q_auc", Batch, (s, d) =>
      graft.operators.Robust.aucScore(raters(s, d), col("quality"), col("kept")),
      // Same rater CTEs into the exact MW doubled-rank chain; AUC is one
      // double division off the exact 2·U.
      (raterJoinCte +
      """,
              pv AS (SELECT q AS v,
                            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                            CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
                     FROM r GROUP BY 1),
              rk AS (SELECT *, coalesce(sum(ca + cb) OVER (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                     FROM pv),
              a AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                           CAST(sum(CAST(ca AS HUGEINT) * (CAST(below AS HUGEINT) * 2 + ca + cb + 1)) AS HUGEINT) AS r2a,
                           CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb)) AS HUGEINT) AS tie3
                    FROM rk),
              z AS (SELECT n_a, n_b, r2a - n_a * (n_a + 1) AS u2a, tie3,
                           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
                    FROM a)
         SELECT n_a AS n_pos, n_b AS n_neg,
                round(CASE WHEN n_a > 0 AND n_b > 0
                           THEN CAST(u2a AS DOUBLE) / (2.0 * na * nb) END, 6) AS auc,
                round((CAST(u2a AS DOUBLE) / 2.0 - na * nb / 2.0)
                      / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                             - CAST(tie3 AS DOUBLE) / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
         FROM z""")),

    // Per-source ECE — which source is the gate over-confident on? Same
    // exact per-(source, bin) decimal means, per-source ≤10-bin fold.
    Query("q_ece_by_source", Batch, (s, d) =>
      graft.operators.Robust.expectedCalibrationErrorBy(raters(s, d, "source"),
        col("quality"), col("kept"), "source"),
      // Grouped twin: per-(source, bin) rounded stats, per-source fold.
      (raterJoinCte +
      """,
              b AS (SELECT g, least(CAST(floor(q * 10) AS INT), 9) AS bin, q, y FROM r),
              gr AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
                            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
                     FROM b GROUP BY 1, 2),
              gf AS (SELECT g, CAST(bin AS INT) AS bin, n,
                            round(CAST(sq AS DOUBLE) / n, 6) AS ap,
                            round(CAST(pos AS DOUBLE) / n, 6) AS fp
                     FROM gr),
              one AS (SELECT g, list_sort(list({'bin': bin, 'n': n, 'ap': ap, 'fp': fp})) AS bs,
                             CAST(sum(n) AS BIGINT) AS n_rows
                      FROM gf GROUP BY 1)
         SELECT g AS source, n_rows,
                round(list_sum(list_transform(bs, b2 ->
                  CAST(b2.n AS DOUBLE) / CAST(n_rows AS DOUBLE) * abs(b2.ap - b2.fp))), 6) AS ece
         FROM one ORDER BY source""")),

    // Per-source Cohen's kappa — is the gate agreement uniform across
    // sources? Degenerate sources keep counts with NULL kappa. The keep
    // decision thresholds the ROUNDED 6-dp probability (the q_confusion
    // spelling — the oracle's r.q is the rounded contract value).
    Query("q_cohen_kappa_by_source", Batch, (s, d) =>
      graft.operators.Robust.cohenKappaBy(raters(s, d, "source"),
        col("quality") >= 0.5, col("kept"), "source"),
      // Grouped twin of the kappa algebra: per-source sorted cell folds,
      // same HUGEINT margins; rounded-threshold keep (the r.q contract).
      (raterJoinCte +
      """,
              rr AS (SELECT g, CAST(q >= 0.5 AS VARCHAR) AS x, CAST(y AS VARCHAR) AS yv FROM r),
              cells AS (SELECT g, x, yv AS y, CAST(count(*) AS BIGINT) AS cnt
                        FROM rr GROUP BY 1, 2, 3),
              one AS (SELECT g, list_sort(list({'x': x, 'y': y, 'cnt': cnt})) AS cs,
                             CAST(sum(cnt) AS HUGEINT) AS n,
                             CAST(sum(CASE WHEN x = y THEN cnt ELSE 0 END) AS HUGEINT) AS agree
                      FROM cells GROUP BY 1),
              e AS (SELECT g, n, agree,
                           list_sum(list_transform(
                             list_sort(list_distinct(list_concat(
                               list_transform(cs, c -> c.x), list_transform(cs, c -> c.y)))),
                             cat -> CAST(coalesce(list_sum(list_transform(
                                      list_filter(cs, c2 -> c2.x = cat), c2 -> c2.cnt)), 0) AS HUGEINT)
                                  * CAST(coalesce(list_sum(list_transform(
                                      list_filter(cs, c2 -> c2.y = cat), c2 -> c2.cnt)), 0) AS HUGEINT)))
                           AS pe
                    FROM one)
         SELECT g AS source, CAST(n AS BIGINT) AS n_rows, CAST(agree AS BIGINT) AS n_agree,
                round(CASE WHEN n * n - pe <> 0
                           THEN CAST(n * agree - pe AS DOUBLE) / CAST(n * n - pe AS DOUBLE)
                           END, 6) AS kappa
         FROM e ORDER BY source""")),

    // Per-source AUC — does the gate's ranking quality hold on every
    // source, or only on one source's style? One-class sources drop.
    Query("q_auc_by_source", Batch, (s, d) =>
      graft.operators.Robust.aucScoreBy(raters(s, d, "source"),
        col("quality"), col("kept"), "source"),
      // Grouped twin: the source partitions every window and aggregate of
      // the exact MW chain; one-class sources drop via the HAVING.
      (raterJoinCte +
      """,
              pv AS (SELECT g, q AS v,
                            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                            CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS cb
                     FROM r GROUP BY 1, 2),
              rk AS (SELECT *, coalesce(sum(ca + cb) OVER (PARTITION BY g ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                     FROM pv),
              a AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
                           CAST(sum(CAST(ca AS HUGEINT) * (CAST(below AS HUGEINT) * 2 + ca + cb + 1)) AS HUGEINT) AS r2a,
                           CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb) - (ca + cb)) AS HUGEINT) AS tie3
                    FROM rk GROUP BY 1
                    HAVING sum(ca) > 0 AND sum(cb) > 0),
              z AS (SELECT g, n_a, n_b, r2a - n_a * (n_a + 1) AS u2a, tie3,
                           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
                    FROM a)
         SELECT g AS source, n_a AS n_pos, n_b AS n_neg,
                round(CAST(u2a AS DOUBLE) / (2.0 * na * nb), 6) AS auc,
                round((CAST(u2a AS DOUBLE) / 2.0 - na * nb / 2.0)
                      / sqrt(na * nb / 12.0 * ((na + nb + 1.0)
                             - CAST(tie3 AS DOUBLE) / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
         FROM z ORDER BY source""")),

    // Decile lift table of the quality score — targeting concentration
    // ("keep the top-k deciles, how many positives do I capture?");
    // discrete score-decile edges, exact integer counts, ≤10-row window.
    Query("q_lift_curve", Batch, (s, d) =>
      graft.operators.Robust.liftCurve(raters(s, d), col("quality"), col("kept")),
      // Same rater CTEs; the decile edges are the identical discrete rank
      // picks ((p·n+99)//100), bins count edges strictly below, cumulative
      // window top-bin first, one lift chain per bin.
      (raterJoinCte +
      s""",
              vals AS (SELECT CAST(q AS DOUBLE) AS v, y FROM r),
              rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
                            count(*) OVER () AS n FROM vals),
              ed AS (SELECT ${(1 to 9).map(i =>
                s"max(CASE WHEN rn = (${i * 10} * n + 99) // 100 THEN v END) AS e$i")
                .mkString(",\n                            ")}
                     FROM rk),
              b AS (SELECT ${(1 to 9).map(i =>
                s"(CASE WHEN v > e$i THEN 1 ELSE 0 END)").mkString(" + ")} AS bin, y
                    FROM vals, ed),
              c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
                    FROM b GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(pos) AS BIGINT) AS tp FROM c),
              cu AS (SELECT bin, n, pos,
                            CAST(sum(n) OVER (ORDER BY bin DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
                            CAST(sum(pos) OVER (ORDER BY bin DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
                     FROM c)
         SELECT bin, n, pos, cum_n, cum_pos,
                round(CASE WHEN tp > 0 THEN
                  CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)
                  / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)) END, 6) AS lift
         FROM cu, t ORDER BY bin DESC""")),

    // Confusion-matrix stats of the LR keep decision against the curation
    // label — the threshold-level readout next to q_auc's threshold-free
    // one (exact integer cells, guarded precision/recall/F1 chains).
    Query("q_confusion", Batch, (s, d) =>
      graft.operators.Robust.confusionStats(raters(s, d), col("quality") >= 0.5, col("kept")),
      // Same rater CTEs; exact integer confusion cells, guarded
      // precision/recall/F1 chains spelled identically.
      (raterJoinCte +
      """,
              c AS (SELECT q >= 0.5 AS p, y AS a FROM r),
              m AS (SELECT CAST(count(CASE WHEN p AND a THEN 1 END) AS BIGINT) AS tp,
                           CAST(count(CASE WHEN p AND NOT a THEN 1 END) AS BIGINT) AS fp,
                           CAST(count(CASE WHEN NOT p AND a THEN 1 END) AS BIGINT) AS fn,
                           CAST(count(CASE WHEN NOT p AND NOT a THEN 1 END) AS BIGINT) AS tn
                    FROM c),
              e AS (SELECT tp, fp, fn, tn,
                           CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS prec,
                           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS rec
                    FROM m)
         SELECT tp, fp, fn, tn,
                round(CASE WHEN tp + fp > 0 THEN prec END, 6) AS precision,
                round(CASE WHEN tp + fn > 0 THEN rec END, 6) AS recall,
                round(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND prec + rec > 0
                           THEN 2.0 * prec * rec / (prec + rec) END, 6) AS f1
         FROM e""")),

    // Expected calibration error — the one-number fold of q_calibration
    // (ascending-bin fixed double fold over the rounded bin stats).
    Query("q_ece", Batch, (s, d) =>
      graft.operators.Robust.expectedCalibrationError(raters(s, d), col("quality"), col("kept")),
      // The calibration bins folded to one number (ascending-bin order,
      // rounded bin stats — the same two-step chain the operator runs).
      (raterJoinCte +
      """,
              b AS (SELECT least(CAST(floor(q * 10) AS INT), 9) AS bin, q, y FROM r),
              g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, sum(q) AS sq,
                           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
                    FROM b GROUP BY 1),
              gf AS (SELECT CAST(bin AS INT) AS bin, n,
                            round(CAST(sq AS DOUBLE) / n, 6) AS ap,
                            round(CAST(pos AS DOUBLE) / n, 6) AS fp
                     FROM g),
              one AS (SELECT list_sort(list({'bin': bin, 'n': n, 'ap': ap, 'fp': fp})) AS bs,
                             CAST(sum(n) AS BIGINT) AS n_rows
                      FROM gf)
         SELECT n_rows,
                round(list_sum(list_transform(bs, b2 ->
                  CAST(b2.n AS DOUBLE) / CAST(n_rows AS DOUBLE) * abs(b2.ap - b2.fp))), 6) AS ece
         FROM one""")),
  )
}
